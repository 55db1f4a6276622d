"""Vectorized tokenization: content -> (doc_id, term, tf, doclen) triples.

This is the analyzer half the reference delegates to Elasticsearch (dynamic
mapping of text fields on `_bulk` ingest, ElasticWriter.java:180-184). The
analyzer itself is ours, defined deterministically:

    lowercase; terms are maximal runs of [a-z0-9_]

which is a code-aware simple analyzer (underscores kept so identifiers like
``doc_id`` stay whole). "Lowercase" is Unicode simple case mapping, one
character to one (Arrow's ``utf8_lower``, DuckDB's ``lower``): ``İ``
(U+0130) lowers to ``i``, where Python's ``str.lower`` and Java's
``toLowerCase`` give ``i`` + U+0307 and so split the token. The same rule
is used by the pandas oracle (oracle/bm25.py, which lowers with
``utf8_lower``), the DuckDB oracle SQL (regexp_split_to_array on the
complement class), the Catalyst twin ``functions.text.tokens_col`` (which
maps U+0130 to ``I`` before Spark's ``lower``) and the engine, so all four
tokenize identically.

Hot path: ``mapInArrow`` — strings NEVER convert to Python/pandas objects.
Per batch: Arrow C++ lower + regex-split + flatten + dictionary-encode,
then one Arrow hash-groupby over (row, term-code) int columns; doclens via
np.bincount. The per-batch aggregation is map-side, so the shuffle that
follows carries pre-aggregated (doc, term) counts, not raw tokens.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

TOKEN_PATTERN = r"[a-z0-9_]+"
# the same tokenization expressed as a split-regex for SQL oracles
SPLIT_PATTERN = r"[^a-z0-9_]+"

TRIPLES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("term", StringType(), False),
        StructField("tf", LongType(), False),
        StructField("doclen", LongType(), False),
    ]
)


def _tokens(content: pa.Array) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """(every token of the batch, the row each came from, each row's token
    count): Arrow C++ lower + regex split, empty pieces dropped. The count
    is the row's doclen, 0 for a row without tokens."""
    low = pc.utf8_lower(content)
    toks = pc.split_pattern_regex(low, SPLIT_PATTERN)
    parent = pc.list_parent_indices(toks)
    flat = pc.list_flatten(toks)
    mask = pc.greater(pc.binary_length(flat), 0)
    parent = pc.array_filter(parent, mask).to_numpy()
    doclen = np.bincount(parent, minlength=len(content)).astype(np.int64)
    return pc.array_filter(flat, mask), parent, doclen


def token_counts(content: pa.Array) -> np.ndarray:
    """Each row's doclen, as :func:`tokenize_arrow_batch` stamps it on the
    row's triples: equal to their sum(tf) by construction."""
    return _tokens(content)[2]


def tokenize_arrow_batch(ids: pa.Array, content: pa.Array) -> pa.Table:
    """One Arrow batch -> (doc_id, term, tf, doclen) rows, all C-side:
    regex split in Arrow, terms dictionary-encoded so the (row, term)
    grouping hashes two INT columns, never strings."""
    flat, parent, doclen = _tokens(content)
    codes = flat.dictionary_encode()
    grouped = pa.TableGroupBy(
        pa.table(
            {"p": parent, "c": pa.array(np.asarray(codes.indices))}
        ),
        ["p", "c"],
        use_threads=False,  # parallelism belongs to Spark tasks
    ).aggregate([([], "count_all")])
    p = grouped.column("p").to_numpy()
    return pa.table(
        {
            "doc_id": pc.take(ids, grouped.column("p")),
            "term": pc.take(codes.dictionary, grouped.column("c")),
            "tf": grouped.column("count_all").cast(pa.int64()),
            "doclen": pa.array(doclen[p]),
        }
    )


def tokenize_triples(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """Distributed tokenize: docs(doc_id, content) -> triples DataFrame."""
    cols = docs.select("doc_id", F.col(content_col).alias("content"))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            out = tokenize_arrow_batch(batch.column(0), batch.column(1))
            yield from out.combine_chunks().to_batches()

    return cols.mapInArrow(fn, schema=TRIPLES_SCHEMA)
