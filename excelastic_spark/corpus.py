"""Corpus synthesis + ingest.

Synthesizer is the analog of the reference's generateMonsterCSV load-test
generator (/root/reference/src/test/java/com/codingchili/TestParser.java:79-115):
deterministic, seeded, code-like content with Zipf term skew so ``import`` /
``return`` are genuinely high-df (exercises salting). Schema per
BASELINE.json:input_hint: (repo, path, commit, lang, content).

Ingest assigns a dense deterministic ``doc_id`` WITHOUT a single-partition
window: data-derived hash buckets + per-bucket offsets + within-bucket
row_number (scales to 10^12 rows; the offsets table is one tiny collect of
n_buckets rows; see id_bucket_expr for why the buckets must be data-derived
and not partition ids), and stamps per-row ``sha256(content)`` for the
ingest invariant. The fail-fast validation before any table write — the
analog of the reference's ``initialize()`` dry-run parse
(ExcelParser.java:90-102, README.md:15) — is
``build.validate_and_fingerprint``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

CORPUS_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

LANGS = ["python", "java", "go", "js"]
_EXT = {"python": "py", "java": "java", "go": "go", "js": "js"}

# code-like vocabulary; Zipf rank order puts the classic hot terms first so
# df('import'), df('return') are the skewed keys the north rule calls out.
_VOCAB_HEAD = [
    "import", "return", "def", "class", "self", "if", "else", "for",
    "while", "int", "str", "none", "true", "false", "try", "except",
    "public", "static", "void", "func", "var", "const", "let", "new",
]
_VOCAB = _VOCAB_HEAD + [f"sym{i:04d}" for i in range(2000 - len(_VOCAB_HEAD))]
_PUNCT = ["(", ")", ":", ";", " = ", ".", ", ", " { ", " } ", "\n    ", "\n"]


class ParserException(Exception):
    """Analog of the reference's ParserException
    (model/ParserException.java:9-21): raised by the validation dry-run
    before any index mutation."""


def _doc_tokens(rng: np.random.Generator, i: int) -> list[str]:
    n = int(rng.integers(20, 401))
    # Zipf-ish skew via zipf distribution clipped to vocab
    ranks = np.minimum(rng.zipf(1.3, size=n) - 1, len(_VOCAB) - 1)
    toks = [_VOCAB[r] for r in ranks]
    toks.append(f"uniq{i}")  # df=1 term per doc
    return toks


def _render(rng: np.random.Generator, toks: list[str]) -> str:
    # sprinkle code punctuation between tokens so tokenization is non-trivial
    seps = rng.integers(0, len(_PUNCT), size=len(toks))
    parts: list[str] = []
    for t, s in zip(toks, seps):
        parts.append(t)
        parts.append(_PUNCT[int(s)] if int(s) % 3 == 0 else " ")
    return "".join(parts)


def _synth_batch(ids: np.ndarray, seed: int) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        rng = np.random.default_rng(seed * 1_000_003 + i)
        lang = LANGS[i % len(LANGS)]
        rows.append(
            {
                "repo": f"org{i % 7}/repo{i % 23}",
                "path": f"src/pkg{i % 11}/mod{i}.{_EXT[lang]}",
                "commit": hashlib.sha1(f"commit{i}".encode()).hexdigest(),
                "lang": lang,
                "content": _render(rng, _doc_tokens(rng, i)),
            }
        )
    return pd.DataFrame(rows)


def synthesize_corpus(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: content depends only on (seed, i),
    never on partitioning, so any cluster size generates identical data."""
    parts = partitions or max(4, n_docs // 25_000)
    base = spark.range(0, n_docs, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _synth_batch(pdf["id"].to_numpy(), seed)

    return base.mapInPandas(gen, schema=CORPUS_SCHEMA)


# -------------------------------------------------------------------------
# ingest


ID_BUCKETS = 64


def id_bucket_expr(partitions: int = ID_BUCKETS):
    """DATA-derived id bucket: identical on any cluster size, any
    partitioning, AQE on or off (a partition-id-based scheme would not be:
    AQE may coalesce passes differently)."""
    return F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(partitions)).cast(
        "int"
    )


def ingest_corpus(
    corpus: DataFrame,
    id_partitions: int = ID_BUCKETS,
    bucket_counts: dict[int, int] | None = None,
    first_id: int = 0,
) -> DataFrame:
    """Assign a dense deterministic int64 doc_id and stamp sha256(content)
    (the per-row invariant from BASELINE.json:input_hint).

    doc_id = first_id + offset[bucket] + row_number() within the bucket
    ordered by key (id_bucket_expr; offsets are cumulative bucket counts,
    which the caller's validation pass supplies): first_id..first_id+n-1,
    with no single-partition global window, so this holds at 10^12 rows.
    The offset map has an entry for every bucket, so an empty corpus does
    not build an empty map (whose VOID key type Spark rejects)."""
    with_b = corpus.withColumn("_bucket", id_bucket_expr(id_partitions))
    if bucket_counts is None:
        rows = with_b.groupBy("_bucket").count().collect()
        bucket_counts = {row["_bucket"]: row["count"] for row in rows}
    offsets, acc = [], first_id
    for b in range(id_partitions):
        offsets += [F.lit(b), F.lit(acc).cast(LongType())]
        acc += bucket_counts.get(b, 0)
    w = Window.partitionBy("_bucket").orderBy("repo", "path", "commit")
    return with_b.withColumn(
        "doc_id",
        (F.row_number().over(w) - 1 + F.create_map(*offsets)[F.col("_bucket")])
        .cast(LongType()),
    ).drop("_bucket").withColumn("sha256", F.sha2(F.col("content"), 256))


def documents_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver-provided documents.parquet
    (doc_id, text, lang, source, n_chars — TESTDATA.md) to the engine's doc
    shape, keeping its doc_id (FIXTURES.md §5 mapping)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.col("doc_id").cast(LongType()).alias("doc_id"),
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("HEAD").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("sha256"),
    )
