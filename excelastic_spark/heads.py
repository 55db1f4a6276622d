"""Impact-ordered head tier: bounded-latency approximate top-k serving.

The exact driver path is O(df) per query term — profiled at seconds for
stopword-grade terms (df ~= N) on a 5M-doc index (BENCH/BASELINE.md), and
block-max pruning is structurally useless there (every block competes).
Public practice bounds the work instead of the error bars pretending
otherwise: champion lists (Manning/Raghavan/Schuetze, IIR ch. 7.1.3),
impact-ordered indexes (Anh & Moffat, "Simplified similarity scoring using
term ranks", SIGIR 2005), and anytime score-at-a-time ranking (JASS; Lin &
Trotman, SIGIR 2015). The reference's backend has the same tier in spirit:
Elasticsearch serves top-k through Lucene dynamic pruning and gives up
exact hit counts by default (track_total_hits).

Ours: for every (term, salt) postings row keep the top
``ceil(head_size / n_salts)`` postings by BUILD-time BM25 impact (ties ->
smaller doc_id), stored in the SAME doc_id-sorted delta+varint layout as
postings rows, PLUS per-row bounds on everything excluded:

* ``excl_max_tf`` — max tf among the row's excluded postings (0 = none)
* ``excl_min_dl`` — min doclen among the row's excluded postings

BM25 impact is monotone increasing in tf and decreasing in doclen for ANY
avgdl, so ``idf * impact(excl_max_tf, excl_min_dl)`` evaluated with
QUERY-time stats upper-bounds every excluded posting's weight even after
appends shift avgdl — the certificate ``QueryEngine.search_head`` uses to
report when the returned top-k set is provably exact. Salts partition docs
by hash, so the union of per-salt heads need not equal the global top-M —
but every excluded posting is covered by its own row's bound, so the
certificate stays valid regardless of how the head mass splits.

Scale shape: building the tier is a map-only pass over the postings
table (no shuffle — each row truncates independently in its executor);
the tier itself is <= head_size postings per term PER SEGMENT, so a
search head can hold it in page cache and serve monster-term queries in
O(segments * head_size) — and ``merge_segments`` compaction restores
O(head_size).

Incremental maintenance (round 5): the tier is derived PER POSTINGS
SNAPSHOT by a pure function of that snapshot's rows plus parameters
pinned in the manifest at tier creation (``head_size`` and the selection
statistic's ``avgdl_ref``/``k1``/``b``; the per-term salt-row count comes
from the snapshot itself, not the drifting terms table). The manifest
records a postings-snapshot -> heads-snapshot mapping, so after an
``append_increment`` only the NEW segment is derived (:func:`refresh_heads`,
O(increment) not O(index)) and the result is bit-equal to a from-scratch
:func:`build_heads` run with the same pinned parameters. The exclusion
bounds never depended on avgdl (monotone in tf up / dl down for ANY
avgdl), so a pinned selection statistic stays CORRECT under avgdl drift —
only which postings land in the head is frozen, and the certificate
machinery reports exactness regardless.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from excelastic_spark import codec
from excelastic_spark.catalog import IndexStore

HEADS_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("salt", IntegerType(), False),
        StructField("n", LongType(), False),
        StructField("doc_ids", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
        StructField("doclens", BinaryType(), False),
        StructField("excl_max_tf", LongType(), False),
        StructField("excl_min_dl", LongType(), False),
        StructField("bucket", IntegerType(), False),
    ]
)

DEFAULT_HEAD_SIZE = 4096


def _head_kernel(head_size: int, avgdl: float, k1: float, b: float):
    """mapInPandas kernel: one postings row -> one head row. The loop is
    over (term, salt) posting-index ROWS (never over postings — selection
    and re-encode are vectorized numpy per row). Rows whose list already
    fits the per-salt budget pass their encoded bytes through untouched."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out: dict[str, list] = {f.name: [] for f in HEADS_SCHEMA.fields}
            # itertuples, not iterrows: the loop runs per (term, salt)
            # index ROW at vocab scale, and iterrows builds a Series per
            # row (measured several times slower for identical output)
            for row in pdf.itertuples(index=False):
                n = int(row.n)
                m = max(1, math.ceil(head_size / int(row.n_salts)))
                if n <= m:  # whole row fits: passthrough, nothing excluded
                    out["term"].append(row.term)
                    out["salt"].append(row.salt)
                    out["n"].append(n)
                    out["doc_ids"].append(bytes(row.doc_ids))
                    out["tfs"].append(bytes(row.tfs))
                    out["doclens"].append(bytes(row.doclens))
                    out["excl_max_tf"].append(0)
                    out["excl_min_dl"].append(1)
                    out["bucket"].append(row.bucket)
                    continue
                ids = codec.decode_delta_varint(bytes(row.doc_ids))
                tfs = codec.decode_varint(bytes(row.tfs))
                dls = codec.decode_varint(bytes(row.doclens))
                impacts = codec.bm25_impact(tfs, dls, avgdl, k1, b)
                # deterministic head pick: (impact DESC, doc_id ASC)
                order = np.lexsort((ids, -impacts))
                keep = np.sort(order[:m])  # ids ascending within a row
                excl = order[m:]
                out["term"].append(row.term)
                out["salt"].append(row.salt)
                out["n"].append(int(keep.size))
                out["doc_ids"].append(codec.encode_delta_varint(ids[keep]))
                out["tfs"].append(codec.encode_varint(tfs[keep]))
                out["doclens"].append(codec.encode_varint(dls[keep]))
                out["excl_max_tf"].append(int(tfs[excl].max()))
                out["excl_min_dl"].append(int(dls[excl].min()))
                out["bucket"].append(row.bucket)
            yield pd.DataFrame(out)

    return fn


def _derive_segment_heads(
    spark: SparkSession,
    postings_path: str,
    head_size: int,
    avgdl: float,
    k1: float,
    b: float,
):
    """PURE per-snapshot derivation: heads for one postings snapshot from
    that snapshot's rows + pinned parameters only. The per-salt budget
    divides head_size by the term's ACTUAL salt-row count within the
    snapshot (a groupBy over the segment's vocab-sized index rows, then a
    broadcast map-side join back) — not the terms table's planning value,
    which drifts as appends re-plan salting and would make incremental
    maintenance diverge from a from-scratch rebuild."""
    seg = spark.read.parquet(postings_path).select(
        "term", "salt", "n", "doc_ids", "tfs", "doclens", "bucket"
    )
    counts = seg.groupBy("term").agg(F.count(F.lit(1)).alias("n_salts"))
    return seg.join(F.broadcast(counts), "term").mapInPandas(
        _head_kernel(int(head_size), avgdl, k1, b), schema=HEADS_SCHEMA
    )


def _commit_heads(
    store: IndexStore,
    postings_paths: list[str],
    heads_paths: list[str],
    head_size: int,
    avgdl: float,
    k1: float,
    b: float,
) -> None:
    """One commit shape for BOTH build_heads and refresh_heads: tier table
    snapshots + the pinned selection parameters + the postings-snapshot ->
    heads-snapshot mapping, in a single atomic manifest swap. Shared so the
    incremental path can never commit a different manifest shape than a
    full build — the 'bit-equal by construction' contract depends on it."""
    writes = [
        ("heads", hp, "overwrite" if i == 0 else "append")
        for i, hp in enumerate(heads_paths)
    ]
    store.commit_snapshot(
        writes,
        stages={
            "heads": {
                "head_size": int(head_size),
                "avgdl_ref": float(avgdl),
                "k1": float(k1),
                "b": float(b),
                "postings": list(postings_paths),
                "segments": dict(zip(postings_paths, heads_paths)),
            }
        },
    )


def build_heads(
    spark: SparkSession,
    store: IndexStore,
    head_size: int = DEFAULT_HEAD_SIZE,
    avgdl_ref: float | None = None,
) -> list[str]:
    """(Re)derive the whole head tier — one map-only executor pass per
    postings snapshot (no shuffle; the salt-count join is broadcast
    map-side). The commit atomically records the per-snapshot mapping plus
    the pinned selection parameters; later appends invalidate the tier
    until :func:`refresh_heads` (incremental) or this function (full,
    re-pins avgdl_ref to current stats) runs again.

    ``avgdl_ref`` overrides the selection statistic's avgdl (defaults to
    the CURRENT stats avgdl). Selection only ranks postings within a row;
    the exclusion bounds are avgdl-free, so any pin is correct."""
    st = store.snapshot().stats_row()
    avgdl = float(avgdl_ref) if avgdl_ref is not None else float(st["avgdl"])
    k1, b = float(st["k1"]), float(st["b"])
    seg_paths = store.table_path("postings")
    heads_paths: list[str] = []
    for p in seg_paths:
        heads = _derive_segment_heads(spark, p, head_size, avgdl, k1, b)
        heads_paths.append(
            store.stage_table(heads, "heads", partition_by=["bucket"])
        )
    _commit_heads(store, seg_paths, heads_paths, head_size, avgdl, k1, b)
    return heads_paths


def refresh_heads(spark: SparkSession, store: IndexStore) -> list[str]:
    """Incrementally bring the head tier up to date with the postings
    table: derive heads ONLY for postings snapshots not yet in the
    manifest's segment mapping (O(increment) after an append), reusing the
    committed heads snapshots of unchanged segments. After a
    ``merge_segments`` compaction every postings path is new, so this
    degrades to the full rebuild it has to be. Bit-equal to
    ``build_heads(head_size=pinned, avgdl_ref=pinned)`` by construction —
    both run the same pure per-snapshot derivation. Returns the NEWLY
    derived heads snapshot paths ([] when already fresh)."""
    meta = store.manifest().get("stages", {}).get("heads")
    if not meta or "segments" not in meta:
        raise ValueError(
            "no incremental head tier to refresh — run build_heads first"
        )
    head_size = int(meta["head_size"])
    avgdl, k1, b = float(meta["avgdl_ref"]), float(meta["k1"]), float(meta["b"])
    segments = dict(meta["segments"])
    cur = store.table_path("postings")
    if list(meta.get("postings", [])) == cur:
        return []
    desired: list[str] = []
    new_paths: list[str] = []
    for p in cur:
        if p in segments:
            desired.append(segments[p])
        else:
            heads = _derive_segment_heads(spark, p, head_size, avgdl, k1, b)
            hp = store.stage_table(heads, "heads", partition_by=["bucket"])
            desired.append(hp)
            new_paths.append(hp)
    _commit_heads(store, cur, desired, head_size, avgdl, k1, b)
    return new_paths
