"""What the index writes leave on disk: one file per bucket dir, and a
docs table whose doclen is the doc's token count.

The lookup reads every file of a term's bucket dir, so each bucket-
partitioned write must put each bucket in exactly one task while AQE
coalesces the exchange (build.by_bucket). The docs table is written by a
map-only pass over the ingested rows, so its doclen must still equal the
sum(tf) of the doc's triples, which the postings carry and BM25 scores
with."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from excelastic_spark import sharded
from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import CORPUS_SCHEMA, synthesize_corpus
from excelastic_spark.streaming.incremental import IncrementalIndexer

CFG = EngineConfig().tiny().with_overrides(shuffle_partitions=4)
BUCKETED = ("terms", "postings", "shard_terms")


def _files_per_bucket_dir(store: IndexStore) -> dict[str, int]:
    """Every bucket dir of every committed bucket-partitioned snapshot ->
    the parquet files in it."""
    out = {}
    snap = store.snapshot()
    for table in BUCKETED:
        for path in snap.tables.get(table, []):
            for d in os.listdir(path):
                if d.startswith("bucket="):
                    files = os.listdir(os.path.join(path, d))
                    out[os.path.join(path, d)] = sum(
                        f.endswith(".parquet") for f in files
                    )
    return out


def _assert_one_file_per_bucket_dir(store: IndexStore) -> None:
    got = _files_per_bucket_dir(store)
    assert got, "no bucket dirs"
    assert {d: n for d, n in got.items() if n != 1} == {}


def _corpus(spark, name: str, n: int, seed: int):
    return synthesize_corpus(spark, n, seed=seed, partitions=2).withColumn(
        "path", F.concat(F.lit(f"{name}/"), F.col("path"))
    )


def test_one_file_per_bucket_dir(spark, tmp_path):
    store = IndexStore(str(tmp_path), "plain")
    IndexBuilder(spark, store, CFG).build(_corpus(spark, "base", 120, 1))
    _assert_one_file_per_bucket_dir(store)
    inc = IncrementalIndexer(spark, store, CFG)
    for name, seed in (("inc1", 2), ("inc2", 3)):
        inc.append_increment(_corpus(spark, name, 40, seed))
        _assert_one_file_per_bucket_dir(store)
    assert len(store.snapshot().paths("postings")) == 3
    inc.merge_segments()
    _assert_one_file_per_bucket_dir(store)

    shards = IndexStore(str(tmp_path), "sharded")
    corpus = _corpus(spark, "base", 120, 1)
    sharded.plan_shards(corpus, 2, shards, CFG)
    for s in (0, 1):
        sharded.build_shard(spark, shards, corpus, s, CFG)
    sharded.finalize(spark, shards, CFG)
    _assert_one_file_per_bucket_dir(shards)


# non-ASCII case mappings and marks where Java's lower/regex and Arrow's
# utf8proc/RE2 can disagree: dotted capital I, sharp s, the Kelvin sign,
# combining acute and diaeresis; and two contents with no token at all
TRICKY = [
    "\u0130stanbul \u0130\u0130",
    "stra\u00dfe STRASSE",
    "\u212aelvin \u212a",
    "cafe\u0301 nai\u0308ve \u00e9t\u00e9",
    "",
    "!!! --- ... \u00e9\u00e8",
    "def f(x): return x_1",
]
NO_TOKENS = {"", "!!! --- ... \u00e9\u00e8"}


def _tricky_corpus(spark, prefix: str, texts):
    return spark.createDataFrame(
        [("r", f"{prefix}/{i}", "c", "python", t) for i, t in enumerate(texts)],
        schema=CORPUS_SCHEMA,
    )


def _check_doclens(spark, store, prefixes) -> None:
    """Every doc's doclen is the sum(tf) of its triples; a doc without
    triples has doclen 0."""
    sums = store.read_table(spark, "triples").groupBy("doc_id").agg(
        F.sum("tf").alias("sum_tf")
    )
    docs = store.read_table(spark, "docs").join(sums, "doc_id", "left")
    rows = docs.select(
        "path", "doclen", F.coalesce("sum_tf", F.lit(0)).alias("sum_tf")
    ).collect()
    assert len(rows) == len(prefixes) * len(TRICKY)
    assert [r for r in rows if r["doclen"] != r["sum_tf"]] == []
    assert {r["path"] for r in rows if r["doclen"] == 0} == {
        f"{p}/{i}" for p in prefixes for i, t in enumerate(TRICKY)
        if t in NO_TOKENS
    }


def test_docs_doclen_is_sum_tf(spark, tmp_path):
    store = IndexStore(str(tmp_path), "doclen")
    IndexBuilder(spark, store, CFG).build(_tricky_corpus(spark, "b", TRICKY))
    _check_doclens(spark, store, ["b"])
    IncrementalIndexer(spark, store, CFG).append_increment(
        _tricky_corpus(spark, "a", TRICKY)
    )
    _check_doclens(spark, store, ["b", "a"])
