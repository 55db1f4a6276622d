"""Shard-parallel build (sharded.py): equivalence with the single-pass
builder and cross-process manifest safety.

The sharded build is the engine's concurrent-import analog
(/root/reference/README.md:14) re-expressed as doc-disjoint shard segments
(the ES/Lucene shard model). The contract: building the SAME corpus as N
shards — in any order, from any number of writers — yields an index whose
query results are identical (doc_ids AND float64 scores) to the plain
build's.
"""

from __future__ import annotations

import copy

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from excelastic_spark import sharded
from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import synthesize_corpus
from excelastic_spark.query import QueryEngine

N_DOCS = 1500
QUERIES = [
    (["import", "return"], "or"),
    (["def", "class", "self"], "and"),
    (["sym0005", "import"], "or"),
    (["uniq7", "return"], "or"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return synthesize_corpus(spark, N_DOCS, partitions=8).cache()


@pytest.fixture(scope="module")
def plain_store(spark, tmp_path_factory, corpus):
    cfg = EngineConfig().tiny()
    store = IndexStore(str(tmp_path_factory.mktemp("plain_wh")), "idx")
    IndexBuilder(spark, store, cfg).build(corpus)
    return store, cfg


@pytest.fixture(scope="module")
def sharded_store(spark, tmp_path_factory, corpus):
    cfg = EngineConfig().tiny()
    store = IndexStore(str(tmp_path_factory.mktemp("shard_wh")), "idx")
    plan = sharded.plan_shards(corpus, 3, store, cfg)
    # build out of order on purpose: segment order must not matter
    for s in (2, 0, 1):
        sharded.build_shard(spark, store, corpus, s, cfg)
    sharded.finalize(spark, store, cfg)
    return store, cfg, plan


def test_doc_ids_identical(spark, plain_store, sharded_store):
    ps, _ = plain_store
    ss, _, plan = sharded_store
    a = ps.read_table(spark, "docs").select("repo", "path", "commit", "doc_id")
    b = ss.read_table(spark, "docs").select(
        "repo", "path", "commit", "doc_id"
    ).withColumnRenamed("doc_id", "doc_id_sharded")
    j = a.join(b, ["repo", "path", "commit"]).toPandas()
    assert len(j) == N_DOCS == plan["n_docs"]
    assert (j["doc_id"] == j["doc_id_sharded"]).all()


def test_stats_identical(spark, plain_store, sharded_store):
    ps, _ = plain_store
    ss, _, _ = sharded_store
    a = ps.read_table(spark, "stats").collect()[0]
    b = ss.read_table(spark, "stats").collect()[0]
    assert a["n_docs"] == b["n_docs"]
    assert a["n_terms"] == b["n_terms"]
    assert a["avgdl"] == pytest.approx(b["avgdl"], rel=0, abs=0)


def test_queries_rank_identical(spark, plain_store, sharded_store):
    ps, pcfg = plain_store
    ss, scfg, _ = sharded_store
    qa = QueryEngine(spark, ps, pcfg)
    qb = QueryEngine(spark, ss, scfg)
    for terms, mode in QUERIES:
        ra = qa.search(terms, mode, 10)
        rb = qb.search(terms, mode, 10)
        np.testing.assert_array_equal(ra.doc_ids, rb.doc_ids)
        np.testing.assert_array_equal(ra.scores, rb.scores)


SHARD_PROC = r"""
import sys
sys.path.insert(0, sys.argv[4])
from excelastic_spark import sharded
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import synthesize_corpus
from excelastic_spark.session import get_spark

wh, shard, n_docs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
cfg = EngineConfig().tiny()
spark = get_spark(app_name=f"t-shard-{shard}", master="local[2]", config=cfg)
spark.sparkContext.setLogLevel("ERROR")
corpus = synthesize_corpus(spark, n_docs, partitions=4)
store = IndexStore(wh, "idx")
sharded.build_shard(spark, store, corpus, shard, cfg)
spark.stop()
"""


def test_concurrent_cross_process_writers(spark, tmp_path, corpus):
    """Two OS processes build shards of the same index SIMULTANEOUSLY —
    the catalog's file-locked manifest commits must not lose either
    writer's segments (the Iceberg optimistic-commit property)."""
    import pathlib
    import subprocess
    import sys as _sys

    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    cfg = EngineConfig().tiny()
    store = IndexStore(str(tmp_path / "wh"), "idx")
    sharded.plan_shards(corpus, 2, store, cfg)
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", SHARD_PROC, store.root.rsplit("/", 1)[0],
             str(s), str(N_DOCS), repo],
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        for s in (0, 1)
    ]
    for p in procs:
        _, err = p.communicate(timeout=420)
        assert p.returncode == 0, err.decode()[-2000:]
    sharded.finalize(spark, store, cfg)
    # both shards' segments present, nothing lost to a commit race
    docs = store.read_table(spark, "docs")
    assert docs.count() == N_DOCS
    assert docs.select("doc_id").distinct().count() == N_DOCS
    qe = QueryEngine(spark, store, cfg)
    res = qe.search(["import", "return"], "or", 5)
    assert len(res.doc_ids) == 5


def test_finalize_requires_all_shards(spark, tmp_path, corpus):
    cfg = EngineConfig().tiny()
    store = IndexStore(str(tmp_path / "wh"), "idx")
    sharded.plan_shards(corpus, 2, store, cfg)
    sharded.build_shard(spark, store, corpus, 0, cfg)
    with pytest.raises(RuntimeError, match="shards not built"):
        sharded.finalize(spark, store, cfg)


def test_drifted_shard_commits_nothing(spark, tmp_path, corpus):
    """Corpus drift between shard-plan and shard-build aborts BEFORE any
    segment becomes visible (staged-then-atomic publish): the manifest
    must be unchanged after the failure, so a corrected retry can't
    double-append. Also exercises the PER-BUCKET comparison: with one
    shard the doc total is preserved when a key change moves a doc
    between buckets, so only per-bucket counts catch it."""
    cfg = EngineConfig().tiny()
    store = IndexStore(str(tmp_path / "wh"), "idx")
    sharded.plan_shards(corpus, 1, store, cfg)
    # mutate one doc's key (path) — total count identical, buckets shift
    drifted = corpus.withColumn(
        "path",
        F.when(F.col("path") == corpus.select("path").first()[0],
               F.lit("totally/else.py")).otherwise(F.col("path")),
    )
    manifest_before = store.manifest()
    with pytest.raises(RuntimeError, match="drifted"):
        sharded.build_shard(spark, store, drifted, 0, cfg)
    after = store.manifest()
    assert after["tables"] == manifest_before["tables"]
    assert "shard_0" not in after["stages"]


def test_replan_with_new_layout_invalidates_shards(spark, tmp_path, corpus):
    """The plan fingerprint carries the layout key: re-planning with
    different layout knobs must NOT let shard stage entries committed
    under the old layout satisfy the new plan (stale-layout resume)."""
    cfg_a = EngineConfig().tiny()
    store = IndexStore(str(tmp_path / "wh"), "idx")
    sharded.plan_shards(corpus, 1, store, cfg_a)
    sharded.build_shard(spark, store, corpus, 0, cfg_a)
    assert sharded.build_shard(spark, store, corpus, 0, cfg_a)["skipped"]
    cfg_b = cfg_a.with_overrides(n_buckets=cfg_a.n_buckets * 2)
    plan_b = sharded.plan_shards(corpus, 1, store, cfg_b)
    st = store.manifest()["stages"]["shard_0"]
    assert st["fingerprint"] != plan_b["fingerprint"]  # must rebuild


def test_every_stats_commit_carries_its_totals(spark, tmp_path, monkeypatch):
    """Every manifest a build, or a 2-shard build plus finalize, writes
    that names a stats table also holds the running totals of the same
    n_docs: no commit publishes collection stats that an append's totals
    do not match."""
    written: list[dict] = []
    orig = IndexStore._commit_manifest

    def record(self, m):
        written.append(copy.deepcopy(m))
        orig(self, m)

    monkeypatch.setattr(IndexStore, "_commit_manifest", record)
    cfg = EngineConfig().tiny()
    small = synthesize_corpus(spark, 200, partitions=2)
    IndexBuilder(spark, IndexStore(str(tmp_path), "plain"), cfg).build(small)
    shards = IndexStore(str(tmp_path), "shards")
    sharded.plan_shards(small, 2, shards, cfg)
    for s in (0, 1):
        sharded.build_shard(spark, shards, small, s, cfg)
    sharded.finalize(spark, shards, cfg)

    with_stats = [m for m in written if "stats" in m["tables"]]
    assert len(with_stats) >= 2
    for m in with_stats:
        stats = pq.read_table(m["tables"]["stats"]).to_pylist()[0]
        assert m["stages"]["totals"]["n_docs"] == stats["n_docs"] == 200
