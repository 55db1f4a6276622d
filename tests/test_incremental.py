"""Incremental append + segment merge + streaming ingest: after any
sequence of appends (and after merge) queries must be rank-identical to a
from-scratch oracle over the full corpus."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import synthesize_corpus
from excelastic_spark.oracle.bm25 import Bm25Oracle
from excelastic_spark.query import QueryEngine
from excelastic_spark.streaming.incremental import IncrementalIndexer

CFG = EngineConfig().tiny().with_overrides(shuffle_partitions=4)
QS = [
    (["import", "return"], "or", 10),
    (["def", "class"], "and", 10),
    (["import", "sym0100"], "or", 10),
]


def _oracle_for(spark, store):
    pdf = (
        store.read_table(spark, "ingested")
        .select("doc_id", "content")
        .toPandas()
    )
    return Bm25Oracle(pdf)


def _assert_matches_oracle(spark, store):
    qe = QueryEngine(spark, store, CFG)
    oracle = _oracle_for(spark, store)
    st = qe.pin()
    assert st.n_docs == oracle.n_docs
    assert st.avgdl == oracle.avgdl
    for terms, mode, k in QS:
        got = qe.search(terms, mode, k).to_pandas()
        exp = oracle.search(terms, mode, k)
        assert list(got["doc_id"]) == list(exp["doc_id"]), (terms, mode)
        assert np.array_equal(
            got["score"].to_numpy(), exp["score"].to_numpy()
        ), (terms, mode)


def test_append_then_merge(spark, tmp_path):
    store = IndexStore(str(tmp_path), "inc")
    base = synthesize_corpus(spark, 100, partitions=2)
    IndexBuilder(spark, store, CFG).build(base)
    inc = IncrementalIndexer(spark, store, CFG)

    # increment with DIFFERENT paths (seed offset avoids key collisions)
    more = synthesize_corpus(spark, 60, partitions=2, seed=77).withColumn(
        "path", F.concat(F.lit("inc/"), F.col("path"))
    )
    inc.append_increment(more)
    docs = store.read_table(spark, "docs")
    assert docs.count() == 160
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    assert sorted(ids) == list(range(160))  # ids stay dense across appends
    # postings now have multiple segments; queries still exact
    _assert_matches_oracle(spark, store)

    # merge compacts segments; results unchanged
    inc.merge_segments()
    _assert_matches_oracle(spark, store)
    # after merge the hot terms are re-salted in one segment
    postings = store.read_table(spark, "postings")
    assert postings.filter(F.col("term") == "import").count() >= 1


def test_streaming_ingest(spark, tmp_path):
    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    store = IndexStore(str(tmp_path / "wh"), "stream")
    synthesize_corpus(spark, 80, partitions=2).write.mode("append").parquet(indir)

    inc = IncrementalIndexer(spark, store, CFG)
    q = inc.stream_from_directory(indir, ckpt, trigger_once=True)
    q.awaitTermination(300)
    assert store.read_table(spark, "docs").count() == 80
    # an increment that CREATED the index persists its layout atomically
    # with the data, so later sessions recover bucket/salt/block params
    assert store.load_config() == CFG.layout_dict()
    _assert_matches_oracle(spark, store)

    # second batch of files: exactly-once (old files not reprocessed)
    synthesize_corpus(spark, 40, partitions=1, seed=99).withColumn(
        "path", F.concat(F.lit("b1/"), F.col("path"))
    ).write.mode("append").parquet(indir)
    q2 = inc.stream_from_directory(indir, ckpt, trigger_once=True)
    q2.awaitTermination(300)
    assert store.read_table(spark, "docs").count() == 120
    _assert_matches_oracle(spark, store)

    # -- idempotent replay: foreachBatch is at-least-once; a crash between
    # the manifest commit and the streaming-checkpoint commit re-offers the
    # same batch_id on restart. The sink must skip it (the batch_id was
    # recorded inside append_increment's atomic manifest swap), so docs /
    # n_docs / total_tf do not double-count.
    import os

    st = store.manifest()["stages"]["stream"]
    assert st["fingerprint"] == os.path.abspath(ckpt)
    last = st["last_batch_id"]
    totals_before = store.manifest()["stages"]["totals"]
    replay_df = spark.read.parquet(indir)
    process = inc.make_stream_processor(ckpt)
    process(replay_df, last)  # replayed batch -> skipped
    assert store.read_table(spark, "docs").count() == 120
    assert store.manifest()["stages"]["totals"] == totals_before
    # a genuinely NEW batch id still applies (the guard is <=, not ==)
    assert not inc.stream_batch_applied(os.path.abspath(ckpt), last + 1)
    # and a different checkpoint is a different stream: batch 0 of a fresh
    # checkpoint must not be confused with this stream's committed batch 0
    assert not inc.stream_batch_applied(str(tmp_path / "other_ckpt"), 0)


def _drop_table_from_manifest(store, table):
    with store._commit_lock():
        m = store.manifest()
        m["tables"].pop(table, None)
        store._commit_manifest(m)


def test_append_is_o_increment(spark, tmp_path):
    """The appender must never read the existing triples/docs/postings:
    drop them from the manifest and append — only paths it actually reads
    (terms, stats via totals) remain. Queries still match the full-corpus
    oracle, proving the merged terms/stats are exact."""
    store = IndexStore(str(tmp_path), "oinc")
    IndexBuilder(spark, store, CFG).build(synthesize_corpus(spark, 100, partitions=2))
    inc = IncrementalIndexer(spark, store, CFG)

    # simulate the 100 TB situation: the existing bulk tables are too big
    # to rescan — make any read of them an error
    _drop_table_from_manifest(store, "triples")
    _drop_table_from_manifest(store, "docs")
    more = synthesize_corpus(spark, 50, partitions=2, seed=5).withColumn(
        "path", F.concat(F.lit("inc/"), F.col("path"))
    )
    inc.append_increment(more)

    # stats advanced exactly (running totals, no rescan)
    st = store.read_table(spark, "stats").collect()[0]
    assert st["n_docs"] == 150
    # terms table df equals a fresh aggregation over all triples
    # (rebuild the triples view from the two ingested segments)
    from excelastic_spark.tokenizer import tokenize_triples

    fresh = (
        tokenize_triples(store.read_table(spark, "ingested"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .toPandas()
        .set_index("term")["df"]
    )
    got = (
        store.read_table(spark, "terms")
        .select("term", "df")
        .toPandas()
        .set_index("term")["df"]
    )
    assert got.sort_index().equals(fresh.sort_index())
    _assert_matches_oracle(spark, store)


def test_merge_reads_only_postings(spark, tmp_path):
    """Segment merge is O(postings): it must succeed with the triples table
    gone, compact to one row per (term, salt), and leave query results
    bit-identical."""
    store = IndexStore(str(tmp_path), "mseg")
    IndexBuilder(spark, store, CFG).build(synthesize_corpus(spark, 100, partitions=2))
    inc = IncrementalIndexer(spark, store, CFG)
    for seed in (7, 8):
        more = synthesize_corpus(spark, 40, partitions=1, seed=seed).withColumn(
            "path", F.concat(F.lit(f"s{seed}/"), F.col("path"))
        )
        inc.append_increment(more)

    qe = QueryEngine(spark, store, CFG)
    before = {
        (tuple(t), m): qe.search(t, m, k).to_pandas() for t, m, k in QS
    }
    multi = (
        store.read_table(spark, "postings")
        .groupBy("term", "salt")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert multi > 0  # appends really did create multi-segment terms

    _drop_table_from_manifest(store, "triples")
    inc.merge_segments()

    compact = (
        store.read_table(spark, "postings")
        .groupBy("term", "salt")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert compact == 0  # one row per (term, salt) after merge
    qe2 = QueryEngine(spark, store, CFG)
    for (t, m), exp in before.items():
        got = qe2.search(list(t), m, 10).to_pandas()
        assert list(got["doc_id"]) == list(exp["doc_id"])
        assert np.array_equal(got["score"].to_numpy(), exp["score"].to_numpy())


def test_append_pre_ingested_disjointness_guard(spark, tmp_path):
    store = IndexStore(str(tmp_path), "pi")
    corpus = synthesize_corpus(spark, 60, partitions=2)
    from excelastic_spark.corpus import ingest_corpus

    ingested = ingest_corpus(corpus)
    first = ingested.filter(F.col("doc_id") < 40)
    rest = ingested.filter(F.col("doc_id") >= 40)
    IndexBuilder(spark, store, CFG).build(first, pre_ingested=True)
    inc = IncrementalIndexer(spark, store, CFG)
    inc.append_increment(rest, pre_ingested=True)
    assert store.read_table(spark, "docs").count() == 60
    _assert_matches_oracle(spark, store)
    # overlapping ids must be rejected BEFORE any segment write
    with pytest.raises(ValueError):
        inc.append_increment(
            ingested.filter(F.col("doc_id") < 5), pre_ingested=True
        )
    assert store.read_table(spark, "docs").count() == 60  # nothing appended
    # an index without running totals (an older layout) refuses appends
    # rather than assign ids from 0 that collide with its own
    m = store.manifest()
    del m["stages"]["totals"]
    store._commit_manifest(m)
    with pytest.raises(ValueError, match="running totals"):
        inc.append_increment(synthesize_corpus(spark, 5, seed=9, partitions=1))
    assert store.read_table(spark, "docs").count() == 60


def test_append_crash_before_commit_is_retryable(spark, tmp_path, monkeypatch):
    """A crash anywhere inside append_increment (all writes are staged; the
    single commit_snapshot publishes them) must leave the index EXACTLY as
    before — stats/terms/totals unchanged — and a plain retry of the same
    append must succeed and be oracle-exact. This is the failure VERDICT/
    ADVICE r2 flagged: the old multi-commit ordering could persist advanced
    collection stats for docs whose postings never landed."""
    from excelastic_spark.catalog import IndexStore as Store

    store = IndexStore(str(tmp_path), "crash")
    IndexBuilder(spark, store, CFG).build(synthesize_corpus(spark, 60, partitions=2))
    stats_before = store.read_table(spark, "stats").collect()[0].asDict()
    terms_before = (
        store.read_table(spark, "terms").select("term", "df").toPandas()
        .sort_values("term").reset_index(drop=True)
    )
    inc = IncrementalIndexer(spark, store, CFG)
    more = synthesize_corpus(spark, 40, partitions=2, seed=5).withColumn(
        "path", F.concat(F.lit("inc/"), F.col("path"))
    )

    orig = Store.commit_snapshot

    def boom(self, writes, stages=None, config=None):
        raise RuntimeError("injected crash before the atomic publish")

    monkeypatch.setattr(Store, "commit_snapshot", boom)
    with pytest.raises(RuntimeError):
        inc.append_increment(more)
    monkeypatch.setattr(Store, "commit_snapshot", orig)

    # nothing published: stats, terms, docs identical to pre-append state
    assert store.read_table(spark, "docs").count() == 60
    assert store.read_table(spark, "stats").collect()[0].asDict() == stats_before
    terms_after = (
        store.read_table(spark, "terms").select("term", "df").toPandas()
        .sort_values("term").reset_index(drop=True)
    )
    assert terms_after.equals(terms_before)

    # orphan staged dirs are reclaimable and harmless — but the default
    # grace period protects dirs young enough to be a concurrent append's
    # in-flight staging (ADVICE r3: vacuum during an in-flight append must
    # not delete paths the append is about to publish)
    assert store.vacuum() == []  # fresh orphans are within the grace window
    removed = store.vacuum(grace_sec=0)  # offline maintenance: reclaim now
    assert removed  # the crashed attempt left staged snapshots behind
    _assert_matches_oracle(spark, store)

    # the SAME append retries cleanly (totals never advanced)
    inc.append_increment(more)
    assert store.read_table(spark, "docs").count() == 100
    assert store.read_table(spark, "stats").collect()[0]["n_docs"] == 100
    _assert_matches_oracle(spark, store)


def test_cli_stream_subcommand(spark, tmp_path):
    """`index.py stream` drains a drop directory exactly once per file
    (availableNow trigger + streaming checkpoint), across separate CLI
    invocations — the reference's continuous-upload journey as a batch
    drain (SURVEY §2A A20 / §2B B11)."""
    import json as _json
    import pathlib
    import subprocess
    import sys as _sys

    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    indir, ckpt, wh = (str(tmp_path / d) for d in ("in", "ckpt", "wh"))
    synthesize_corpus(spark, 60, partitions=2).write.mode("append").parquet(indir)

    def run_stream():
        out = subprocess.run(
            [_sys.executable, "index.py", "--warehouse", wh, "--name", "s",
             "--master", "local[2]", "stream", "--input", indir,
             "--checkpoint", ckpt],
            capture_output=True, text=True, cwd=repo, timeout=420,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return _json.loads(out.stdout.strip().splitlines()[-1])

    assert run_stream()["n_docs"] == 60
    # more files land; a second drain appends ONLY the new ones
    synthesize_corpus(spark, 30, partitions=1, seed=7).withColumn(
        "path", F.concat(F.lit("later/"), F.col("path"))
    ).write.mode("append").parquet(indir)
    assert run_stream()["n_docs"] == 90

    store = IndexStore(wh, "s")
    assert store.read_table(spark, "docs").count() == 90
    _assert_matches_oracle(spark, store)


def test_append_validates_increment(spark, tmp_path):
    """The append path runs the same fail-fast dry-run as the batch build:
    null key/content rows and WITHIN-increment duplicate keys abort before
    anything is staged (cross-append duplicate keys stay allowed — the
    reference appends to ES via _bulk with auto-generated ids, which
    duplicates rows on re-import too)."""
    from excelastic_spark.corpus import ParserException

    store = IndexStore(str(tmp_path / "wh"), "idx")
    base = synthesize_corpus(spark, 80, partitions=2)
    IndexBuilder(spark, store, CFG).build(base)
    inc = synthesize_corpus(spark, 100, partitions=2).filter(
        "path > 'src/m'"
    ).limit(10)
    ix = IncrementalIndexer(spark, store, CFG)
    before = store.manifest()["tables"]["postings"]

    with pytest.raises(ParserException, match="null"):
        ix.append_increment(inc.withColumn("content", F.lit(None).cast("string")))
    with pytest.raises(ParserException, match="duplicate"):
        ix.append_increment(inc.unionByName(inc.limit(3)))
    # nothing was committed by either failed attempt
    assert store.manifest()["tables"]["postings"] == before


def test_concurrent_appends_serialize_without_id_collision(spark, tmp_path):
    """Two appends racing from different threads (the web upload server /
    CLI scenario): the store writer_lock serializes them, so doc_ids stay
    globally unique and the running totals account for BOTH increments."""
    import threading

    store = IndexStore(str(tmp_path / "wh"), "idx")
    base = synthesize_corpus(spark, 60, partitions=2)
    IndexBuilder(spark, store, CFG).build(base)
    # two disjoint increments (distinct keys vs base and each other)
    big = synthesize_corpus(spark, 160, partitions=2)
    inc1 = big.subtract(synthesize_corpus(spark, 110, partitions=2))
    inc2 = synthesize_corpus(spark, 110, partitions=2).subtract(
        synthesize_corpus(spark, 60, partitions=2)
    )
    n1, n2 = inc1.count(), inc2.count()
    assert n1 == 50 and n2 == 50
    errs: list = []

    def do(inc):
        try:
            IncrementalIndexer(spark, store, CFG).append_increment(inc)
        except Exception as e:  # surface in the main thread
            errs.append(e)

    ts = [threading.Thread(target=do, args=(i,)) for i in (inc1, inc2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    docs = store.read_table(spark, "docs")
    total = docs.count()
    distinct_ids = docs.select("doc_id").distinct().count()
    assert total == 60 + n1 + n2
    assert distinct_ids == total  # no colliding doc_ids
    tot = store.manifest()["stages"]["totals"]
    assert int(tot["n_docs"]) == total
    assert int(tot["max_doc_id"]) == total - 1


def test_empty_append_changes_no_answer(spark, tmp_path):
    """An empty increment commits nothing: the manifest (segment lists,
    running totals, the stats row) stays as it was, and every answer is
    bit-identical."""
    from excelastic_spark.corpus import CORPUS_SCHEMA

    store = IndexStore(str(tmp_path), "idx")
    IndexBuilder(spark, store, CFG).build(
        synthesize_corpus(spark, 80, partitions=2)
    )

    def state():
        qe = QueryEngine(spark, store, CFG)
        answers = []
        for terms, mode, k in QS:
            res = qe.search(terms, mode, k)
            answers.append((list(res.doc_ids), res.scores.tolist()))
        tot = store.manifest()["stages"]["totals"]
        return ({k: tot[k] for k in ("n_docs", "total_tf", "max_doc_id")},
                store.snapshot().stats_row(), answers)

    before = state()
    manifest = store.manifest()
    rec = IncrementalIndexer(spark, store, CFG).append_increment(
        spark.createDataFrame([], CORPUS_SCHEMA)
    )
    assert (rec["n_new_docs"], rec["new_tokens"]) == (0, 0)
    assert store.manifest() == manifest
    assert state() == before
    assert before[0]["n_docs"] == 80
    _assert_matches_oracle(spark, store)
