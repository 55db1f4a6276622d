"""Decoded-postings LRU + pinned-snapshot reads.

Contract:
* repeat lookups serve from the cache with BIT-identical results to a
  fresh engine (RawPostings are immutable; scorers never write in place);
* the cache is capacity-bounded (decoded bytes) — evictions change
  nothing but latency;
* every query pins one committed index version (QueryEngine.pin) and
  reads only through it: a commit landing mid-query changes nothing in
  that query's answer, and the NEXT query serves the new version, bit-
  identical to a freshly constructed engine (stats, caches and layout all
  belong to the pinned version);
* vacuum keeps the dirs a replaced version references for its grace
  window after the replacing commit, so a lazily executing distributed
  plan survives a merge + vacuum.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import synthesize_corpus
from excelastic_spark.query import QueryEngine, SnapshotState

QUERIES = [
    (["import", "return"], "or"),
    (["def", "class", "self"], "and"),
    (["import", "sym0100"], "or"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_qcache"))
    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=8)
    store = IndexStore(wh, "qc_idx")
    IndexBuilder(spark, store, cfg).build(
        synthesize_corpus(spark, 250, partitions=4)
    )
    return spark, store, cfg


def test_cached_repeat_is_bit_identical(built):
    spark, store, cfg = built
    warm = QueryEngine(spark, store, cfg)
    for terms, mode in QUERIES:
        first = warm.search(terms, mode, k=10)
        second = warm.search(terms, mode, k=10)  # served from cache
        fresh = QueryEngine(spark, store, cfg).search(terms, mode, k=10)
        assert np.array_equal(first.doc_ids, second.doc_ids)
        assert np.array_equal(first.scores, second.scores)
        assert np.array_equal(first.doc_ids, fresh.doc_ids)
        assert np.array_equal(first.scores, fresh.scores)
    # the repeat actually hit the cache
    assert len(warm.pin().raw_cache) > 0


def test_tiny_cache_evicts_but_stays_correct(built):
    spark, store, cfg = built
    qe = QueryEngine(spark, store, cfg, cache_mb=0.0001)  # ~100 bytes
    for terms, mode in QUERIES:
        a = qe.search(terms, mode, k=10)
        b = qe.search(terms, mode, k=10)
        assert np.array_equal(a.doc_ids, b.doc_ids)
        assert np.array_equal(a.scores, b.scores)
    st = qe.pin()
    assert st.cache_bytes <= st.cache_cap


def test_append_invalidates_cache_and_refreshes_stats(built):
    spark, store, cfg = built
    from excelastic_spark.streaming.incremental import IncrementalIndexer

    long_lived = QueryEngine(spark, store, cfg)
    pre = long_lived.search(["import", "return"], "or", k=10)  # warm cache
    assert len(long_lived.pin().raw_cache) > 0

    more = synthesize_corpus(spark, 60, partitions=1, seed=321).withColumn(
        "path", F.concat(F.lit("qcinc/"), F.col("path"))
    )
    IncrementalIndexer(spark, store, cfg).append_increment(more)

    post = long_lived.search(["import", "return"], "or", k=10)
    fresh = QueryEngine(spark, store, cfg).search(
        ["import", "return"], "or", k=10
    )
    assert np.array_equal(post.doc_ids, fresh.doc_ids)
    assert np.array_equal(post.scores, fresh.scores)
    # stats moved (n_docs grew), so post-append scores differ from pre
    assert long_lived.pin().n_docs == 310
    assert not (
        np.array_equal(pre.doc_ids, post.doc_ids)
        and np.array_equal(pre.scores, post.scores)
    )


def test_sorted_memo_reused_and_bit_identical(built):
    """sorted_postings memoizes the salt-merged TermPostings on the
    cached RawPostings: the second sorted-path query must reuse the SAME
    object (no re-argsort) and the memo must be charged to the LRU byte
    budget; forced sorted-path results stay bit-identical to a fresh
    engine's."""
    spark, store, cfg = built
    qe = QueryEngine(spark, store, cfg)
    st = qe.pin()
    terms = ["def", "class", "self"]
    a = qe.search(terms, "and", k=10, algo="exhaustive")  # sorted path
    memos = {
        t: st.raw_cache[t][0].sorted_tp
        for t in terms
        if t in st.raw_cache
    }
    assert memos and all(tp is not None for tp in memos.values())
    bytes_after_memo = st.cache_bytes
    b = qe.search(terms, "and", k=10, algo="exhaustive")
    for t, tp in memos.items():
        assert st.raw_cache[t][0].sorted_tp is tp  # reused, not rebuilt
    assert st.cache_bytes == bytes_after_memo  # charged exactly once
    fresh = QueryEngine(spark, store, cfg).search(
        terms, "and", k=10, algo="exhaustive"
    )
    assert np.array_equal(a.doc_ids, b.doc_ids)
    assert np.array_equal(a.scores, b.scores)
    assert np.array_equal(a.doc_ids, fresh.doc_ids)
    assert np.array_equal(a.scores, fresh.scores)
    # the memo participates in accounting: entries charge > raw arrays
    for t in memos:
        raw, nb = st.raw_cache[t]
        assert nb > int(raw.doc_ids.nbytes + raw.impacts.nbytes)


def test_engine_on_unbuilt_index_raises_clear_error(spark, tmp_path):
    """Constructing a QueryEngine before any build must fail with the
    clear "table 'stats' not committed" KeyError at construction — not a
    deferred AttributeError on the first query."""
    store = IndexStore(str(tmp_path / "wh_empty"), "never_built")
    with pytest.raises(KeyError, match="stats"):
        QueryEngine(spark, store, EngineConfig().tiny())


def test_concurrent_memo_build_charges_once(built):
    """Two workers racing sorted_postings on the same cold cached term:
    exactly one memo survives and the LRU budget is charged exactly once
    (a double charge would permanently shrink effective cache capacity)."""
    import threading

    spark, store, cfg = built
    st = QueryEngine(spark, store, cfg).pin()
    terms = ["import", "return"]
    raws = st.lookup_raw(sorted(terms))  # seed the cache, no memos yet
    before = st.cache_bytes
    barrier = threading.Barrier(2)
    tps: list = [None, None]

    def build(i: int) -> None:
        barrier.wait()
        tps[i] = [st.sorted_postings(r) for r in raws.values()]

    workers = [threading.Thread(target=build, args=(i,)) for i in range(2)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    # both workers hold the SAME TermPostings objects (one winner)
    for a, b in zip(tps[0], tps[1]):
        assert a is b
    expected_extra = sum(
        int(tp.doc_ids.nbytes + tp.weights.nbytes
            + tp.block_last.nbytes + tp.block_ub.nbytes)
        for tp in tps[0]
    )
    assert st.cache_bytes == before + expected_extra




def _append(spark, store, cfg, tag: str, seed: int) -> None:
    from excelastic_spark.streaming.incremental import IncrementalIndexer

    more = synthesize_corpus(spark, 30, partitions=1, seed=seed).withColumn(
        "path", F.concat(F.lit(f"{tag}/"), F.col("path"))
    )
    IncrementalIndexer(spark, store, cfg).append_increment(more)


def _same(a, b) -> bool:
    return np.array_equal(a.doc_ids, b.doc_ids) and np.array_equal(
        a.scores, b.scores
    )


def _commit_after_first_fetch(monkeypatch, commit) -> list:
    """Run ``commit`` right after the first table fetch of the next query:
    the window between a query's fetch and its scoring."""
    done: list = []
    orig = SnapshotState.fetch

    def hooked(self, table, terms, columns):
        rows = orig(self, table, terms, columns)
        if not done:
            done.append(table)
            commit()
        return rows

    monkeypatch.setattr(SnapshotState, "fetch", hooked)
    return done


def test_lookup_pins_snapshot_when_manifest_swaps_mid_fetch(
    built, monkeypatch
):
    """A real append committing between a lookup's fetch and its scoring
    changes nothing in that query's answer: the pinned version's postings
    AND stats serve it, bit-identical to a pre-append engine's. The next
    query serves the new version, bit-identical to a fresh engine's."""
    spark, store, cfg = built
    q = (["import", "return"], "or", 10)
    qe = QueryEngine(spark, store, cfg)
    pre = QueryEngine(spark, store, cfg).search(*q)
    done = _commit_after_first_fetch(
        monkeypatch, lambda: _append(spark, store, cfg, "pinlookup", 77)
    )
    res = qe.search(*q)
    monkeypatch.undo()
    assert done == ["postings"]
    assert _same(res, pre)
    nxt = qe.search(*q)
    assert _same(nxt, QueryEngine(spark, store, cfg).search(*q))
    assert not _same(nxt, pre)  # the append really moved the answer


def test_search_head_pins_snapshot_when_manifest_swaps_mid_fetch(
    built, monkeypatch
):
    """The head-tier twin: an append + head refresh committing between the
    heads fetch and the terms-df fetch must not mix versions — the answer
    AND its certificate equal a pre-append engine's; the next query equals
    a fresh engine's."""
    from excelastic_spark.heads import build_heads, refresh_heads

    spark, store, cfg = built
    build_heads(spark, store, head_size=16)
    q = (["import", "return"], 10)
    qe = QueryEngine(spark, store, cfg)
    pre = QueryEngine(spark, store, cfg).search_head(*q)

    def commit():
        _append(spark, store, cfg, "pinhead", 78)
        refresh_heads(spark, store)

    done = _commit_after_first_fetch(monkeypatch, commit)
    res = qe.search_head(*q)
    monkeypatch.undo()
    assert done == ["heads"]
    for a, b in ((res, pre),
                 (qe.search_head(*q),
                  QueryEngine(spark, store, cfg).search_head(*q))):
        assert _same(a, b)
        assert a.set_exact == b.set_exact and a.caps == b.caps
        assert np.array_equal(a.score_gap, b.score_gap)
    assert not _same(qe.search_head(*q), pre)


def test_distributed_plan_survives_merge_and_vacuum(built):
    """A distributed plan pins its version at plan time; a merge that
    replaces the postings dirs plus a default-grace vacuum must not pull
    them from under it, even when their mtimes are hours old: the grace
    window runs from the commit that replaced them. Past the lease the
    plan fails loudly (file not found), never with a wrong answer."""
    from excelastic_spark.streaming.incremental import IncrementalIndexer

    spark, store, cfg = built
    _append(spark, store, cfg, "premerge", 79)  # a segment to merge away
    pre_merge = store.snapshot().paths("postings")
    assert len(pre_merge) > 1
    qe = QueryEngine(spark, store, cfg)
    q = (["import", "return"], "or", 10)
    expected = qe.search_distributed(*q).collect()
    planned = qe.search_distributed(*q)
    late = qe.search_distributed(*q)  # runs only after the lease ends
    IncrementalIndexer(spark, store, cfg).merge_segments()
    hours_ago = time.time() - 7200
    for p in pre_merge:
        os.utime(p, (hours_ago, hours_ago))
    removed = store.vacuum()
    assert not set(pre_merge) & set(removed)
    assert planned.collect() == expected
    assert set(pre_merge) <= set(store.vacuum(grace_sec=0))
    with pytest.raises(Exception, match="FILE_NOT_EXIST|FileNotFound"):
        late.collect()


def test_live_engine_follows_layout_changing_rebuild(spark, tmp_path):
    """A long-lived engine must serve a rebuild under a DIFFERENT layout
    (bucket count, block size) exactly like a fresh engine: layout params
    and the term -> bucket cache belong to the pinned version, not to the
    engine."""
    store = IndexStore(str(tmp_path / "wh_layout"), "layout_idx")
    small = EngineConfig().tiny().with_overrides(shuffle_partitions=4)
    corpus = synthesize_corpus(spark, 120, partitions=2)
    IndexBuilder(spark, store, small).build(corpus)
    live = QueryEngine(spark, store, small)
    q = (["import", "return", "def"], "or", 10)
    before = live.search(*q)
    big = small.with_overrides(n_buckets=16, block_size=8)
    IndexBuilder(spark, store, big).build(corpus, clear=True)
    got = live.search(*q)
    assert live.pin().cfg.n_buckets == 16
    assert _same(got, QueryEngine(spark, store, small).search(*q))
    assert _same(got, before)  # same corpus, same answer in any layout


def test_concurrent_readers_during_appends_see_whole_versions(built):
    """Stress: more reader threads than cores query a tiny-LRU engine
    (constant eviction) with a shortened switch interval while appends
    commit. Every answer must be bit-identical to the answer of ONE
    committed version — a torn read (one version's postings scored with
    another's stats) matches none — and each state's LRU byte account
    must equal the sum of its entries (a lost update would break it)."""
    import sys
    import threading

    spark, store, cfg = built
    q = (["def", "class", "self", "import"], "or", 10)
    qe = QueryEngine(spark, store, cfg, cache_mb=0.01)
    answers = [QueryEngine(spark, store, cfg).search(*q)]
    got: list = []
    states: set = set()
    stop = threading.Event()

    def reader() -> None:
        while not stop.is_set():
            states.add(qe.pin())
            got.append(qe.search(*q))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        workers = [threading.Thread(target=reader) for _ in range(8)]
        for w in workers:
            w.start()
        for i in range(2):
            _append(spark, store, cfg, f"stress{i}", 90 + i)
            answers.append(QueryEngine(spark, store, cfg).search(*q))
        stop.set()
        for w in workers:
            w.join(timeout=60)
    finally:
        stop.set()
        sys.setswitchinterval(old)
    assert not any(w.is_alive() for w in workers)
    assert got
    for res in got:
        assert any(_same(res, a) for a in answers)
    for st in states:
        assert st.cache_bytes == sum(nb for _, nb in st.raw_cache.values())
        assert st.cache_bytes <= st.cache_cap
