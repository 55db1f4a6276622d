"""Head-tier tests (heads.py + QueryEngine.search_head).

Contract under test (heads.py module docstring):
* full-coverage heads (head_size >= every df) serve BIT-identical results
  to the exact path, certified set_exact with zero caps;
* truncated heads return scores that LOWER-bound the true scores, with
  per-result gaps that upper-bound the error (validated doc-by-doc
  against the exact engine);
* a set_exact=True certificate implies the returned set equals the exact
  top-k set;
* appends invalidate the tier (staleness refusal) until rebuilt.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import synthesize_corpus
from excelastic_spark.heads import build_heads
from excelastic_spark.query import QueryEngine

N_DOCS = 300
QUERIES = [
    ["import", "return"],
    ["def", "class", "self"],
    ["import", "sym0100"],
    ["zzznotaterm"],
    ["return"],
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_heads"))
    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=8)
    store = IndexStore(wh, "heads_idx")
    IndexBuilder(spark, store, cfg).build(
        synthesize_corpus(spark, N_DOCS, partitions=4)
    )
    return spark, store, cfg


def _exact_scores(qe: QueryEngine, terms: list[str]) -> dict[int, float]:
    res = qe.search(terms, "or", N_DOCS + 1)
    return {int(d): float(s) for d, s in zip(res.doc_ids, res.scores)}


def test_full_coverage_is_exact_and_certified(built):
    spark, store, cfg = built
    build_heads(spark, store, head_size=10**6)
    qe = QueryEngine(spark, store, cfg)
    for terms in QUERIES:
        h = qe.search_head(terms, k=10)
        e = qe.search(terms, "or", k=10)
        assert np.array_equal(h.doc_ids, e.doc_ids), terms
        assert np.array_equal(h.scores, e.scores), terms  # bit-identical
        assert h.approximate and h.set_exact is True
        assert all(c == 0.0 for c in (h.caps or {}).values())
        assert h.score_gap is not None and not h.score_gap.any()


def test_truncated_bounds_and_certificate(built):
    spark, store, cfg = built
    build_heads(spark, store, head_size=16)
    qe = QueryEngine(spark, store, cfg)
    hits = total = 0
    for terms in QUERIES:
        h = qe.search_head(terms, k=10)
        exact = _exact_scores(qe, terms)
        e_top = qe.search(terms, "or", k=10)
        for doc, s, gap in zip(h.doc_ids, h.scores, h.score_gap):
            true = exact[int(doc)]
            assert s <= true + 1e-12, (terms, doc)  # computed lower-bounds
            assert true <= s + gap + 1e-9, (terms, doc)  # gap bounds error
        if h.set_exact:
            assert set(map(int, h.doc_ids)) == set(map(int, e_top.doc_ids))
        hits += len(set(map(int, h.doc_ids)) & set(map(int, e_top.doc_ids)))
        total += len(e_top.doc_ids)
    # measured quality floor on this corpus (not a guarantee — the
    # certificate is the guarantee; this catches silent recall collapse)
    assert total == 0 or hits / total >= 0.5, (hits, total)


def test_append_invalidates_then_rebuild(built):
    spark, store, cfg = built
    from excelastic_spark.streaming.incremental import IncrementalIndexer

    build_heads(spark, store, head_size=10**6)
    more = synthesize_corpus(spark, 40, partitions=1, seed=123).withColumn(
        "path", F.concat(F.lit("inc/"), F.col("path"))
    )
    IncrementalIndexer(spark, store, cfg).append_increment(more)
    qe = QueryEngine(spark, store, cfg)
    with pytest.raises(ValueError, match="stale"):
        qe.search_head(["import"], k=5)
    build_heads(spark, store, head_size=10**6)
    h = qe.search_head(["import", "return"], k=10)
    e = qe.search(["import", "return"], "or", k=10)
    assert np.array_equal(h.doc_ids, e.doc_ids)
    assert np.array_equal(h.scores, e.scores)
    assert h.set_exact is True


def test_search_head_k_zero_returns_empty(built):
    """k<=0 mirrors search(): an empty result, never an IndexError from
    scores[-1] on an empty array (truncated-tier branch). The exact top-0
    set is empty too, so the result is certified, like empty terms."""
    spark, store, cfg = built
    build_heads(spark, store, head_size=4)  # truncated -> total_cap > 0
    qe = QueryEngine(spark, store, cfg)
    for k in (0, -3):
        res = qe.search_head(["import", "return"], k=k)
        assert res.doc_ids.size == 0 and res.scores.size == 0
        assert res.approximate is True
        assert res.set_exact is True


def test_search_head_empty_terms_returns_empty(built):
    """An empty term list mirrors search([]): empty result, certified
    (the exact result IS empty) — not an IndexError from _and_score([])."""
    spark, store, cfg = built
    build_heads(spark, store, head_size=4)
    qe = QueryEngine(spark, store, cfg)
    for mode in ("and", "or"):
        res = qe.search_head([], k=10, mode=mode)
        assert res.doc_ids.size == 0 and res.scores.size == 0
        assert res.set_exact is True
        b = qe.search_bounded([], mode=mode, k=10)
        assert b.doc_ids.size == 0


def _heads_rows(spark, store):
    """Full heads-table contents as a canonically sorted pandas frame
    (per-segment rows can repeat a (term, salt) pair, so sort includes the
    encoded bytes; bytes columns normalized for comparison)."""
    pdf = store.read_table(spark, "heads").toPandas()
    for c in ("doc_ids", "tfs", "doclens"):
        pdf[c] = pdf[c].map(bytes)
    return pdf.sort_values(
        ["term", "salt", "n", "doc_ids"], kind="mergesort"
    ).reset_index(drop=True)


def test_refresh_heads_is_incremental_and_bit_equal(spark, tmp_path):
    """VERDICT r5 task #1: build -> heads -> append -> refresh_heads serves
    WITHOUT a full rebuild (exactly one new heads snapshot, old one reused)
    and the resulting tier is bit-equal to a from-scratch build_heads run
    with the same pinned parameters."""
    from excelastic_spark.heads import build_heads, refresh_heads
    from excelastic_spark.streaming.incremental import IncrementalIndexer

    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=8)
    store = IndexStore(str(tmp_path), "inc_heads")
    IndexBuilder(spark, store, cfg).build(
        synthesize_corpus(spark, 200, partitions=4)
    )
    build_heads(spark, store, head_size=16)
    meta0 = store.manifest()["stages"]["heads"]
    old_heads = list(meta0["segments"].values())

    more = synthesize_corpus(spark, 60, partitions=1, seed=99).withColumn(
        "path", F.concat(F.lit("inc/"), F.col("path"))
    )
    IncrementalIndexer(spark, store, cfg).append_increment(more)

    new_paths = refresh_heads(spark, store)
    assert len(new_paths) == 1  # ONLY the appended segment was derived
    meta1 = store.manifest()["stages"]["heads"]
    assert set(old_heads) < set(meta1["segments"].values())  # reuse
    assert refresh_heads(spark, store) == []  # idempotent when fresh

    qe = QueryEngine(spark, store, cfg)
    incr_rows = _heads_rows(spark, store)
    incr_results = [qe.search_head(t, k=10) for t in QUERIES]

    # truncated-tier contract still holds against the exact engine
    for terms, h in zip(QUERIES, incr_results):
        exact = _exact_scores(qe, terms)
        for doc, s, gap in zip(h.doc_ids, h.scores, h.score_gap):
            assert s <= exact[int(doc)] + 1e-12
            assert exact[int(doc)] <= s + gap + 1e-9

    # from-scratch rebuild with the SAME pinned selection avgdl
    build_heads(spark, store, head_size=16, avgdl_ref=meta0["avgdl_ref"])
    full_rows = _heads_rows(spark, store)
    assert incr_rows.equals(full_rows)  # bit-equal tier
    qe2 = QueryEngine(spark, store, cfg)
    for terms, h in zip(QUERIES, incr_results):
        h2 = qe2.search_head(terms, k=10)
        assert np.array_equal(h.doc_ids, h2.doc_ids), terms
        assert np.array_equal(h.scores, h2.scores), terms


def test_refresh_heads_after_merge_rebuilds_all(spark, tmp_path):
    """merge_segments compacts postings into one fresh snapshot, so every
    mapping entry is stale: refresh degrades to the full rebuild it must
    be, and full-coverage queries stay bit-exact."""
    from excelastic_spark.heads import build_heads, refresh_heads
    from excelastic_spark.streaming.incremental import IncrementalIndexer

    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=8)
    store = IndexStore(str(tmp_path), "merge_heads")
    IndexBuilder(spark, store, cfg).build(
        synthesize_corpus(spark, 150, partitions=4)
    )
    inc = IncrementalIndexer(spark, store, cfg)
    more = synthesize_corpus(spark, 50, partitions=1, seed=7).withColumn(
        "path", F.concat(F.lit("inc/"), F.col("path"))
    )
    inc.append_increment(more)
    build_heads(spark, store, head_size=10**6)
    inc.merge_segments()
    new_paths = refresh_heads(spark, store)
    assert len(new_paths) == 1  # one compacted postings snapshot -> one head
    qe = QueryEngine(spark, store, cfg)
    h = qe.search_head(["import", "return"], k=10)
    e = qe.search(["import", "return"], "or", k=10)
    assert np.array_equal(h.doc_ids, e.doc_ids)
    assert np.array_equal(h.scores, e.scores)
    assert h.set_exact is True


AND_QUERIES = [
    ["import", "return"],
    ["def", "class", "self"],
    ["import", "zzznotaterm"],  # absent term -> provably empty
    ["return"],
]


def test_head_and_full_coverage_is_exact_and_certified(built):
    spark, store, cfg = built
    build_heads(spark, store, head_size=10**6)
    qe = QueryEngine(spark, store, cfg)
    for terms in AND_QUERIES:
        h = qe.search_head(terms, k=10, mode="and")
        e = qe.search(terms, "and", k=10)
        assert np.array_equal(h.doc_ids, e.doc_ids), terms
        assert np.array_equal(h.scores, e.scores), terms  # bit-identical
        assert h.approximate and h.set_exact is True
        assert h.score_gap is not None and not h.score_gap.any()


def test_head_and_truncated_candidates_are_exact_subset(built):
    """Truncated conjunctive contract: every returned doc is a TRUE
    conjunctive match with its EXACT score (candidates sit in every head);
    a set_exact certificate implies set equality with the exact engine."""
    spark, store, cfg = built
    build_heads(spark, store, head_size=16)
    qe = QueryEngine(spark, store, cfg)
    for terms in AND_QUERIES:
        h = qe.search_head(terms, k=10, mode="and")
        e_all = qe.search(terms, "and", k=N_DOCS + 1)
        exact = {int(d): float(s) for d, s in zip(e_all.doc_ids, e_all.scores)}
        for doc, s, gap in zip(h.doc_ids, h.scores, h.score_gap):
            assert int(doc) in exact, (terms, doc)  # true match
            assert s == exact[int(doc)], (terms, doc)  # EXACT score
            assert gap == 0.0
        if h.set_exact:
            e_top = qe.search(terms, "and", k=10)
            assert np.array_equal(h.doc_ids, e_top.doc_ids), terms
            assert np.array_equal(h.scores, e_top.scores), terms


def test_head_and_absent_term_certified_empty(built):
    spark, store, cfg = built
    build_heads(spark, store, head_size=16)
    qe = QueryEngine(spark, store, cfg)
    h = qe.search_head(["import", "zzznotaterm"], k=10, mode="and")
    assert h.doc_ids.size == 0 and h.set_exact is True


def test_search_bounded_is_always_exact(built):
    """'and' via search_bounded must equal search() bit-for-bit (certified
    head scores are exact; otherwise it falls back to exact). 'or' head
    scores are documented lower bounds, so the guarantee there is the SET:
    certified-or-fallback always returns the exact top-k set, and the
    fallback path is additionally bit-exact on scores."""
    spark, store, cfg = built
    build_heads(spark, store, head_size=16)
    qe = QueryEngine(spark, store, cfg)
    for terms in AND_QUERIES:
        b = qe.search_bounded(terms, "and", k=10)
        e = qe.search(terms, "and", k=10)
        assert np.array_equal(b.doc_ids, e.doc_ids), terms
        assert np.array_equal(b.scores, e.scores), terms
    for terms in QUERIES:
        b = qe.search_bounded(terms, "or", k=10)
        e = qe.search(terms, "or", k=10)
        assert set(map(int, b.doc_ids)) == set(map(int, e.doc_ids)), terms
        if not b.approximate:  # exact fallback path
            assert np.array_equal(b.scores, e.scores), terms


def test_search_bounded_without_tier_falls_back(spark, tmp_path):
    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=8)
    store = IndexStore(str(tmp_path), "no_tier")
    IndexBuilder(spark, store, cfg).build(
        synthesize_corpus(spark, 80, partitions=2)
    )
    qe = QueryEngine(spark, store, cfg)
    b = qe.search_bounded(["import", "return"], "and", k=5)
    e = qe.search(["import", "return"], "and", k=5)
    assert np.array_equal(b.doc_ids, e.doc_ids)
    assert not b.approximate
