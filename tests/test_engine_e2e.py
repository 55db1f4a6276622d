"""End-to-end engine tests: build the index over the deterministic synthetic
corpus, run the reference query set, assert rank-identical docIDs AND scores
(bit-for-bit float64) vs the pandas oracle — SURVEY.md §5 / BASELINE.md.

Uses the shrunk config (EngineConfig.tiny): salt threshold 8 forces the
salted path for every hot term, block size 4 forces multi-block WAND — the
reference's exercise-at-scale-paths-at-toy-scale pattern
(TestParser.java:69-76)."""

from __future__ import annotations

import json
import pathlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import synthesize_corpus
from excelastic_spark.oracle.bm25 import Bm25Oracle
from excelastic_spark.query import QueryEngine

N_DOCS = 300

# the frozen reference query set (FIXTURES.md §2): hot, medium, rare,
# absent terms; and/or; k edge cases
with open(pathlib.Path(__file__).with_name("queries.json")) as _f:
    QUERY_SET = json.load(_f)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=8)
    store = IndexStore(wh, "e2e")
    corpus = synthesize_corpus(spark, N_DOCS, partitions=4)
    metrics = IndexBuilder(spark, store, cfg).build(corpus)
    docs_pd = (
        store.read_table(spark, "ingested")
        .select("doc_id", "content")
        .toPandas()
    )
    oracle = Bm25Oracle(docs_pd)
    qe = QueryEngine(spark, store, cfg)
    return store, cfg, qe, oracle, metrics


def test_stats_match_oracle(built):
    _, _, qe, oracle, _ = built
    st = qe.pin()
    assert st.n_docs == oracle.n_docs
    assert st.avgdl == oracle.avgdl  # exact float equality


@pytest.mark.parametrize("q", QUERY_SET, ids=lambda q: f"q{q['qid']}")
def test_rank_identical(built, q):
    _, _, qe, oracle, _ = built
    got = qe.search(q["terms"], mode=q["mode"], k=q["k"]).to_pandas()
    exp = oracle.search(q["terms"], mode=q["mode"], k=q["k"])
    assert list(got["doc_id"]) == list(exp["doc_id"])
    # scores bit-identical (same float64 fold order)
    assert np.array_equal(got["score"].to_numpy(), exp["score"].to_numpy())


def test_query_executor_concurrent_identical(built):
    """The bounded head-node executor (admission control against the
    measured GIL convoy) must return results bit-identical to direct
    QueryEngine.search, under many concurrent caller threads."""
    from concurrent.futures import ThreadPoolExecutor

    from excelastic_spark.query import QueryExecutor

    _, _, qe, _, _ = built
    expected = {
        q["qid"]: qe.search(q["terms"], mode=q["mode"], k=q["k"]).to_pandas()
        for q in QUERY_SET
    }
    with QueryExecutor(qe, workers=2) as qx:
        def one(q):
            return q["qid"], qx.search(q["terms"], mode=q["mode"], k=q["k"])

        with ThreadPoolExecutor(max_workers=16) as clients:
            results = list(clients.map(one, QUERY_SET * 8))
    for qid, res in results:
        got = res.to_pandas()
        exp = expected[qid]
        assert list(got["doc_id"]) == list(exp["doc_id"])
        assert np.array_equal(got["score"].to_numpy(), exp["score"].to_numpy())


def test_salting_active(built, spark):
    """tiny() salt threshold=8 must split hot terms into multiple salted
    rows, and queries over them still match (covered above); verify the
    layout really salted."""
    store, _, _, _, _ = built
    postings = store.read_table(spark, "postings")
    salted = postings.groupBy("term").count().filter(F.col("count") > 1)
    assert salted.count() > 5
    hot = postings.filter(F.col("term") == "import")
    assert hot.count() > 1  # 'import' is high-df by construction


def test_sha256_invariant(built, spark):
    """Per-row content sha256 equality between source corpus and ingested
    docs table (BASELINE.json:input_hint)."""
    store, _, _, _, _ = built
    corpus = synthesize_corpus(spark, N_DOCS, partitions=4).select(
        "repo", "path", "commit", F.sha2("content", 256).alias("src_sha")
    )
    docs = store.read_table(spark, "docs")
    joined = docs.join(corpus, ["repo", "path", "commit"], "inner")
    n_total = docs.count()
    n_match = joined.filter(F.col("sha256") == F.col("src_sha")).count()
    assert n_total == N_DOCS
    assert n_match == N_DOCS


def test_doc_ids_dense_and_deterministic(built, spark):
    store, _, _, _, _ = built
    ids = [r["doc_id"] for r in store.read_table(spark, "docs").select("doc_id").collect()]
    assert sorted(ids) == list(range(N_DOCS))


def test_resume_skips_stages(built, spark):
    """Rebuilding over identical input must skip every stage (fingerprint
    lineage) and leave the snapshot identical — checkpoint-resume."""
    store, cfg, _, _, _ = built
    manifest_before = json.dumps(store.manifest()["tables"], sort_keys=True)
    corpus = synthesize_corpus(spark, N_DOCS, partitions=4)
    metrics2 = IndexBuilder(spark, store, cfg).build(corpus)
    # no stage re-ran -> no new stage metrics beyond fingerprint
    assert set(metrics2.keys()) == {"fingerprint"}
    assert json.dumps(store.manifest()["tables"], sort_keys=True) == manifest_before


@pytest.fixture(scope="module")
def resume_built(spark, tmp_path_factory):
    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=4)
    store = IndexStore(str(tmp_path_factory.mktemp("resume")), "resume")
    corpus = synthesize_corpus(spark, 120, partitions=2)
    IndexBuilder(spark, store, cfg).build(corpus)
    return store, cfg, corpus


@pytest.mark.parametrize("stage", ["docs", "terms", "stats", "postings"])
def test_resume_completes_partial_build(spark, resume_built, stage):
    """Kill-after-stage-N simulation: build a full index, then invalidate
    one stage's lineage entry; the rerun must redo ONLY that stage and
    serve bit-identical answers."""
    store, cfg, corpus = resume_built
    qs = [(["import", "return"], "or"), (["def", "class"], "and")]
    before = [
        QueryEngine(spark, store, cfg).search(t, m, 10).to_pandas()
        for t, m in qs
    ]
    # simulate dying before the stage committed
    m = store.manifest()
    del m["stages"][stage]
    store._commit_manifest(m)
    tables = dict(m["tables"])

    metrics = IndexBuilder(spark, store, cfg).build(corpus)
    assert set(metrics) == {"fingerprint", stage}  # only that stage re-ran
    now = store.manifest()["tables"]
    assert {t: p for t, p in now.items() if t != stage} == {
        t: p for t, p in tables.items() if t != stage
    }
    assert now[stage] != tables[stage]
    qe = QueryEngine(spark, store, cfg)
    for (t, mode), b in zip(qs, before):
        assert qe.search(t, mode, 10).to_pandas().equals(b)


def test_partition_count_invariance(spark, tmp_path, built):
    """Rank-identical outputs across shuffle-partition counts (float
    determinism across partitioning — FIXTURES.md §4)."""
    _, _, qe_base, _, _ = built
    cfg2 = EngineConfig().tiny().with_overrides(shuffle_partitions=2)
    store2 = IndexStore(str(tmp_path), "p2")
    corpus = synthesize_corpus(spark, N_DOCS, partitions=7)
    IndexBuilder(spark, store2, cfg2).build(corpus)
    qe2 = QueryEngine(spark, store2, cfg2)
    for q in QUERY_SET[:6]:
        a = qe_base.search(q["terms"], q["mode"], q["k"]).to_pandas()
        b = qe2.search(q["terms"], q["mode"], q["k"]).to_pandas()
        assert list(a["doc_id"]) == list(b["doc_id"]), q
        assert np.array_equal(a["score"].to_numpy(), b["score"].to_numpy()), q


def test_distributed_path_parity(built):
    """search_distributed must return the same doc set with scores equal to
    the driver path at e6 rounding (different but fixed fold order)."""
    _, _, qe, oracle, _ = built
    for q in QUERY_SET[:5]:
        dist = (
            qe.search_distributed(q["terms"], q["mode"], q["k"])
            .toPandas()
            .sort_values(["score", "doc_id"], ascending=[False, True])
        )
        exp = oracle.search(q["terms"], q["mode"], q["k"])
        assert list(dist["doc_id"]) == list(exp["doc_id"]), q
        assert np.allclose(dist["score"], exp["score"], rtol=1e-12), q


def test_distributed_empty_terms_and_bad_mode(built):
    """No terms gives an empty (doc_id, score) frame, as search([]) gives
    an empty result; an unknown mode is refused as search refuses it, and
    search refuses an unknown scorer."""
    from excelastic_spark.query import RESULT_SCHEMA

    _, _, qe, _, _ = built
    for mode in ("or", "and"):
        df = qe.search_distributed([], mode, 10)
        assert df.schema == RESULT_SCHEMA
        assert df.collect() == []
    with pytest.raises(ValueError, match="mode"):
        qe.search_distributed(["import"], "xor", 10)
    with pytest.raises(ValueError, match="algo"):
        qe.search(["import"], "or", 10, algo="wnd")


def test_wand_prunes_on_real_corpus(built):
    _, _, qe, _, _ = built
    res = qe.search(["import", "return", "def"], "or", 5, algo="wand")
    assert res.wand is not None
    assert res.wand.docs_skipped + res.wand.blocks_skipped > 0


def test_auto_never_runs_wand(built, monkeypatch):
    """A disjunction shaped for pruning (a 2M-posting list, a 50k list and
    a rare high-weight term over 5M doc ids) still runs a vectorized
    scorer under algo='auto', with the exhaustive scorer's answer bit for
    bit; block-max WAND runs only when forced."""
    from excelastic_spark import codec, query
    from excelastic_spark.query import RawPostings, SnapshotState
    from excelastic_spark.wand import exhaustive_or

    _, _, qe, _, _ = built
    rng = np.random.default_rng(11)
    n_ids = 5_000_000
    raws = {}
    for term, df in (("big", 2_000_000), ("mid", 50_000), ("rare", 100)):
        ids = np.sort(rng.choice(n_ids, df, replace=False)).astype(np.uint64)
        raws[term] = RawPostings(
            term, ids, rng.uniform(0.5, 2.0, df),
            float(codec.bm25_idf(n_ids, df)), presorted=True,
        )

    def no_wand(*args, **kwargs):
        raise AssertionError("algo='auto' ran block-max WAND")

    monkeypatch.setattr(
        SnapshotState, "lookup_raw",
        lambda self, uniq: {t: raws[t] for t in uniq},
    )
    monkeypatch.setattr(query, "wand_topk", no_wand)
    res = qe.search(list(raws), "or", 10)
    assert res.wand is None
    st = qe.pin()
    ids, scores = exhaustive_or(
        [st.sorted_postings(r) for r in raws.values()], 10
    )
    assert res.doc_ids.tobytes() == ids.tobytes()
    assert res.scores.tobytes() == scores.tobytes()


def test_dense_equals_sorted_on_real_corpus(built):
    """Force the dense-scatter and sorted-exhaustive scorers on every
    reference query: byte-identical frames (ids AND score bits)."""
    _, _, qe, _, _ = built
    for q in QUERY_SET:
        d = qe.search(q["terms"], q["mode"], q["k"], algo="dense").to_pandas()
        e = qe.search(
            q["terms"], q["mode"], q["k"], algo="exhaustive"
        ).to_pandas()
        assert d.equals(e), q


def test_metrics_logged(built):
    _, _, _, _, metrics = built
    assert metrics["postings"]["postings_per_sec"] > 0
    assert metrics["postings"]["bytes_compressed"] > 0
    assert metrics["tokenize"]["n_triples"] > 0


def test_rebuild_with_changed_layout_does_not_resume(spark, tmp_path):
    """The lineage fingerprint carries the layout key: re-running a build
    with different layout knobs (here bucket count) must REBUILD every
    stage instead of resuming onto the old layout's committed stages —
    resuming would mix bucket assignments and silently break query-side
    bucket pruning."""
    cfg_a = EngineConfig().tiny().with_overrides(shuffle_partitions=4)
    store = IndexStore(str(tmp_path), "relayout")
    corpus = synthesize_corpus(spark, 120, partitions=2)
    IndexBuilder(spark, store, cfg_a).build(corpus)
    before = QueryEngine(spark, store, cfg_a).search(
        ["import", "return"], "or", 10
    ).to_pandas()

    cfg_b = cfg_a.with_overrides(n_buckets=cfg_a.n_buckets * 2)
    metrics = IndexBuilder(spark, store, cfg_b).build(corpus)
    # every stage re-ran under the new layout (nothing resumed)
    for stage in ("ingest", "tokenize", "terms", "postings"):
        assert stage in metrics, stage
    # results identical under the new layout, served via its pruning
    after = QueryEngine(spark, store, cfg_b).search(
        ["import", "return"], "or", 10
    ).to_pandas()
    assert list(before["doc_id"]) == list(after["doc_id"])
    assert np.array_equal(
        before["score"].to_numpy(), after["score"].to_numpy()
    )


def test_empty_corpus_builds(spark, tmp_path):
    """An empty corpus builds an empty index: every stage commits, the
    stats row counts no docs and every query answers with no rows."""
    from excelastic_spark.corpus import CORPUS_SCHEMA

    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=4)
    store = IndexStore(str(tmp_path), "empty")
    IndexBuilder(spark, store, cfg).build(
        spark.createDataFrame([], CORPUS_SCHEMA)
    )
    assert store.snapshot().stats_row()["n_docs"] == 0
    assert store.manifest()["stages"]["totals"]["max_doc_id"] == -1
    qe = QueryEngine(spark, store, cfg)
    for q in QUERY_SET[:4]:
        assert len(qe.search(q["terms"], q["mode"], q["k"]).doc_ids) == 0
