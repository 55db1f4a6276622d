"""Plan audits: pushdown + pruning + no row-UDFs on the query path
(BASELINE.md hot-path requirement; '.explain the plan and iterate')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import synthesize_corpus
from excelastic_spark.plans.audit import (
    assert_no_python_row_udf,
    assert_partition_pruned,
    assert_pushed_filters,
    explain_str,
)
from excelastic_spark.query import QueryEngine


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("planwh"))
    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=4)
    store = IndexStore(wh, "plans")
    IndexBuilder(spark, store, cfg).build(
        synthesize_corpus(spark, 80, partitions=2)
    )
    return store, cfg


def test_term_lookup_pushdown_and_pruning(spark, small_index):
    store, cfg = small_index
    qe = QueryEngine(spark, store, cfg)
    scan = qe.pin().postings_scan(["import", "return"])
    # term IN (...) pushed into the parquet row groups
    assert_pushed_filters(scan, "In(term")
    # bucket filter prunes partitions (directory-level)
    assert_partition_pruned(scan, "bucket")
    assert_no_python_row_udf(scan)


def test_distributed_query_plan_no_row_udf(spark, small_index):
    store, cfg = small_index
    qe = QueryEngine(spark, store, cfg)
    df = qe.search_distributed(["import", "return"], "or", 5)
    assert_no_python_row_udf(df)
    # top-k is TakeOrdered (per-partition heaps), not a global sort
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_embed_near_dup_plan_no_cartesian(spark):
    """The first-class near-dup operator must never plan an all-pairs join:
    candidates come from the LSH bucket equi-join, so the physical plan has
    no CartesianProduct / BroadcastNestedLoopJoin node (VERDICT r2 #2)."""
    from excelastic_spark.functions.similarity import embedding_near_dup_pairs

    emb = spark.range(16).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("float") for i in range(8)]).alias(
            "embedding"
        ),
    )
    df = embedding_near_dup_pairs(
        emb, threshold=0.5, n_planes=4, n_tables=2, dim=8
    )
    plan = explain_str(df, "formatted")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert_no_python_row_udf(df)


def test_minhash_hot_set_is_broadcast_join_not_literal(spark):
    """With a shingle-df cap, boilerplate removal must appear in the plan
    as a broadcast left-anti join — not a driver-collected literal isin
    list folded into a lambda (VERDICT r2 #5)."""
    from excelastic_spark.functions.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i % 3} common common2") for i in range(12)],
        "doc_id long, text string",
    )
    df = minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=8, bands=2, max_shingle_df=4
    )
    plan = explain_str(df, "formatted")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "isin" not in plan.lower(), plan
    assert_no_python_row_udf(df)


def test_ivf_assign_is_broadcast_join_not_literal_chain(spark):
    """Centroid assignment must appear in the plan as a broadcast join
    against a centroid table — not an O(n_centroids) nested CaseWhen over
    literal arrays folded into the plan (VERDICT r3 #1; the same
    literal-fold disease as the minhash isin the round before). Plan size
    must stay O(1) as the cell count grows to thousands."""
    from excelastic_spark.functions.similarity import ivf_assign

    emb = spark.range(32).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") + i) % 5 + 1).cast("float") for i in range(8)]
        ).alias("embedding"),
    )
    centroids = [
        (c, [float((c + i) % 5 + 1) for i in range(8)]) for c in range(16)
    ]
    df = ivf_assign(emb, centroids)
    plan = explain_str(df, "formatted")
    # the centroid table rides in as a broadcast relation
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # no per-centroid literal when-chain: the plan's CASE WHEN count is a
    # small CONSTANT (the NaN guard + the no-cell fallback), invariant in
    # the number of centroids — grow the cell count 4x and compare
    df_big = ivf_assign(
        emb,
        [(c, [float((c + i) % 5 + 1) for i in range(8)]) for c in range(64)],
    )
    plan_big = explain_str(df_big, "formatted")
    assert plan.count("CASE WHEN") == plan_big.count("CASE WHEN") <= 4, plan
    assert_no_python_row_udf(df)
    # semantics: nearest centroid, ties -> smallest cid (oracle rule)
    rows = {r["vec_id"]: r["cell"] for r in df.collect()}
    import numpy as np

    embl = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for vid, v in embl.items():
        sims = [
            (np.dot(v, np.array(cv)) / (np.linalg.norm(v) * np.linalg.norm(cv)), -c)
            for c, cv in centroids
        ]
        best = -max(sims)[1]
        assert rows[vid] == best, (vid, rows[vid], best)


def test_corpus_scan_column_pruning(spark, small_index):
    store, _ = small_index
    docs = store.read_table(spark, "docs").select("doc_id", "doclen")
    plan = explain_str(docs)
    # ReadSchema must carry only the projected columns, not sha/content
    rs = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "doclen" in rs and "sha256" not in rs, rs
