"""Shard-parallel index build: independent writers, one index.

This is the engine's analog of BOTH
(a) the reference's advertised "concurrent parsing ... and importing of
    multiple files for better performance" (/root/reference/README.md:14,
    worker-pool parse + pipelined bulk import, controller/Website.java:196),
and
(b) the shard architecture of the index backend the reference targets:
    Elasticsearch splits an index into doc-disjoint shards, each built by an
    independent node with NO cross-shard shuffle, and queries fan out and
    merge (public ES/Lucene design).

Mechanics
---------
* ``plan``: ONE cheap grouped scan (the validate/fingerprint pass) yields
  per-id-bucket counts -> global doc_id offsets. Shard s owns id-buckets
  ``{b : b % n_shards == s}``; buckets are doc-disjoint, so shards are too.
* ``build_shard``: an INDEPENDENT process (own SparkSession/JVM — on a real
  cluster, its own executor group via ``spark-submit --py-files``) filters
  its buckets and runs the single-pass builder's own chain
  (build.write_segment: ingested -> triples -> docs -> terms -> postings)
  with doc_ids from the plan offsets. Every table is staged as a SEGMENT
  (the terms as a ``shard_terms`` segment) and all of them publish to the
  shared store in one commit (manifest commits are cross-process safe via
  the catalog file lock).

  doc_id determinism: doc_id = bucket_offset + rank-within-bucket, and every
  bucket lives in exactly one shard, so the sharded build assigns the SAME
  doc_ids as the single-pass build — queries stay rank-identical
  (tested: test_sharded_equals_plain).
* ``finalize``: a tiny reconcile — global terms table aggregated from the
  shard term segments (hundreds of k rows, not the triples), global stats
  from the shard metrics. Salting inside a shard uses threshold/n_shards
  (a term's df splits ~uniformly across doc-hash shards); query-time merge
  already unions any number of (term, salt) rows across segments, sorts by
  doc_id, and rebuilds exact block bounds.

Scale notes (10^12 docs): at that scale the corpus is an Iceberg table
bucketed by the same id-bucket transform, so each shard's scan prunes to its
buckets instead of filtering a full scan; the manifest lock is the
single-table optimistic-commit pattern Iceberg uses. Build throughput then
scales with independent shard writers — the property bench_scaling.py
evidences with N vs 4N pinned runner processes.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from excelastic_spark.build import (
    by_bucket,
    plan_salts,
    stage_observed,
    stage_segment,
    stats_table,
    validate_and_fingerprint,
)
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import ID_BUCKETS, id_bucket_expr, ingest_corpus


def plan_shards(
    corpus: DataFrame, n_shards: int, store: IndexStore, cfg: EngineConfig
) -> dict[str, Any]:
    """Validate + fingerprint + per-id-bucket counts -> persisted shard
    plan (the counts fix every bucket's doc_id offset)."""
    fp, n_docs, bucket_counts, _ = validate_and_fingerprint(
        corpus, pre_ingested=False
    )
    # layout into the plan fingerprint: re-planning with different knobs
    # must not let shard_done entries from the old layout satisfy the new
    # plan (same rationale as IndexBuilder.build)
    fp = f"{fp},{cfg.layout_key()}"
    plan = {
        "fingerprint": fp,
        "n_docs": n_docs,
        "n_shards": n_shards,
        "id_buckets": ID_BUCKETS,
        "counts": {str(k): v for k, v in bucket_counts.items()},
    }
    store.save_config(cfg.layout_dict())
    with open(os.path.join(store.root, "shard_plan.json"), "w") as f:
        json.dump(plan, f, sort_keys=True)
    return plan


def load_plan(store: IndexStore) -> dict[str, Any]:
    with open(os.path.join(store.root, "shard_plan.json")) as f:
        return json.load(f)


def build_shard(
    spark: SparkSession,
    store: IndexStore,
    corpus: DataFrame,
    shard: int,
    cfg: EngineConfig | None = None,
) -> dict[str, Any]:
    """Build one shard's segments and append them to the shared store.
    Safe to run concurrently with other shards from separate processes.
    Retry-safe BY CONSTRUCTION: every segment is STAGED (invisible to
    readers) and published together with the shard's stage entry in ONE
    atomic manifest swap — a crash at any point leaves the index exactly
    as before (orphan staged dirs reclaimed by vacuum), so a retry can
    never double-append; a shard whose stage entry already matches the
    plan fingerprint is skipped. finalize's doc-count check remains as a
    belt-and-suspenders cross-shard audit."""
    cfg = EngineConfig.from_store(store, cfg)
    plan = load_plan(store)
    n_shards = int(plan["n_shards"])
    if not 0 <= shard < n_shards:
        raise ValueError(f"shard {shard} outside [0, {n_shards})")
    if store.stage_done(f"shard_{shard}", plan["fingerprint"]):
        # already built for THIS plan: appending again would duplicate
        # segments and silently double query scores
        return {"stage": f"shard_{shard}", "skipped": True}
    counts = {int(b): int(n) for b, n in plan["counts"].items()}
    t0 = time.time()

    bucket = id_bucket_expr(int(plan["id_buckets"]))
    mine = corpus.withColumn("_bucket", bucket).filter(
        F.pmod(F.col("_bucket"), F.lit(n_shards)) == shard
    )
    # drift check BEFORE anything is staged, PER BUCKET: a corpus change
    # since shard-plan that moves a doc between this shard's buckets keeps
    # the shard total constant but shifts within-bucket ranks, colliding
    # doc_ids with the next bucket's plan offsets — only the per-bucket
    # comparison catches that
    shard_counts = {
        int(r["_bucket"]): int(r["n"])
        for r in mine.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    planned_counts = {b: n for b, n in counts.items() if b % n_shards == shard}
    if shard_counts != planned_counts:
        drifted = sorted(
            b
            for b in set(shard_counts) | set(planned_counts)
            if shard_counts.get(b, 0) != planned_counts.get(b, 0)
        )
        raise RuntimeError(
            f"shard {shard}: corpus drifted since shard-plan in id-buckets "
            f"{drifted} (counts {shard_counts} vs planned {planned_counts})"
        )
    n_docs_shard = sum(shard_counts.values())
    # shard-local term stats; salting threshold scaled by shard count
    # because a term's postings split ~uniformly across doc-hash shards
    shard_cfg = cfg.with_overrides(
        salt_threshold=max(1, cfg.salt_threshold // n_shards),
        salt_target=max(1, cfg.salt_target // n_shards),
    )
    # the plain build's chain and doc-id assignment over the plan's counts
    # of EVERY bucket, so the offsets are the global ones (bucket ⊂ shard,
    # so the shard-local within-bucket rank is the global rank); every
    # table is a segment, the terms one a shard_terms segment
    writes, seg = stage_segment(
        spark, store,
        lambda: ingest_corpus(
            mine.drop("_bucket"), id_partitions=int(plan["id_buckets"]),
            bucket_counts=counts,
        ),
        shard_cfg, terms_table="shard_terms",
    )
    tri = seg["triples"]

    # ---- single atomic publish: all five segments + the shard's stage
    # entry become visible together or not at all (a crashed attempt is
    # invisible, so retry can't double-append)
    store.commit_snapshot(
        writes,
        stages={
            f"shard_{shard}": {
                "fingerprint": plan["fingerprint"],
                "n_docs": n_docs_shard,
                "total_tf": tri["total_tf"],
            }
        },
    )
    dt = time.time() - t0
    return store.log_metrics(
        f"shard_{shard}", n_docs=int(n_docs_shard),
        n_triples=tri["n_triples"], total_tf=tri["total_tf"],
        sec=round(dt, 3),
        docs_per_sec=round(n_docs_shard / max(dt, 1e-9), 1),
    )


def finalize(
    spark: SparkSession, store: IndexStore, cfg: EngineConfig | None = None
) -> dict[str, Any]:
    """Reconcile after all shards: global terms table (aggregated from the
    small per-shard term segments, NOT the triples) + global stats."""
    cfg = EngineConfig.from_store(store, cfg)
    plan = load_plan(store)
    t0 = time.time()
    st = store.manifest()["stages"]
    missing = [
        s for s in range(int(plan["n_shards"]))
        if st.get(f"shard_{s}", {}).get("fingerprint") != plan["fingerprint"]
    ]
    if missing:
        raise RuntimeError(f"shards not built: {missing}")

    shard_terms = store.read_table(spark, "shard_terms")
    terms = by_bucket(plan_salts(
        shard_terms.groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf")
        ),
        cfg,
    ))
    terms_path, got = stage_observed(
        store, terms, "terms", {"n": F.count(F.lit(1))},
        partition_by=["bucket"],
    )
    n_terms = int(got["n"])

    shards = [st[f"shard_{s}"] for s in range(int(plan["n_shards"]))]
    n_docs = sum(e["n_docs"] for e in shards)
    total_tf = sum(e["total_tf"] for e in shards)
    # duplicate-segment guard: a crashed-and-retried shard that appended
    # twice passes per-shard fingerprints but doubles the docs table; the
    # metadata count is cheap and catches it before anything is committed
    actual_docs = store.read_table(spark, "docs").count()
    if actual_docs != plan["n_docs"] or n_docs != plan["n_docs"]:
        raise RuntimeError(
            f"doc count mismatch: docs table {actual_docs}, shard stages "
            f"{n_docs}, plan {plan['n_docs']} — duplicate or missing segments"
        )
    stats, avgdl = stats_table(cfg, n_docs, total_tf, n_terms)
    # terms, stats and the running totals publish in ONE swap; the plan's
    # doc_ids are dense, so the largest is n_docs - 1
    store.commit_snapshot(
        [("terms", terms_path, "overwrite"),
         ("stats", store.stage_table(stats, "stats"), "overwrite")],
        stages={
            "finalize": {"fingerprint": plan["fingerprint"], "n_docs": n_docs},
            "totals": {
                "fingerprint": plan["fingerprint"], "n_docs": n_docs,
                "total_tf": total_tf, "max_doc_id": n_docs - 1,
            },
        },
    )
    return store.log_metrics(
        "finalize", n_docs=n_docs, n_terms=n_terms, avgdl=avgdl,
        sec=round(time.time() - t0, 3),
    )
