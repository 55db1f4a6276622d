"""Job and task budgets of the index writes, generated-code reuse, and
the manifest's recorded schemas.

Every Spark job a write launches costs a fixed scheduling and codegen
overhead whatever its data size, so a write launches only the jobs that
move index data: reads of engine tables plan from the schema recorded in
the manifest (no footer-inference job), the stats row is written on the
driver, and segment totals are observed inside the writes that stage
them. Every task costs a fixed deserialization overhead too, so the
bucket-partitioned writes let AQE coalesce their exchange to as few tasks
as the data needs. The budgets below are the job and task counts of each
call on a tiny index; a reintroduced inference, count, collect or
fixed-count exchange exceeds them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from excelastic_spark import sharded
from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import CORPUS_SCHEMA, synthesize_corpus
from excelastic_spark.plans.audit import count_jobs
from excelastic_spark.query import QueryEngine
from excelastic_spark.streaming.incremental import IncrementalIndexer

CFG = EngineConfig().tiny().with_overrides(shuffle_partitions=4)
QS = [
    (["import", "return"], "or", 10),
    (["def", "class"], "and", 10),
    (["import", "sym0100"], "or", 10),
]
# jobs per call, each counting the caller's one parquet read of its input;
# an empty append runs only its validation pass
BUDGET = {"build": 15, "append": 16, "empty_append": 3, "merge": 4, "pin": 0}
TASK_BUDGET = {"build": 20, "append": 25, "empty_append": 3, "merge": 18}
# the shard-parallel writer on the same 100-doc base, as 2 shards: jobs and
# tasks per shard build (its input read included) and for the finalize
SHARD_BUDGET = {"build_shard": 14, "finalize": 5}
SHARD_TASK_BUDGET = {"build_shard": 19, "finalize": 13}
# generated classes a repeat append compiles: its literal doc-id offset
# differs from the previous append's, everything else is cached
REPEAT_APPEND_COMPILES = 4


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """Parquet inputs: a 100-doc base, two 30-doc increments and an empty
    one."""
    root = tmp_path_factory.mktemp("inputs")
    paths = {}
    for name, n, seed in (("base", 100, 42), ("inc1", 30, 7), ("inc2", 30, 8)):
        paths[name] = str(root / name)
        synthesize_corpus(spark, n, seed=seed, partitions=2).withColumn(
            "path", F.concat(F.lit(f"{name}/"), F.col("path"))
        ).write.parquet(paths[name])
    paths["empty"] = str(root / "empty")
    spark.createDataFrame([], CORPUS_SCHEMA).write.parquet(paths["empty"])
    return paths


def _answers(spark, store):
    qe = QueryEngine(spark, store, CFG)
    out = []
    for terms, mode, k in QS:
        res = qe.search(terms, mode, k)
        out.append((list(res.doc_ids), res.scores.tolist()))
    return out


def _rows(spark, store, table):
    df = store.read_table(spark, table)
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_write_job_budgets(spark, tmp_path, inputs):
    store = IndexStore(str(tmp_path), "budget")
    _, n, t = count_jobs(spark, lambda: IndexBuilder(spark, store, CFG).build(
        spark.read.parquet(inputs["base"])))
    assert n <= BUDGET["build"], n
    assert t <= TASK_BUDGET["build"], t
    # engine construction reads the stats row on the driver
    qe, n, _ = count_jobs(spark, lambda: QueryEngine(spark, store, CFG))
    assert n == BUDGET["pin"], n
    inc = IncrementalIndexer(spark, store, CFG)
    for name in ("inc1", "inc2"):
        _, n, t = count_jobs(spark, lambda: inc.append_increment(
            spark.read.parquet(inputs[name])))
        assert n <= BUDGET["append"], (name, n)
        assert t <= TASK_BUDGET["append"], (name, t)
        # the first pin after a commit builds the new state job-free
        _, n, _ = count_jobs(spark, qe.pin)
        assert n == BUDGET["pin"], n
    _, n, t = count_jobs(spark, lambda: inc.append_increment(
        spark.read.parquet(inputs["empty"])))
    assert n <= BUDGET["empty_append"], n
    assert t <= TASK_BUDGET["empty_append"], t
    _, n, t = count_jobs(spark, inc.merge_segments)
    assert n <= BUDGET["merge"], n
    assert t <= TASK_BUDGET["merge"], t
    _, n, _ = count_jobs(spark, qe.pin)
    assert n == BUDGET["pin"], n
    assert qe.pin().n_docs == 160


def test_shard_build_job_budgets(spark, tmp_path, inputs):
    store = IndexStore(str(tmp_path), "shards")
    sharded.plan_shards(spark.read.parquet(inputs["base"]), 2, store, CFG)
    for shard in (0, 1):
        _, n, t = count_jobs(spark, lambda: sharded.build_shard(
            spark, store, spark.read.parquet(inputs["base"]), shard, CFG))
        assert n <= SHARD_BUDGET["build_shard"], (shard, n)
        assert t <= SHARD_TASK_BUDGET["build_shard"], (shard, t)
    _, n, t = count_jobs(spark, lambda: sharded.finalize(spark, store, CFG))
    assert n <= SHARD_BUDGET["finalize"], n
    assert t <= SHARD_TASK_BUDGET["finalize"], t
    assert QueryEngine(spark, store, CFG).pin().n_docs == 100


def test_build_jobs_stay_in_callers_job_group(spark, tmp_path, inputs):
    """Every stage of a build runs on the calling thread, in the caller's
    job group: no job of a build runs ungrouped, where cancelling the
    caller's group would miss it."""
    tracker = spark.sparkContext.statusTracker()
    store = IndexStore(str(tmp_path), "group")
    before = set(tracker.getJobIdsForGroup(None))
    count_jobs(spark, lambda: IndexBuilder(spark, store, CFG).build(
        spark.read.parquet(inputs["base"])))
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def _compiles(spark) -> int:
    """Generated classes Spark has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_append_reuses_generated_code(spark, tmp_path, inputs):
    store = IndexStore(str(tmp_path), "codegen")
    IndexBuilder(spark, store, CFG).build(spark.read.parquet(inputs["base"]))
    inc = IncrementalIndexer(spark, store, CFG)
    inc.append_increment(spark.read.parquet(inputs["inc1"]))
    before = _compiles(spark)
    inc.append_increment(spark.read.parquet(inputs["inc2"]))
    assert _compiles(spark) - before <= REPEAT_APPEND_COMPILES


def test_recorded_schemas_equal_inferred(spark, tmp_path, inputs):
    """Every committed dir carries a recorded schema, and it is exactly
    what Spark infers from the dir's files (file sources read nullable)."""
    store = IndexStore(str(tmp_path), "schemas")
    IndexBuilder(spark, store, CFG).build(spark.read.parquet(inputs["base"]))
    inc = IncrementalIndexer(spark, store, CFG)
    inc.append_increment(spark.read.parquet(inputs["inc1"]))
    m = store.manifest()
    live = {
        p for loc in m["tables"].values()
        for p in (loc if isinstance(loc, list) else [loc])
    }
    assert set(m["schemas"]) == live
    for path, recorded in m["schemas"].items():
        inferred = spark.read.parquet(path).schema
        assert StructType.fromJson(recorded) == inferred, path
    # a merge drops the replaced postings dirs' entries with them
    inc.merge_segments()
    snap = store.snapshot()
    assert len(snap.paths("postings")) == 1
    assert [p for p in snap.schemas if "/postings/" in p] == (
        snap.paths("postings")
    )


def test_manifest_without_schemas_reads_by_inference(spark, tmp_path, inputs):
    """An index committed before schemas were recorded queries, appends
    and merges with answers and tables identical to one that has them."""
    stores = [IndexStore(str(tmp_path), n) for n in ("with", "without")]
    for store in stores:
        IndexBuilder(spark, store, CFG).build(
            spark.read.parquet(inputs["base"]))
    bare = stores[1]
    with bare._commit_lock():
        m = bare.manifest()
        del m["schemas"]
        bare._commit_manifest(m)
    assert bare.snapshot().schemas == {}

    def step(fn):
        for store in stores:
            fn(store)
        with_schemas, without = (_answers(spark, s) for s in stores)
        assert with_schemas == without

    step(lambda s: None)
    step(lambda s: IncrementalIndexer(spark, s, CFG).append_increment(
        spark.read.parquet(inputs["inc1"])))
    step(lambda s: IncrementalIndexer(spark, s, CFG).merge_segments())
    for table in ("postings", "terms", "docs", "triples", "stats"):
        assert _rows(spark, stores[0], table) == _rows(spark, bare, table)
