"""Layered benchmark of the excelastic_spark engine.

    python3 perfbench/run.py --workload build|ingest_serve \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. Every run sets up a seeded synthetic code
corpus, checks a small fixture index against the pandas oracle, sets up
its workload, measures for ``--seconds`` and checks its answers. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it is a JSON report
of the host settings, sample counts and checks. A traced run also writes
its spans to ``.perfbench_out/``.

``--smoke`` runs every workload at a tiny size in both modes and asserts
that every metric is emitted with its unit and that no answer was wrong.

Spark runs as ``local[nproc]`` with ``nproc`` shuffle partitions and its
scratch space, warehouse and inputs under ``.perfbench_work/`` in the
repository; the engine issues no fsync, so writes land in the page cache.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"

BUILD_STAGES = ("corpus.ingest", "tokenizer.tokenize", "build.docs",
                "build.terms", "build.stats", "build.postings")
TABLES = ("ingested", "triples", "docs", "terms", "stats", "postings")
INCREMENTAL_STAGES = tuple(f"incremental.{t}" for t in TABLES)
JOB_STAGES = ("build.validate",) + BUILD_STAGES + INCREMENTAL_STAGES \
    + ("merge.postings",)

# session settings recorded in the report, as Spark runs them
SESSION_CONF = ("spark.master", "spark.driver.memory",
                "spark.sql.shuffle.partitions",
                "spark.sql.files.maxPartitionBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes")

# Indexing and query cost in CPU time: on a shared host, wall time moves
# with the time the hypervisor gives other machines (cpu_steal_share in the
# report), by up to 2x between runs minutes apart; CPU time leaves it out.
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_cpu_s": "docs/cpu-s",
    "index_bytes_per_content_byte": "ratio",
    "query_cpu_ms": "ms",
    "peak_rss_mb": "MB",
}
# the wall-clock figures a user sees; reported by every run (untraced in
# the report line, traced as per-layer metrics) but too host-bound to gate
WALL = {
    "build_docs_per_s": "docs/s",
    "query_qps": "queries/s",
    "query_p50_ms": "ms",
    "query_p99_ms": "ms",
}
PER_LAYER = {
    **WALL,
    "build.validate_s": "s",
    **{f"{s}_s": "s" for s in BUILD_STAGES + INCREMENTAL_STAGES},
    "catalog.commit_s": "s",
    "build.unattributed_s": "s",
    "build.unattributed_share": "ratio",
    **{f"spark.jobs.{s}": "count" for s in JOB_STAGES},
    **{f"spark.tasks.{s}": "count" for s in JOB_STAGES},
    "tokenizer.triples": "count",
    "build.postings": "count",
    **{f"catalog.bytes.{t}": "bytes" for t in TABLES},
    "query.lookup_p50_ms": "ms",
    "query.lookup_p99_ms": "ms",
    "query.score_p50_ms": "ms",
    "query.score_p99_ms": "ms",
    "query.wait_p50_ms": "ms",
    "query.wait_p99_ms": "ms",
    "query.postings_per_query": "count",
    "query.wand_share": "ratio",
    "incremental.append_s": "s",
    "incremental.merge_s": "s",
    "catalog.segments": "count",
    "trace_overhead": "ratio",
}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep Spark, its Python workers and temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # a fixed heap size, so the JVM's share of peak_rss_mb does not
        # depend on when the collector chose to grow the heap
        f"--conf spark.driver.extraJavaOptions="
        f"'-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far: time the hypervisor
    ran something else while this machine's CPUs had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / (1 << 20)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ----------------------------------------------------------------- metrics


def wall_metrics(wl, ph) -> dict:
    """Medians over the phase's builds or appends and over its query
    windows."""
    from perfbench.queries import latency_ms

    # per window: (qps, p50, tail, tail quantile)
    wins = [(len(w.latency) / w.wall, *latency_ms(w.latency))
            for w in ph.windows]
    return {
        "build_docs_per_s": wl.docs_per_op() / median(ph.builds or ph.appends),
        "query_qps": median([w[0] for w in wins]),
        "query_p50_ms": median([w[1] for w in wins]),
        "query_p99_ms": median([w[2] for w in wins]),
    }


def end_to_end(wl, ph, setup_s: float, rss: float, b) -> dict:
    from perfbench.queries import tail_quantile

    b.info.update(
        queries=len(ph.samples.latency), windows=len(ph.windows),
        tail_quantile=round(
            tail_quantile(min(len(w.latency) for w in ph.windows)), 4),
        builds_s=ph.builds, appends_s=ph.appends, op_cpu_s=ph.op_cpu,
        merge_s=ph.merge, wall=wall_metrics(wl, ph),
    )
    return {
        "setup_s": setup_s,
        "build_docs_per_cpu_s": wl.docs_per_op() / median(ph.op_cpu),
        "index_bytes_per_content_byte": b.index_ratio(
            wl.store, wl.content_bytes()),
        "query_cpu_ms": median(
            [1000.0 * w.cpu / len(w.latency) for w in ph.windows]),
        "peak_rss_mb": rss,
    }


def per_layer(wl, ph, tracer, overhead: float, b) -> dict:
    import numpy as np

    from perfbench import checks
    from perfbench.queries import latency_ms
    from perfbench.trace import covered

    tracer.resolve_jobs()
    spans = tracer.spans
    builds = [sp for sp in spans if sp.name == "build"]
    appends = [sp for sp in spans if sp.name == "incremental.append"]
    writes = len(builds) + len(appends)

    def per_op(name: str, attr: str | None = None) -> float:
        """Total over the traced phase per operation that enters the
        layer: builds, appends, or any index write."""
        if name.startswith("incremental."):
            ops = len(appends)
        elif name == "build.validate":
            ops = writes
        elif name.startswith(("corpus.", "tokenizer.", "build.")):
            ops = len(builds)
        else:
            ops = writes + (ph.merge > 0)
        vals = [sp.attrs.get(attr, 0) if attr else sp.dur
                for sp in spans if sp.name == name]
        return float(sum(vals)) / ops if ops else 0.0

    out = wall_metrics(wl, ph)
    out["build.validate_s"] = per_op("build.validate")
    for st in BUILD_STAGES + INCREMENTAL_STAGES:
        out[f"{st}_s"] = per_op(st)
    out["catalog.commit_s"] = per_op("catalog.commit")
    # build wall time outside every blocking span the build entered
    kids: dict[int, list] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)
    un = [bd.dur - covered(bd, kids.get(bd.id, [])) for bd in builds]
    out["build.unattributed_s"] = median(un)
    out["build.unattributed_share"] = (
        median([u / bd.dur for u, bd in zip(un, builds)]) if builds else 0.0)
    for st in JOB_STAGES:
        out[f"spark.jobs.{st}"] = per_op(st, "jobs")
        out[f"spark.tasks.{st}"] = per_op(st, "tasks")
    out["tokenizer.triples"] = checks.dataset(wl.store, "triples").count_rows()
    out["build.postings"] = int(checks.pc.sum(checks.dataset(
        wl.store, "postings").to_table(columns=["n"])["n"]).as_py())
    for t in TABLES:
        out[f"catalog.bytes.{t}"] = checks.table_bytes(wl.store, t)
    s = ph.samples
    lat = np.asarray(s.latency)
    wait = lat - np.asarray(s.lookup) - np.asarray(s.score)
    for name, vals in (("lookup", s.lookup), ("score", s.score),
                       ("wait", wait)):
        p50, tail, _ = latency_ms(list(vals))
        out[f"query.{name}_p50_ms"] = p50
        out[f"query.{name}_p99_ms"] = tail
    out["query.postings_per_query"] = float(np.mean(ph.postings))
    out["query.wand_share"] = s.wand / max(len(s.latency), 1)
    out["incremental.append_s"] = median(ph.appends)
    out["incremental.merge_s"] = ph.merge
    out["catalog.segments"] = ph.segments
    out["trace_overhead"] = overhead
    return out


# --------------------------------------------------------------------- run


def engine_config(docs: int):
    """The engine settings of a run over ``docs`` documents. The session
    settings among them (shuffle partitions, file split and advisory
    partition sizes) do not depend on ``docs`` and are applied when the
    session starts."""
    from excelastic_spark.config import EngineConfig

    salt = max(docs // 5, 8)
    return EngineConfig(
        shuffle_partitions=host_cores(),
        salt_threshold=salt,  # hot terms are salted, as at scale
        salt_target=salt // 2,
        files_max_partition_bytes=2 * 1024 * 1024,
        advisory_partition_bytes=4 * 1024 * 1024,
        warehouse=os.path.join(WORK, "warehouse"),
    )


def run(spark, workload: str, seed: int, seconds: float, trace: bool,
        smoke: bool = False) -> dict:
    """One benchmark run; returns its report and result objects."""
    from perfbench.trace import Tracer
    from perfbench.workloads import FULL, SMOKE, WORKLOADS, Bench

    sizes = SMOKE if smoke else FULL
    cores = host_cores()
    cfg = engine_config(sizes.docs)
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(spark)
    b = Bench(spark, cfg, sizes, seed, seconds, cores, work, tracer,
              passes=2 if trace else 1)
    t_run = time.perf_counter()
    steal0 = cpu_steal()
    wl = WORKLOADS[workload](b)
    setup_s = wl.setup()
    b.info["setup_total_s"] = round(time.perf_counter() - t_run, 2)
    try:
        if trace:
            tracer.install()
            try:
                ph = wl.measure()
                untraced = median(ph.ops)
                tracer.enabled = True
                ph = wl.measure()
                tracer.enabled = False
            finally:
                tracer.uninstall()
            overhead = median(ph.ops) / untraced
        else:
            ph = wl.measure()
    finally:
        wl.close()
    rss = hwm_mb("self") + hwm_mb(spark.sparkContext._gateway.proc.pid)
    if trace:
        metrics = per_layer(wl, ph, tracer, overhead, b)
        units = PER_LAYER
        os.makedirs(OUT, exist_ok=True)
        spans_path = os.path.join(OUT, f"spans-{workload}-seed{seed}.jsonl")
        tracer.write(spans_path)
        b.info["spans"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = end_to_end(wl, ph, setup_s, rss, b)
        units = END_TO_END
    b.info.update(
        workload=workload, seed=seed, seconds=seconds, trace=int(trace),
        cores=cores, memory_gb=round(mem_total_gb(), 1),
        warehouse_fs=fs_type(work), flush="no fsync; page cache only",
        spark_conf={k: spark.conf.get(k) for k in SESSION_CONF},
        docs=sizes.docs, run_s=round(time.perf_counter() - t_run, 2),
        error_rate=b.failed / max(b.attempted, 1), problems=b.problems,
    )
    steal1 = cpu_steal()
    # run-to-run spread on a shared host follows this share closely
    b.info["cpu_steal_share"] = round(
        (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "report": b.info,
        "result": {
            "correct": b.failed == 0,
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        },
    }


def start_spark():
    from excelastic_spark.session import get_spark
    from perfbench.workloads import FULL

    spark = get_spark(app_name="perfbench", master=f"local[{host_cores()}]",
                      config=engine_config(FULL.docs))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to
    exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its parent's pipe closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def smoke() -> None:
    from perfbench.workloads import WORKLOADS

    spark = start_spark()
    try:
        for wl in WORKLOADS:
            for trace, units in ((False, END_TO_END), (True, PER_LAYER)):
                out = run(spark, wl, seed=1, seconds=1, trace=trace,
                          smoke=True)
                res = out["result"]
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != units:
                    raise SystemExit(f"{wl}: metrics {got} != {units}")
                if out["report"]["error_rate"] != 0 or not res["correct"]:
                    raise SystemExit(f"{wl}: wrong answers {out['report']}")
                print(json.dumps({"workload": wl, "trace": int(trace),
                                  **res}), flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"smoke": "ok"}))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("build", "ingest_serve"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")
    sys.path.insert(0, ROOT)
    import excelastic_spark  # noqa: F401 — fail before starting Spark

    prepare_env(WORK)
    if args.smoke:
        smoke()
        return 0
    spark = start_spark()
    try:
        out = run(spark, args.workload, args.seed, args.seconds,
                  bool(args.trace))
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"report": out["report"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
