"""The workloads: ``build`` and ``ingest_serve``.

Each workload sets up (timed as ``setup_s``), then runs its measured phase,
checking its answers as it goes: ``build`` builds for at least the run's
seconds, ``ingest_serve`` runs the number of rounds the run's seconds
allow at ``ROUND_S`` each; both do at least ``MIN_OPS`` builds or appends.
A traced run calls ``measure`` twice, untraced and then traced, to report
the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.corpus import synthesize_corpus
from excelastic_spark.query import QueryEngine, QueryExecutor
from excelastic_spark.streaming.incremental import IncrementalIndexer

from perfbench import checks
from perfbench.queries import QuerySampler, Samples, closed_loop, digest

# the tables a query reads; ``ingested`` (a corpus copy) and ``triples``
# (a resume checkpoint) are not part of the served index
INDEX_TABLES = ("postings", "terms", "docs", "stats")
SETUP_REPS = 3  # input materializations per run; setup_s is their median
MIN_OPS = 2  # builds or appends per measured phase
# one ingest_serve round on 4 cores: a 1k-doc append (about 5.5 s) and a
# burst of three passes over the query pool (about 2 s)
ROUND_S = 7.5
COLD_PASSES = 4  # uncached passes over the query pool after a build
BURST_PASSES = 3  # passes over the query pool after each append
CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this process and every process it
    started: the Spark JVM and its Python workers, alive or reaped. Unlike
    wall time it leaves out the time the hypervisor ran other machines'
    work on these CPUs; on a shared 4-vCPU host that moved query wall time
    by up to 2x between runs minutes apart."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listed
            continue
        # fields after "pid (comm)": ppid is the 2nd, utime, stime,
        # cutime and cstime the 12th to 15th
        rest = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / CLK_TCK


def measured(fn):
    """(result, wall s, CPU s) of ``fn()``."""
    c0, t0 = cpu_s(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, cpu_s() - c0


def doc_number():
    """The generator's document number, from the path it wrote."""
    return F.regexp_extract("path", r"mod(\d+)\.", 1).cast("long")


@dataclass(frozen=True)
class Sizes:
    docs: int  # base corpus
    inc_docs: int  # one appended increment
    fixture_docs: int  # oracle-checked fixture index
    pool: int  # distinct queries in the stream
    rescore: int  # queries re-scored from the triples table


# sized so that one run, set-up included, takes about a minute on 4 cores
FULL = Sizes(docs=10_000, inc_docs=1_000, fixture_docs=200, pool=512,
             rescore=32)
SMOKE = Sizes(docs=600, inc_docs=100, fixture_docs=60, pool=64, rescore=8)


@dataclass
class Phase:
    """One pass of a workload's measured phase."""

    samples: Samples = field(default_factory=Samples)  # every window
    windows: list[Samples] = field(default_factory=list)
    builds: list[float] = field(default_factory=list)
    appends: list[float] = field(default_factory=list)
    op_cpu: list[float] = field(default_factory=list)  # per build or append
    merge: float = 0.0
    segments: int = 1
    ops: list[float] = field(default_factory=list)  # wall per unit of work
    postings: list[int] = field(default_factory=list)  # per query

    def add(self, window: Samples) -> None:
        """One measurement window: a pass over the query pool (build) or a
        burst (ingest_serve). The end-to-end query metrics are medians over
        windows, so a few seconds of host interference move one window and
        not the run's figure."""
        self.windows.append(window)
        self.samples.extend(window)


class Bench:
    """State shared by the set-up, measured phase and checks of one run."""

    def __init__(self, spark, cfg, sizes: Sizes, seed: int, seconds: float,
                 cores: int, work: str, tracer, passes: int):
        self.spark, self.cfg, self.sizes = spark, cfg, sizes
        self.seed, self.seconds, self.cores = seed, seconds, cores
        self.work, self.tracer, self.passes = work, tracer, passes
        self.wh = os.path.join(work, "warehouse")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.info: dict = {}

    # ---------------------------------------------------------- helpers

    def fail(self, n: int, what: str) -> None:
        self.failed += n
        if n:
            self.problems.append(what)

    def materialize(self, path: str, n_docs: int, increments: int) -> None:
        """Seeded corpus to parquet: part 0 is the base corpus, parts 1..
        are the increments, all from one generator run so keys never
        repeat across parts."""
        s = self.sizes
        total = n_docs + increments * s.inc_docs
        i = doc_number()
        part = F.when(i < n_docs, 0).otherwise(
            ((i - n_docs) / s.inc_docs).cast("int") + 1
        )
        (synthesize_corpus(self.spark, total, seed=self.seed,
                           partitions=self.cores)
         .withColumn("part", part)
         .write.partitionBy("part").parquet(path))

    def read_part(self, path: str, part: int):
        return (self.spark.read.parquet(path)
                .filter(F.col("part") == part).drop("part"))

    def content_bytes(self, path: str, parts: int) -> int:
        return int(
            self.spark.read.parquet(path)
            .filter(F.col("part") < parts)
            .agg(F.sum(F.octet_length("content"))).collect()[0][0]
        )

    def setup_inputs(self, n_docs: int, increments: int) -> tuple[str, float]:
        """Materialize the inputs SETUP_REPS times, or once in a traced run,
        which does not report setup_s; (path, median s)."""
        times, path = [], ""
        for r in range(SETUP_REPS if self.passes == 1 else 1):
            if path:
                shutil.rmtree(path, ignore_errors=True)
            path = os.path.join(self.work, f"inputs-{r}")
            t0 = time.perf_counter()
            self.materialize(path, n_docs, increments)
            times.append(time.perf_counter() - t0)
        return path, statistics.median(times)

    def build(self, name: str, corpus) -> tuple[IndexStore, float, float]:
        """(store, wall s, CPU s) of one full build."""
        store = IndexStore(self.wh, name)
        _, wall, cpu = measured(
            lambda: IndexBuilder(self.spark, store, self.cfg).build(corpus))
        self.attempted += 1
        return store, wall, cpu

    def window(self, ex, pool, count: int) -> Samples:
        """One measurement window of ``count`` queries from ``pool``."""
        w, _, cpu = measured(lambda: closed_loop(
            ex, pool, self.cores, count, tracer=self.tracer))
        w.cpu = cpu
        return w

    def sampler(self, store: IndexStore) -> QuerySampler:
        terms = checks.dataset(store, "terms").to_table(
            columns=["term", "df"]).to_pylist()
        n_docs = checks.stats_row(store)["n_docs"]
        return QuerySampler([(t["term"], t["df"]) for t in terms], n_docs,
                            self.seed)

    def open_warm(self, store: IndexStore, pool) -> tuple[QueryExecutor, float]:
        """Open the index and run one warm-up pass over the query pool."""
        t0 = time.perf_counter()
        ex = QueryExecutor(QueryEngine(self.spark, store, self.cfg))
        closed_loop(ex, pool, self.cores, len(pool))
        return ex, time.perf_counter() - t0

    # ---------------------------------------------------------- checks

    def fixture_check(self, inputs: str) -> None:
        """Build a small index from the first documents of the inputs and
        compare every query shape bit-for-bit with the pandas oracle. It is
        also the warm-up build before any timed one."""
        t0 = time.perf_counter()
        store = IndexStore(self.wh, "fixture")
        IndexBuilder(self.spark, store, self.cfg.tiny()).build(
            self.read_part(inputs, 0).filter(
                doc_number() < self.sizes.fixture_docs))
        self.attempted += 1
        oracle = checks.fixture_oracle(store)
        shapes = self.sampler(store).every_shape(per_shape=3)
        with QueryExecutor(QueryEngine(self.spark, store)) as ex:
            n, bad = checks.check_queries(ex, oracle, shapes)
        self.attempted += n
        self.fail(bad, f"fixture: {bad} of {n} answers differ from oracle")
        self.info["fixture_s"] = round(time.perf_counter() - t0, 2)

    def check_answers(self, samples: Samples, ex, store, pool,
                      rescore: int | None = None) -> None:
        """Every answer must repeat the first answer seen for its query
        (one snapshot per call), and a seeded sample of the queries must
        match the triples re-score; timed answers to sampled queries are
        held to the re-score directly."""
        rng = np.random.default_rng(self.seed + 1)
        n = min(rescore or self.sizes.rescore, len(pool))
        picks = rng.choice(len(pool), size=n, replace=False)
        oracle = checks.TriplesOracle(
            store, {t for i in picks for t in pool[i].terms})
        first: dict[int, bytes] = {}
        for i in picks:
            q = pool[i]
            exp = oracle.search(list(q.terms), q.mode, q.k)
            first[int(i)] = digest(exp["doc_id"].to_numpy(),
                                   exp["score"].to_numpy())
            res = ex.search(list(q.terms), mode=q.mode, k=q.k)
            self.attempted += 1
            self.fail(not checks.same_answer(res, exp),
                      f"re-score mismatch on {q}")
        bad = sum(first.setdefault(qid, ans) != ans
                  for qid, ans in zip(samples.qid, samples.answer))
        self.fail(bad, f"{bad} answers differ from the checked answer")
        self.fail(samples.errors, f"{samples.errors} queries raised")

    def check_tables(self, store: IndexStore) -> None:
        self.attempted += 1
        problems = checks.check_tables(store, self.seed)
        self.fail(len(problems), "; ".join(problems))

    def index_ratio(self, store: IndexStore, content: int) -> float:
        tables = {t: checks.table_bytes(store, t)
                  for t in ("ingested", "triples") + INDEX_TABLES}
        self.info["table_bytes"] = tables
        return sum(tables[t] for t in INDEX_TABLES) / content


# -------------------------------------------------------------- build


class Build:
    """Fresh full builds back to back; each built index is then queried
    with caching off, so postings fetch and decode are on every query."""

    def __init__(self, b: Bench):
        self.b = b

    def close(self) -> None:
        pass

    def setup(self) -> float:
        b = self.b
        self.inputs, setup_s = b.setup_inputs(b.sizes.docs, 0)
        b.fixture_check(self.inputs)
        self.corpus = b.read_part(self.inputs, 0)
        # the first full-size build in a JVM is the slowest: keep it untimed
        self.store, _, _ = b.build("build-warmup", self.corpus)
        return setup_s

    def measure(self) -> Phase:
        b, ph = self.b, Phase()
        deadline = time.perf_counter() + b.seconds
        while len(ph.builds) < MIN_OPS or time.perf_counter() < deadline:
            if self.store is not None:
                shutil.rmtree(self.store.root, ignore_errors=True)
            self.store, dt, cpu = b.build(f"build-{len(ph.builds)}",
                                          self.corpus)
            ph.builds.append(dt)
            ph.op_cpu.append(cpu)
        store = self.store
        ph.ops = list(ph.builds)
        sampler = b.sampler(store)
        pool = sampler.stream(b.sizes.pool)
        ph.postings = [sampler.postings(q) for q in pool]
        with QueryExecutor(
            QueryEngine(b.spark, store, b.cfg, cache_mb=0)
        ) as ex:
            for _ in range(COLD_PASSES):
                ph.add(b.window(ex, pool, len(pool)))
            b.attempted += len(ph.samples.latency) + ph.samples.errors
            b.check_answers(ph.samples, ex, store, pool)
        b.check_tables(store)
        return ph

    def docs_per_op(self) -> int:
        return self.b.sizes.docs

    def content_bytes(self) -> int:
        return self.b.content_bytes(self.inputs, 1)


# -------------------------------------------------------- ingest_serve


class IngestServe:
    """One thread alternates an append of one increment with a burst of
    the query stream through ``QueryExecutor``; one merge closes the phase.
    Every commit empties the decoded-postings cache, so each burst pays
    fetch and decode for the first query on a term and reads the cache
    after that.

    Each measured pass runs a fixed number of rounds, set by the run's
    seconds alone, on its own copy of the base index built in set-up: a
    traced run's two passes do the same work from the same state, and a
    faster engine measures the same work in less time."""

    def __init__(self, b: Bench):
        self.b = b
        self.opened: list[tuple[IndexStore, QueryExecutor]] = []

    def setup(self) -> float:
        b, s = self.b, self.b.sizes
        self.rounds = max(MIN_OPS, round(b.seconds / ROUND_S))
        self.inputs, inputs_s = b.setup_inputs(s.docs, self.rounds)
        b.fixture_check(self.inputs)
        stores = [b.build(f"ingest-{p}", b.read_part(self.inputs, 0))[0]
                  for p in range(b.passes)]
        self.sampler = b.sampler(stores[0])
        self.pool = self.sampler.stream(s.pool)
        opens = []
        for store in stores:
            ex, open_s = b.open_warm(store, self.pool)
            self.opened.append((store, ex))
            opens.append(open_s)
        return inputs_s + opens[0]

    def measure(self) -> Phase:
        b, ph, s = self.b, Phase(), self.b.sizes
        self.store, ex = self.opened.pop(0)
        n_docs = s.docs
        indexer = IncrementalIndexer(b.spark, self.store, b.cfg)
        for part in range(1, self.rounds + 1):
            t0 = time.perf_counter()
            _, dt, cpu = measured(lambda: indexer.append_increment(
                b.read_part(self.inputs, part)))
            ph.appends.append(dt)
            ph.op_cpu.append(cpu)
            b.attempted += 1
            n_docs += s.inc_docs
            got = checks.stats_row(self.store)["n_docs"]
            b.fail(got != n_docs,
                   f"n_docs {got} after append, expected {n_docs}")
            burst = b.window(ex, self.pool, BURST_PASSES * len(self.pool))
            b.attempted += len(burst.latency) + burst.errors
            b.check_answers(burst, ex, self.store, self.pool,
                            rescore=s.rescore // 4)
            ph.add(burst)
            ph.ops.append(time.perf_counter() - t0)
        ph.postings = [self.sampler.postings(self.pool[i])
                       for i in ph.samples.qid]
        ph.segments = len(checks.table_paths(self.store, "postings"))
        t0 = time.perf_counter()
        indexer.merge_segments()
        ph.merge = time.perf_counter() - t0
        b.attempted += 1
        b.check_answers(Samples(), ex, self.store, self.pool)
        b.check_tables(self.store)
        ex.shutdown()
        return ph

    def docs_per_op(self) -> int:
        """This workload's writes are the appends."""
        return self.b.sizes.inc_docs

    def content_bytes(self) -> int:
        """Content of every part the index holds."""
        return self.b.content_bytes(self.inputs, self.rounds + 1)

    def close(self) -> None:
        for _, ex in self.opened:
            ex.shutdown()


WORKLOADS = {"build": Build, "ingest_serve": IngestServe}
