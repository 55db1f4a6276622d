"""Spans around the calls into each engine layer, recorded from outside.

The benchmark must not edit ``excelastic_spark``, so tracing wraps the
public functions a layer is entered through (``IndexStore.write_table``,
``IndexBuilder.build``, ...) for the length of a traced run and restores
them afterwards. A span has a name, start, end, parent and thread; spans
stay in memory and are written out once, when the run ends.

Every stage of the engine runs lazily inside the table write that
persists it, so the time of one ``write_table``/``stage_table`` call is
the time of that stage. Each such call also runs under its own Spark job
group, set on the calling thread, so the jobs and tasks it launched can
be read back from Spark's status tracker.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

# table written -> layer that produced it, for a full build; an append
# stages the same tables and is reported as ``incremental.<table>``
BUILD_LAYER = {
    "ingested": "corpus.ingest",
    "triples": "tokenizer.tokenize",
    "docs": "build.docs",
    "terms": "build.terms",
    "stats": "build.stats",
    "postings": "build.postings",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``enabled`` is False outside the traced pass, so the
    wrappers cost one attribute test when installed but switched off."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # the operation (build / append / merge) in progress: the docs
        # stage of a build runs on a pool thread, whose own stack is empty
        self._op: Span | None = None
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        sp = Span(
            next(self._ids), name, time.perf_counter(),
            parent=parent.id if parent else None,
            thread=threading.current_thread().name, attrs=attrs,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A finished span measured by the caller (one client query)."""
        if self.enabled:
            sp = Span(next(self._ids), name, start, end,
                      thread=threading.current_thread().name, attrs=attrs)
            with self._lock:
                self.spans.append(sp)

    @contextlib.contextmanager
    def operation(self, name: str, **attrs):
        with self.span(name, **attrs) as sp:
            prev, self._op = self._op, sp if sp is not None else self._op
            try:
                yield sp
            finally:
                self._op = prev

    @contextlib.contextmanager
    def stage(self, table: str):
        """Span for one table write, named by the layer that produced the
        table, with the Spark jobs and tasks it launched."""
        if not self.enabled or getattr(self._local, "in_stage", False):
            yield  # write_table -> stage_table: count the outer call once
            return
        op = self._stack()[-1] if self._stack() else self._op
        prefix = op.name.split(".")[-1] if op is not None else "build"
        if prefix == "append":
            name = f"incremental.{table}"
        elif prefix == "merge":
            name = f"merge.{table}"
        else:
            name = BUILD_LAYER.get(table, f"catalog.{table}")
        self._local.in_stage = True
        try:
            with self.span(name, table=table) as sp, self.job_group(sp):
                yield
        finally:
            self._local.in_stage = False

    @contextlib.contextmanager
    def job_group(self, sp: Span):
        sc = self.spark.sparkContext
        sp.attrs["group"] = f"perfbench-{sp.id}"
        sc.setJobGroup(sp.attrs["group"], sp.name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def resolve_jobs(self) -> None:
        """Read each span's job and task counts back from the status
        tracker. Spark's listener updates it asynchronously, so this runs
        once at the end of the run rather than as each span closes."""
        tracker = self.spark.sparkContext.statusTracker()
        time.sleep(0.5)
        for sp in self.spans:
            group = sp.attrs.pop("group", None)
            if group is None:
                continue
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else []:
                    st = tracker.getStageInfo(s)
                    tasks += st.numCompletedTasks if st else 0
            sp.attrs["jobs"] = len(jobs)
            sp.attrs["tasks"] = tasks

    # -------------------------------------------------------- wrapping

    def _wrap(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        """Wrap the layer entry points. Reversed by :meth:`uninstall`."""
        from excelastic_spark import build
        from excelastic_spark.catalog import IndexStore
        from excelastic_spark.streaming import incremental

        tr = self

        def op(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.operation(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        def plain(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        def table_write(orig):
            def wrapper(store, df, table, *a, **kw):
                with tr.stage(table):
                    return orig(store, df, table, *a, **kw)
            return wrapper

        def validate(orig):
            def wrapper(*a, **kw):
                with tr.span("build.validate") as sp:
                    if sp is None:
                        return orig(*a, **kw)
                    with tr.job_group(sp):
                        return orig(*a, **kw)
            return wrapper

        self._wrap(build.IndexBuilder, "build", op("build"))
        self._wrap(incremental.IncrementalIndexer, "append_increment",
                   op("incremental.append"))
        self._wrap(incremental.IncrementalIndexer, "merge_segments",
                   op("incremental.merge"))
        # both modules bound the function by name at import time
        self._wrap(build, "validate_and_fingerprint", validate)
        self._wrap(incremental, "validate_and_fingerprint", validate)
        # driver-side planning between the stage writes: parquet schema
        # reads of the previous stage and the lazy plans of the next
        self._wrap(IndexStore, "read_table", plain("catalog.read"))
        for fn, name in (("ingest_corpus", "plan.ingest"),
                         ("encode_postings", "plan.postings"),
                         ("term_stats", "plan.terms")):
            self._wrap(build, fn, plain(name))
        self._wrap(IndexStore, "write_table", table_write)
        self._wrap(IndexStore, "stage_table", table_write)
        for name in ("commit_stage", "commit_snapshot", "save_config"):
            self._wrap(IndexStore, name, plain("catalog.commit"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # ----------------------------------------------------------- output

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {
            s.id: s.dur - covered(s, kids.get(s.id, [])) for s in self.spans
        }

    def write(self, path: str) -> None:
        selfs = self.self_times()
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start": round(s.start - t0, 6),
                    "end": round(s.end - t0, 6),
                    "self": round(selfs[s.id], 6),
                    "thread": s.thread, **s.attrs,
                }) + "\n")


def covered(parent: Span, spans: list[Span]) -> float:
    """Length of the union of ``spans`` clipped to ``parent``'s interval —
    children may overlap when a stage runs on another thread."""
    ivs = sorted(
        (max(s.start, parent.start), min(s.end, parent.end)) for s in spans
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
