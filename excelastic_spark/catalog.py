"""Index storage seam: parquet tables + JSON snapshot manifest.

The north rule asks for Iceberg tables; no Iceberg runtime jar is available
offline in this sandbox (SURVEY.md §7), so this module is a thin catalog seam
with Iceberg-equivalent semantics at the call sites:

* bucket partitioning on ``bucket = pmod(xxhash64(term), n_buckets)`` — the
  parquet-directory analog of Iceberg's ``bucket(N, term)`` partition
  transform, giving partition pruning on term lookups;
* atomic snapshot commits — a table write lands in a ``snap-<id>`` directory
  and the manifest is swapped via atomic rename, so readers never see a
  half-written index (the property the reference gets from its
  validate-then-write two-phase design, ExcelParser.java:90-102 +
  README.md:15, and that Iceberg gets from metadata swaps);
* per-stage lineage entries (fingerprint of the input snapshot) so a build
  is checkpoint-resumable: a re-run skips stages whose committed fingerprint
  matches (north rule: "resumable from checkpoint with per-partition
  lineage");
* the Spark read schema of every committed snapshot dir, recorded in the
  manifest at commit (Iceberg's table-metadata schema analog), so a read
  of an engine table plans without a footer-inference job.

Swapping in real Iceberg is a config change: replace ``write_table`` /
``read_table`` bodies with ``writeTo(...).createOrReplace()`` / catalog reads.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import uuid
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

try:
    import fcntl
except ImportError:  # non-POSIX fallback: thread lock only
    fcntl = None


@dataclass(frozen=True)
class Snapshot:
    """One committed index version: the manifest parsed once. A reader
    that resolves every table through one Snapshot reads one version end
    to end, whatever commits land meanwhile — the dirs it names stay on
    disk for ``vacuum``'s grace window after the commit that replaced
    them (the Iceberg snapshot-read analog).

    ``version`` is the ``(mtime_ns, size)`` of the manifest file this was
    parsed from (None when no manifest exists): a reader compares it with
    one ``os.stat`` to decide whether a newer version is out.

    ``schemas`` maps each committed snapshot dir to the Spark schema
    (``StructType.jsonValue()``) a read of it yields, recorded at commit.
    :meth:`read` hands it to Spark so no footer-inference job runs; a dir
    without one (an index committed before schemas were recorded) is read
    with inference, as before."""

    root: str
    version: tuple[int, int] | None
    tables: dict[str, list[str]]
    stages: dict[str, dict[str, Any]]
    config: dict[str, Any] | None
    schemas: dict[str, dict[str, Any]]

    def paths(self, table: str) -> list[str]:
        loc = self.tables.get(table)
        if loc is None:
            raise KeyError(f"table {table!r} not committed in {self.root}")
        return loc

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        # one read per snapshot dir, unioned: each dir does its own hive
        # partition discovery (a single multi-root read conflicts);
        # partition pruning pushes into every branch of the union
        return functools.reduce(DataFrame.unionByName, (
            read_parquet(spark, p, self.schemas.get(p))
            for p in self.paths(table)
        ))

    def stats_row(self) -> dict[str, Any]:
        """The one-row stats table, read on the driver with pyarrow: no
        Spark job."""
        (path,) = self.paths("stats")  # KeyError on an unbuilt index
        return pq.read_table(path).to_pylist()[0]


def read_parquet(
    spark: SparkSession, path: str, schema: dict[str, Any] | None = None
) -> DataFrame:
    """A parquet dir as a DataFrame: with a known ``schema`` (JSON) Spark
    plans the scan without inferring it from the files' footers."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(path)


def _nullable(dt: DataType) -> DataType:
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _nullable(dt.valueType), True)
    return dt


def _read_schema(
    df: DataFrame | pa.Table, partition_by: list[str] | None = None
) -> dict[str, Any]:
    """The schema a Spark read of ``df``'s written dir yields: partition
    columns last, every field nullable (file sources read nullable)."""
    schema = (
        from_arrow_schema(df.schema) if isinstance(df, pa.Table)
        else df.schema
    )
    part = partition_by or []
    fields = [f for f in schema.fields if f.name not in part]
    fields += [schema[c] for c in part]
    return _nullable(StructType(fields)).jsonValue()


class IndexStore:
    """One named index inside a warehouse directory."""

    def __init__(self, warehouse: str, name: str):
        self.root = os.path.join(warehouse, name)
        os.makedirs(self.root, exist_ok=True)
        self.manifest_path = os.path.join(self.root, "manifest.json")
        self.metrics_path = os.path.join(self.root, "metrics.jsonl")
        # serializes manifest read-modify-write across threads of one
        # process (web uploads, concurrent appenders); the file lock below
        # extends this across PROCESSES (concurrent shard writers — the
        # optimistic-commit role Iceberg's metastore plays)
        self._mlock = threading.Lock()
        self._lock_path = os.path.join(self.root, ".manifest.lock")
        self._writer_tlock = threading.Lock()
        self._writer_lock_path = os.path.join(self.root, ".writer.lock")
        # staged path -> its read schema, until commit_snapshot records it
        self._staged: dict[str, dict[str, Any]] = {}

    @contextlib.contextmanager
    def writer_lock(self):
        """Exclusive cross-process WRITER section for read-compute-commit
        operations whose correctness depends on the manifest not changing
        between their initial read and their final commit — append
        (doc_id assignment from running totals) and merge (read-then-
        overwrite of the postings path list). The commit lock below only
        makes the final swap atomic; two appends could both read
        max_doc_id=M and assign colliding ids, and a merge could drop a
        segment appended mid-merge, without this outer serialization.
        Separate lock file so commit_snapshot/commit_stage can be called
        while held. Concurrent SHARD builds do NOT take it: their doc_ids
        are pre-assigned by the plan (disjoint by construction) and their
        commits are pure segment appends."""
        with self._writer_tlock:
            if fcntl is None:
                yield
                return
            with open(self._writer_lock_path, "a") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lf, fcntl.LOCK_UN)

    @contextlib.contextmanager
    def _commit_lock(self):
        """thread lock + advisory file lock: manifest read-modify-write is
        atomic across threads AND across independent writer processes
        (parallel shard builds append segments to one index)."""
        with self._mlock:
            if fcntl is None:
                yield
                return
            with open(self._lock_path, "a") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lf, fcntl.LOCK_UN)

    # ------------------------------------------------------------ manifest

    def manifest(self) -> dict[str, Any]:
        if not os.path.exists(self.manifest_path):
            return {"tables": {}, "stages": {}, "snapshots": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def snapshot(self) -> Snapshot:
        """The current committed version, parsed once. The version stamp is
        taken from the opened file itself, so it always names the manifest
        the tables came from (the swap replaces the file, never edits it)."""
        try:
            with open(self.manifest_path) as f:
                st = os.fstat(f.fileno())
                m = json.load(f)
            version = (st.st_mtime_ns, st.st_size)
        except FileNotFoundError:
            m, version = {}, None
        return Snapshot(
            root=self.root,
            version=version,
            tables={
                t: loc if isinstance(loc, list) else [loc]
                for t, loc in m.get("tables", {}).items()
            },
            stages=m.get("stages", {}),
            config=m.get("config"),
            schemas=m.get("schemas", {}),
        )

    def _commit_manifest(self, m: dict[str, Any]) -> None:
        tmp = self.manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic snapshot swap

    # -------------------------------------------------------------- tables

    def table_path(self, table: str) -> list[str]:
        return self.snapshot().paths(table)

    def has_table(self, table: str) -> bool:
        return table in self.snapshot().tables

    def stage_table(
        self,
        df: DataFrame | pa.Table,
        table: str,
        partition_by: list[str] | None = None,
    ) -> str:
        """Write a snapshot dir WITHOUT committing it to the manifest.
        Until :meth:`commit_snapshot` publishes the path, readers cannot see
        it and a crash leaves the index exactly as before (the staged dir is
        an orphan, removable by :meth:`vacuum`).

        A small driver-side ``pa.Table`` (the one-row stats table) is
        written with pyarrow, as one file: no Spark job."""
        snap = f"snap-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.root, table, snap)
        if isinstance(df, pa.Table):
            assert not partition_by, "a driver-side table is one file"
            os.makedirs(path)
            pq.write_table(df, os.path.join(path, "part-00000.parquet"))
        else:
            w = df.write.mode("errorifexists")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
        self._staged[path] = _read_schema(df, partition_by)
        return path

    def read_staged(self, spark: SparkSession, path: str) -> DataFrame:
        """Read back a dir this store staged, with the schema of the
        DataFrame written there (no inference job)."""
        return read_parquet(spark, path, self._staged.get(path))

    def commit_snapshot(
        self,
        writes: list[tuple[str, str, str]],
        stages: dict[str, dict[str, Any]] | None = None,
        config: dict[str, Any] | None = None,
    ) -> None:
        """Publish staged table writes + stage entries in ONE atomic
        manifest swap — the Iceberg multi-table-transaction analog. A
        multi-table operation (append: new docs/triples/postings segments +
        replaced terms/stats + advanced running totals) either becomes
        visible in full or not at all; there is no window where collection
        stats count docs whose postings never landed.

        ``writes``: ``(table, staged_path, mode)`` with mode ``'overwrite'``
        (Iceberg createOrReplace) or ``'append'`` (adds a snapshot dir that
        readers union — segment-append, SURVEY.md §2B B3). Each staged
        dir's read schema is recorded with it; entries of dirs no table
        names any more are dropped."""
        with self._commit_lock():
            m = self.manifest()
            schemas = m.get("schemas", {})
            for table, path, mode in writes:
                if mode == "append" and table in m["tables"]:
                    existing = m["tables"][table]
                    paths = (
                        existing if isinstance(existing, list) else [existing]
                    )
                    m["tables"][table] = paths + [path]
                else:
                    m["tables"][table] = path
                m["snapshots"].append(
                    {"table": table, "path": path, "ts": time.time(),
                     "mode": mode}
                )
                schema = self._staged.pop(path, None)
                if schema is not None:
                    schemas[path] = schema
            live = _live_paths(m)
            m["schemas"] = {p: v for p, v in schemas.items() if p in live}
            for stage, entry in (stages or {}).items():
                m["stages"][stage] = {"ts": time.time(), **entry}
            if config is not None:
                # layout persisted atomically WITH the tables it describes
                # (an increment creating a fresh index must not publish data
                # whose layout params a later session cannot recover)
                m["config"] = config
            self._commit_manifest(m)

    def write_table(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
    ) -> str:
        """Write to a fresh snapshot dir, then commit by manifest swap —
        stage + single-table commit_snapshot."""
        path = self.stage_table(df, table, partition_by)
        self.commit_snapshot([(table, path, mode)])
        return path

    def vacuum(self, grace_sec: float = 3600.0) -> list[str]:
        """Remove snapshot dirs not referenced by the manifest. Returns the
        removed paths.

        ``grace_sec`` is a time-bounded read lease, with no registry: a dir
        that a commit replaced (merge, overwrite) is kept until ``grace_sec``
        after THAT commit, as recorded in the manifest's ``snapshots`` log,
        so a reader that pinned the older version — a lazily executing
        distributed plan, an in-flight lookup — can still read it. A plan
        that outlives its lease fails with a file-not-found error, never a
        wrong answer. A dir no commit ever published (a crash orphan, or a
        concurrent writer's in-flight staging) is kept until ``grace_sec``
        after its mtime. Pass 0 only when no concurrent readers or writers
        can exist (tests, offline maintenance)."""
        import shutil

        m = self.manifest()
        live = _live_paths(m)
        replaced = _replaced_at(m["snapshots"])
        now = time.time()
        removed = []
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for snap in os.listdir(tdir):
                p = os.path.join(tdir, snap)
                if not snap.startswith("snap-") or p in live:
                    continue
                try:
                    since = replaced.get(p) or os.path.getmtime(p)
                except OSError:
                    continue  # already gone (concurrent vacuum)
                if now - since < grace_sec:
                    continue  # leased to a reader, or an in-flight stage
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
        return removed

    def read_table(self, spark: SparkSession, table: str) -> DataFrame:
        return self.snapshot().read(spark, table)

    def drop(self) -> None:
        """DELETE <index> analog (reference: ElasticWriter.java:186-194,
        the --clear flag)."""
        import shutil

        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)

    # -------------------------------------------------------------- config

    def save_config(self, cfg_dict: dict[str, Any]) -> None:
        """Persist the engine config used at build time so append/merge/
        query sessions default to the INDEX's layout parameters (salt
        thresholds, block size, bucket count) instead of process defaults."""
        with self._commit_lock():
            m = self.manifest()
            m["config"] = cfg_dict
            self._commit_manifest(m)

    def load_config(self) -> dict[str, Any] | None:
        return self.manifest().get("config")

    # --------------------------------------------------- lineage / resume

    def stage_done(self, stage: str, fingerprint: str) -> bool:
        st = self.manifest()["stages"].get(stage)
        return bool(st) and st.get("fingerprint") == fingerprint

    def commit_stage(
        self, stage: str, fingerprint: str, **extra: Any
    ) -> None:
        with self._commit_lock():
            m = self.manifest()
            m["stages"][stage] = {
                "fingerprint": fingerprint,
                "ts": time.time(),
                **extra,
            }
            self._commit_manifest(m)

    # -------------------------------------------------------------- metrics

    def log_metrics(self, stage: str, **metrics: Any) -> dict[str, Any]:
        """Per-stage structured metrics (terms/sec, postings/sec, bytes) —
        the analog of the reference's per-batch progress events
        (ElasticWriter.java:147-156), but engine-grade."""
        rec = {"stage": stage, "ts": time.time(), **metrics}
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
        return rec


def _live_paths(m: dict[str, Any]) -> set[str]:
    live: set[str] = set()
    for loc in m["tables"].values():
        live.update(loc if isinstance(loc, list) else [loc])
    return live


def _replaced_at(log: list[dict[str, Any]]) -> dict[str, float]:
    """path -> ts of the commit that took it out of the manifest, replayed
    from the commit log in order (an overwrite replaces every live path of
    its table; an append adds one)."""
    live: dict[str, list[str]] = {}
    out: dict[str, float] = {}
    for rec in log:
        table, path = rec["table"], rec["path"]
        if rec.get("mode") == "append":
            live.setdefault(table, []).append(path)
            continue
        for old in live.get(table, []):
            out.setdefault(old, rec["ts"])
        live[table] = [path]
    return out
