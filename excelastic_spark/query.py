"""Query executor: top-k BM25 conjunctive (AND) / disjunctive (OR) search.

This is the half the reference delegates wholesale to Elasticsearch
(README.md:3 "easily searchable in kibana"; the reference only writes via
POST _bulk, ElasticWriter.java:180-184). Built from scratch on public
BM25/WAND semantics.

Two execution paths:

* ``search`` (head-node path): term lookups read the postings table's
  parquet files directly — bucket is a parquet partition column (Iceberg
  bucket-transform analog), so a lookup opens only the query terms'
  bucket directories. Their footers are parsed once per pinned snapshot
  (``SnapshotState.fetch``); the fetched rows come back as one Arrow
  table and decode in three vectorized varint passes per query, read
  straight from the Arrow buffers (``decode_postings``). Salted
  sub-lists are merged (they partition docs disjointly). Scoring is
  vectorized numpy: a dense doc-id accumulator when the postings fill
  the id space, else a sorted AND-intersection or OR-union; block-max
  WAND runs only when forced. This is how a search head node
  serves low-latency queries off a 10^12-doc index: it reads only the
  query terms' postings, never the corpus.
* ``search_distributed`` (cluster path): for analytics-style queries whose
  candidate sets are too big for one node — decodes postings in executors
  via mapInArrow (the same batch decoder), pivots per-term weight columns
  (fixed fold order -> IEEE deterministic scores), global top-k via ORDER
  BY ... LIMIT k (Spark TakeOrdered — no full sort).

Determinism contract: scores are float64, accumulated in ascending
lexicographic term order; output ordered by (score DESC, doc_id ASC) —
rank-identical to the pandas oracle in both docIDs and scores.
"""

from __future__ import annotations

import os
import threading
import time
from collections import OrderedDict
from collections.abc import Iterator
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from excelastic_spark import codec
from excelastic_spark.catalog import IndexStore, Snapshot
from excelastic_spark.config import EngineConfig
from excelastic_spark.wand import (
    TermPostings,
    WandStats,
    exhaustive_or,
    topk_by_score,
    wand_topk,
)
from excelastic_spark.xxh import term_bucket

# Dense-scatter scorer eligibility (the monster-df path; see search()):
# scoring via a doc_id-indexed accumulator costs O(span) zero-fill plus one
# random scatter per posting and NO sorts, vs the sorted path's O(n log n)
# salt-merge argsort + O(union log union) np.unique. Worth it when the
# postings actually fill the id space (stopword-grade terms) and the
# accumulator fits head-node memory.
DENSE_MAX_SPAN = 64_000_000  # 512 MB float64 accumulator ceiling
DENSE_MIN_FILL = 8  # use dense when total postings >= span/8


class TermRun(NamedTuple):
    """One term's rows of a :func:`decode_postings` table, decoded: its
    salted rows are ``rows`` of the sorted table, and its postings are
    those rows' doc_ids, tfs and doclens, concatenated in salt order."""

    rows: slice
    doc_ids: np.ndarray  # uint64, ascending within each salted row
    tfs: np.ndarray
    doclens: np.ndarray

    @property
    def presorted(self) -> bool:
        """One salted row: its doc_ids are already ascending."""
        return self.rows.stop - self.rows.start == 1


def decode_postings(tbl: pa.Table) -> tuple[pa.Table, dict[str, TermRun]]:
    """Fetched posting rows (postings or heads) -> the rows sorted by
    (term, salt), and each term's decoded postings. The whole query
    decodes in THREE varint passes (:func:`codec.decode_rows`) however
    many terms and salted rows it fetched: a hot term at scale has
    thousands of salted rows, and per-row decode calls dominated lookup
    before (600 rows / 1.2M postings: 0.29 s decode against 0.06 s
    fetch). Each term's doc_ids are its own array, so an LRU entry never
    keeps another term's postings alive."""
    if tbl.num_rows == 0:
        return tbl, {}
    tbl = tbl.sort_by([("term", "ascending"), ("salt", "ascending")])
    ids, tfs, dls = codec.decode_rows(tbl)
    terms = tbl.column("term")
    nrows = tbl.num_rows
    cut = np.flatnonzero(
        pc.not_equal(terms.slice(1), terms.slice(0, nrows - 1)).to_numpy()
    ) + 1
    row_at = np.concatenate(([0], cut, [nrows]))
    post_at = np.concatenate(([0], np.cumsum(tbl.column("n").to_numpy())))[
        row_at
    ]
    names = pc.take(terms, pa.array(row_at[:-1])).to_pylist()
    shared = len(names) > 1
    runs = {}
    for i, term in enumerate(names):
        p0, p1 = int(post_at[i]), int(post_at[i + 1])
        runs[term] = TermRun(
            slice(int(row_at[i]), int(row_at[i + 1])),
            ids[p0:p1].copy() if shared else ids,
            tfs[p0:p1],
            dls[p0:p1],
        )
    return tbl, runs


class _ParquetPart:
    """One parquet file of a pinned snapshot. Snapshot files are
    immutable, so the footer is parsed once per state; the file itself is
    open only for the length of a read, so a state holds no descriptor
    between queries however many segments the index has."""

    def __init__(self, path: str):
        self.path = path
        self.metadata = pq.read_metadata(path)

    def read(self, wanted: pa.Array, columns: list[str]) -> pa.Table:
        # use_threads=False: parallelism belongs ACROSS queries, one core
        # per read — Q concurrent queries each spawning a CPU-wide pool
        # oversubscribe the head node Q*cores ways (measured: 120 -> 24
        # QPS at 32 threads with threaded scans; BENCH concurrency section)
        with pq.ParquetFile(
            self.path, metadata=self.metadata, pre_buffer=False
        ) as f:
            tbl = f.read(columns=columns, use_threads=False)
        return tbl.filter(pc.is_in(tbl.column("term"), value_set=wanted))


def _check_mode(mode: str) -> None:
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")


def _check_algo(algo: str) -> None:
    if algo not in ("auto", "dense", "exhaustive", "wand"):
        raise ValueError(
            f"algo must be 'auto', 'dense', 'exhaustive' or 'wand', got {algo!r}"
        )


RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)

# search_distributed's executor decode: one row per posting
DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("term", StringType(), False),
        StructField("weight", DoubleType(), False),
    ]
)


@dataclass
class RawPostings:
    """Fetched + decoded postings for one term BEFORE any sorting: the
    salt-concatenated doc_ids (each salted sub-run internally ascending,
    runs interleaved), aligned doc-level impacts, and the term's idf.
    The dense scorer consumes this directly (scatter-add is order-
    independent because salted sub-lists cover disjoint docs); the sorted
    paths (WAND / galloping AND) build a TermPostings from it on demand."""

    term: str
    doc_ids: np.ndarray  # uint64
    impacts: np.ndarray  # float64, aligned with doc_ids
    idf: float
    presorted: bool  # True when a single salted row (already ascending)
    # memoized salt-merged form: a hot cached term must not pay the
    # O(df log df) argsort on EVERY sorted-path query (WAND / galloping
    # AND / exhaustive union). Written exactly once by
    # SnapshotState.sorted_postings under the state's lock (losers of the
    # build race return the winner's value and charge nothing to the LRU
    # budget); lock-free readers see None (take the slow path) or the
    # complete TermPostings, never a torn (ids, weights) pair. Impacts/idf
    # (and thus block bounds) are fixed for the lifetime of the state.
    sorted_tp: "TermPostings | None" = None

    @property
    def n(self) -> int:
        return int(self.doc_ids.size)


@dataclass
class QueryResult:
    doc_ids: np.ndarray
    scores: np.ndarray
    wand: WandStats | None = None
    lookup_sec: float = 0.0
    score_sec: float = 0.0
    # --- head-tier (search_head) extras ---
    approximate: bool = False  # True when served from the head tier
    caps: dict[str, float] | None = None  # per-term excluded-weight bound
    set_exact: bool | None = None  # certificate: returned SET provably exact
    score_gap: np.ndarray | None = None  # per-result score upper-bound gap

    def to_pandas(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "doc_id": self.doc_ids.astype(np.int64),
                "score": self.scores,
            }
        )


class SnapshotState:
    """Everything a query reads, for ONE committed index version: the
    parsed manifest (table paths, stage entries, layout config), its stats
    row, parquet footers of its files, and its decoded-postings LRU.

    A query pins one state at entry (:meth:`QueryEngine.pin`) and reads
    only through it, so it sees one version end to end by construction —
    no re-stat, no retry. A commit makes the next ``pin`` build a new state
    and swap it in; queries still running on the old one finish on it
    (``IndexStore.vacuum`` keeps its dirs for the grace window after the
    commit that replaced them), and the old caches and footers go with
    it."""

    # what the decode needs: the hive partition column stays out of the rows
    POSTING_COLUMNS = ["term", "salt", "n", "doc_ids", "tfs", "doclens"]
    HEAD_COLUMNS = POSTING_COLUMNS + ["excl_max_tf", "excl_min_dl"]

    def __init__(
        self,
        spark: SparkSession,
        snap: Snapshot,
        cfg: EngineConfig,
        cache_cap: int,
    ):
        self.spark = spark
        self.snap = snap
        # layout params (buckets, block size, salting) from THIS version's
        # persisted config; the caller's cfg supplies execution knobs. A
        # rebuild under another layout is a new state with its own buckets.
        self.cfg = cfg.with_layout(snap.config)
        st = snap.stats_row()
        self.n_docs = int(st["n_docs"])
        self.avgdl = float(st["avgdl"])
        self.k1 = float(st["k1"])
        self.b = float(st["b"])
        self._buckets: dict[str, int] = {}
        # (table, bucket) -> footers of that bucket dir's files in every
        # snapshot dir of the table, parsed by the first query touching it
        self._parts: dict[tuple[str, int], list[_ParquetPart]] = {}
        # decoded-postings LRU (a head node's hot terms re-read + re-decode
        # the same parquet rows on every query otherwise): term ->
        # (RawPostings, charged bytes), capped by total charged bytes.
        # RawPostings are treated as immutable everywhere (scorers build
        # derived arrays, never write in place), so entries are shared
        # safely across QueryExecutor worker threads.
        self.lock = threading.Lock()
        self.cache_cap = cache_cap
        self.raw_cache: OrderedDict[str, tuple[RawPostings, int]] = (
            OrderedDict()
        )
        self.cache_bytes = 0

    @property
    def heads_fresh(self) -> bool:
        """The head tier is bound to the postings snapshots it was derived
        from; any append/merge changes that list and invalidates it."""
        meta = self.snap.stages.get("heads")
        if not meta or "heads" not in self.snap.tables:
            return False
        postings = self.snap.tables.get("postings")
        return list(meta.get("postings", [])) == postings

    # ---------------------------------------------------------- lookup ----

    def buckets_for(self, terms: list[str]) -> list[int]:
        # driver-side XXH64 twin of build.bucket_expr (tests/test_xxh.py
        # proves bit-equality with the Spark expression) — no JVM
        # round-trip on the cold-query path
        for t in terms:
            if t not in self._buckets:
                self._buckets[t] = term_bucket(t, self.cfg.n_buckets)
        return sorted({self._buckets[t] for t in terms})

    def _bucket_parts(self, table: str, bucket: int) -> list[_ParquetPart]:
        key = (table, bucket)
        parts = self._parts.get(key)
        if parts is None:
            parts = []
            for root in self.snap.paths(table):
                # a segment none of whose terms hash here has no dir
                d = os.path.join(root, f"bucket={bucket}")
                if os.path.isdir(d):
                    parts += [
                        _ParquetPart(os.path.join(d, f))
                        for f in sorted(os.listdir(d))
                        if f.endswith(".parquet") and f[0] not in "._"
                    ]
            # racing first queries each parse the footers; one list is kept
            parts = self._parts.setdefault(key, parts)
        return parts

    def fetch(
        self, table: str, terms: list[str], columns: list[str]
    ) -> pa.Table:
        """The query terms' rows of a bucket-partitioned, term-keyed table
        (postings, heads, terms) as one Arrow table of ``columns``: only
        the files of the terms' bucket dirs, filtered by ``term``. No
        Spark job on the hot path."""
        wanted = pa.array(terms, pa.string())
        tables = [
            part.read(wanted, columns)
            for b in self.buckets_for(terms)
            for part in self._bucket_parts(table, b)
        ]
        if not tables:
            return pa.table({c: [] for c in columns})
        # segments written by different jobs may differ in nullability
        return pa.concat_tables(tables, promote_options="permissive")

    def postings_scan(self, terms: list[str]) -> DataFrame:
        """Pruned scan: partition pruning on bucket + predicate pushdown on
        term. Reads only the query terms' rows from the index."""
        return self.snap.read(self.spark, "postings").filter(
            F.col("bucket").isin(self.buckets_for(terms))
            & F.col("term").isin(terms)
        )

    def lookup_raw(self, uniq: list[str]) -> dict[str, RawPostings]:
        """Fetch + decode postings for the (deduped, sorted) query terms —
        NO sorting pass: the dense scorer never needs the salt-merge. All
        missing terms are fetched in one :meth:`fetch` and decoded in one
        :func:`decode_postings`.

        Decoded-postings LRU: hot terms skip fetch AND decode entirely on
        repeat lookups. The cache belongs to this state, so its impacts
        and idf always match this state's stats and postings."""
        out: dict[str, RawPostings] = {}
        missing: list[str] = []
        with self.lock:
            for t in uniq:
                hit = self.raw_cache.get(t)
                if hit is not None:
                    self.raw_cache.move_to_end(t)
                    out[t] = hit[0]
                else:
                    missing.append(t)
        if not missing:
            return out
        _, runs = decode_postings(
            self.fetch("postings", missing, self.POSTING_COLUMNS)
        )
        fresh = {
            term: RawPostings(
                term=term,
                doc_ids=run.doc_ids,
                impacts=codec.bm25_impact(
                    run.tfs, run.doclens, self.avgdl, self.k1, self.b
                ),
                idf=float(codec.bm25_idf(self.n_docs, run.doc_ids.size)),
                presorted=run.presorted,
            )
            for term, run in runs.items()
        }
        with self.lock:
            for t, raw in fresh.items():
                nbytes = int(raw.doc_ids.nbytes + raw.impacts.nbytes)
                old = self.raw_cache.pop(t, None)
                if old is not None:
                    self.cache_bytes -= old[1]
                self.raw_cache[t] = (raw, nbytes)
                self.cache_bytes += nbytes
            self._evict_over_cap()
        out.update(fresh)
        return out

    def _evict_over_cap(self) -> None:
        """LRU eviction to the byte cap (lock held) — ONE policy shared by
        the seed path and the sorted-memo charge."""
        while self.cache_bytes > self.cache_cap and self.raw_cache:
            _, (_, nb) = self.raw_cache.popitem(last=False)
            self.cache_bytes -= nb

    def sorted_postings(self, raw: RawPostings) -> TermPostings:
        """Salt-merge (concat + stable sort) + block metadata: the
        TermPostings shape the sorted scorers (WAND, galloping AND,
        exhaustive union) consume. Memoized on the RawPostings (see its
        docstring): LRU-hot terms pay the argsort once per state, not once
        per query."""
        if raw.sorted_tp is not None:
            return raw.sorted_tp
        ids, impacts = raw.doc_ids, raw.impacts
        if not raw.presorted:
            order = np.argsort(ids, kind="stable")
            ids, impacts = ids[order], impacts[order]
        # Block bounds come from the decoded impacts (one reduceat —
        # negligible next to the decode), computed with QUERY-time stats:
        # bounds computed at build time could UNDER-estimate after appends
        # shift avgdl, making WAND pruning unsafe.
        blk_last, blk_imp = codec.block_metadata(
            ids, impacts, self.cfg.block_size
        )
        tp = TermPostings(
            term=raw.term,
            doc_ids=ids,
            weights=raw.idf * impacts,
            block_last=blk_last,
            block_ub=blk_imp * raw.idf,
        )
        with self.lock:
            if raw.sorted_tp is not None:
                # lost the memo race to a concurrent worker: return its
                # (identical) TermPostings and charge NOTHING — charging
                # twice would permanently inflate the entry's recorded
                # size and shrink effective cache capacity
                return raw.sorted_tp
            raw.sorted_tp = tp  # single assignment: complete or absent
            ent = self.raw_cache.get(raw.term)
            if ent is not None and ent[0] is raw:
                # the memo roughly doubles this entry's footprint — charge
                # it to the LRU budget so cache_mb stays the real ceiling
                extra = int(
                    tp.doc_ids.nbytes + tp.weights.nbytes
                    + tp.block_last.nbytes + tp.block_ub.nbytes
                )
                self.raw_cache[raw.term] = (raw, ent[1] + extra)
                self.cache_bytes += extra
                self._evict_over_cap()
        return tp


class QueryEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: IndexStore,
        cfg: EngineConfig | None = None,
        cache_mb: float = 256.0,
    ):
        self.spark = spark
        self.store = store
        # execution knobs; each pinned state overlays its own layout params
        self.cfg = cfg or EngineConfig()
        self._cache_cap = int(cache_mb * (1 << 20))
        self._state: SnapshotState | None = None
        self._swap_lock = threading.Lock()
        self.pin()  # an unbuilt index fails here: stats not committed

    def pin(self) -> SnapshotState:
        """The state of the current committed version — the ONE place this
        module looks at the manifest (tests/test_hot_path_audit.py). One
        ``os.stat`` per call decides freshness: when the manifest's
        ``(mtime_ns, size)`` differs from the current state's, the manifest
        is parsed once into a new state, swapped in with one assignment
        (the lock only stops racing callers from each building one)."""
        try:
            st = os.stat(self.store.manifest_path)
            version = (st.st_mtime_ns, st.st_size)
        except OSError:
            version = None
        state = self._state
        if state is not None and state.snap.version == version:
            return state
        with self._swap_lock:
            state = self._state
            if state is None or state.snap.version != version:
                state = SnapshotState(
                    self.spark, self.store.snapshot(), self.cfg,
                    self._cache_cap,
                )
                self._state = state
        return state

    def lookup(self, terms: list[str]) -> dict[str, TermPostings]:
        """Fetch + decode + salt-merge postings for the query terms.
        Salted sub-lists cover disjoint docs; merge = concat + stable sort."""
        st = self.pin()
        raws = st.lookup_raw(sorted(set(terms)))
        return {t: st.sorted_postings(r) for t, r in raws.items()}

    # ---------------------------------------------------------- search ----

    def search(
        self, terms: list[str], mode: str = "or", k: int = 10, algo: str = "auto"
    ) -> QueryResult:
        """``algo``: 'auto' runs the dense scatter when the postings fill
        the doc-id space and the sorted scorer otherwise (the galloping
        intersection for AND, the exhaustive union for OR); 'dense' and
        'exhaustive' force one of them, and 'wand' forces block-max WAND
        for OR (AND takes the sorted intersection). 'auto' never picks WAND:
        its Python pivot loop lost many-fold to the vectorized scorers on
        most measured disjunctions. All paths produce bit-identical results
        (test_wand_equals_exhaustive, test_dense_equals_sorted)."""
        _check_mode(mode)
        _check_algo(algo)
        t0 = time.time()
        st = self.pin()
        uniq = sorted(set(terms))
        raws = st.lookup_raw(uniq)
        t1 = time.time()
        present = [raws[t] for t in uniq if t in raws]
        if not present or (mode == "and" and len(present) < len(uniq)):
            return QueryResult(
                np.empty(0, np.uint64),
                np.empty(0, np.float64),
                lookup_sec=t1 - t0,
            )
        total = sum(r.n for r in present)
        span = int(max(int(r.doc_ids.max()) for r in present)) + 1
        dense = algo == "dense" or (
            algo == "auto"
            and span <= DENSE_MAX_SPAN
            and total >= span // DENSE_MIN_FILL
            and len(present) <= 255  # uint8 match counter
        )
        wstats = None
        if mode == "and":
            if dense:
                ids, scores = _dense_topk(present, k, conjunctive=True)
            else:
                ids, scores = _and_score(
                    [st.sorted_postings(r) for r in present], k
                )
        elif algo == "wand":
            ids, scores, wstats = wand_topk(
                [st.sorted_postings(r) for r in present], k
            )
        elif dense:
            ids, scores = _dense_topk(present, k, conjunctive=False)
        else:
            ids, scores = exhaustive_or(
                [st.sorted_postings(r) for r in present], k
            )
        return QueryResult(
            ids,
            scores,
            wand=wstats,
            lookup_sec=t1 - t0,
            score_sec=time.time() - t1,
        )

    # ----------------------------------------------------- head tier ----

    def search_head(
        self, terms: list[str], k: int = 10, mode: str = "or"
    ) -> QueryResult:
        """Bounded-latency approximate top-k over the impact-ordered head
        tier (heads.py): reads <= segments * head_size postings per term
        regardless of df, so monster-df (stopword-grade) terms serve in
        milliseconds instead of O(df) seconds.

        Contract (differs from search(), which is exact on every path):
        * ``mode='or'``: returned scores are LOWER bounds of the true BM25
          scores; ``score_gap[i]`` bounds how much result i can be
          under-scored (sum of caps of the terms whose head doesn't
          contain it);
        * ``mode='and'``: candidates are docs present in EVERY query
          term's head — salted sub-lists cover disjoint docs, so each
          candidate's one posting per term is in the head and its returned
          score is EXACT (score_gap all zero). What can be missed is a
          true conjunctive match cut from >= 1 head; any such doc's score
          is bounded by B = sum_t U_t - min_{t: cap_t>0} (U_t - cap_t)
          with U_t = max(head max weight, cap_t) — it loses its best term
          bound on whichever term it was cut from (the min makes B the
          adversary's BEST case, i.e. a valid bound whichever term that
          is). This is the MUST-clause analog of Lucene's WANDScorer
          conjunctive pruning, done tier-side.
        * ``caps[term]`` = idf * impact(excl_max_tf, excl_min_dl) with
          QUERY-time stats — a valid bound for any avgdl because impact
          is monotone in (tf up, dl down), so appends can't break it;
        * ``set_exact`` is a certificate: True means the returned top-k
          SET provably equals the exact search() set (conservative — may
          be False for sets that happen to be exact). For 'and', kth
          returned score > B certifies (no cut doc can enter the top-k);
          a query term with zero head rows has df = 0, so the exact
          conjunction is empty and certified as such.

        Raises if the tier is missing or stale (build_heads after build,
        refresh_heads after append)."""
        _check_mode(mode)
        if k <= 0 or not terms:
            # the exact top-0 set and search([]) are both empty: certified
            return QueryResult(
                np.empty(0, np.uint64), np.empty(0, np.float64),
                approximate=True, caps={}, set_exact=True,
                score_gap=np.empty(0, np.float64),
            )
        uniq = sorted(set(terms))
        # stats, heads rows and terms df all come from ONE pinned version,
        # so the certificate never certifies scores mixing two versions
        st = self.pin()
        if not st.heads_fresh:
            raise ValueError(
                "head tier missing or stale for this index — run "
                "`index.py heads` (build_heads) after a build, or "
                "`index.py heads --refresh` (refresh_heads, O(increment)) "
                "after appends"
            )
        t0 = time.time()
        rows, runs = decode_postings(
            st.fetch("heads", uniq, st.HEAD_COLUMNS)
        )
        # true df per term (the terms table, NOT the truncated head length)
        # so idf — and therefore every returned score bit — matches search()
        df_rows = st.fetch("terms", uniq, ["term", "df"])
        dfs = dict(zip(df_rows.column("term").to_pylist(),
                       df_rows.column("df").to_pylist()))
        n_docs, avgdl, k1, b = st.n_docs, st.avgdl, st.k1, st.b
        raws: list[RawPostings] = []
        caps: dict[str, float] = {}
        if runs:
            # each salted row's bound on the postings its head left out
            etf = rows.column("excl_max_tf").to_numpy().astype(np.float64)
            edl = rows.column("excl_min_dl").to_numpy().astype(np.float64)
            bounds = codec.bm25_impact(etf, edl, avgdl, k1, b)
            bounds[etf == 0] = 0.0
        for term, run in runs.items():
            idf = float(codec.bm25_idf(n_docs, int(dfs[term])))
            impacts = codec.bm25_impact(run.tfs, run.doclens, avgdl, k1, b)
            raws.append(
                RawPostings(term, run.doc_ids, impacts, idf, run.presorted)
            )
            caps[term] = idf * float(bounds[run.rows].max())
        t1 = time.time()
        total_cap = float(sum(caps.values()))
        if mode == "and":
            if len(raws) < len(uniq):
                # a term with zero head rows has zero postings anywhere
                # (every postings row yields a head row), so the exact
                # conjunction is provably empty
                return QueryResult(
                    np.empty(0, np.uint64),
                    np.empty(0, np.float64),
                    lookup_sec=t1 - t0,
                    approximate=True,
                    caps=caps,
                    set_exact=True,
                    score_gap=np.empty(0, np.float64),
                )
            ids, scores = _and_score(
                [st.sorted_postings(r) for r in raws], k
            )
            pos_caps = {t: c for t, c in caps.items() if c > 0.0}
            if not pos_caps:
                set_exact = True  # every head covers its full list
            elif ids.size == k:
                # a true conjunctive match cut from >= 1 head scores at
                # most B: it loses (U_t - cap_t) on whichever cap>0 term
                # cut it, and the min is the adversary's best case.
                # Strict > so a tie can't flip membership on doc_id order.
                ubs = {
                    r.term: max(
                        r.idf * float(r.impacts.max()), caps[r.term]
                    )
                    for r in raws
                }
                bound = sum(ubs.values()) - min(
                    ubs[t] - c for t, c in pos_caps.items()
                )
                set_exact = float(scores[-1]) > bound
            else:
                set_exact = False  # cut docs could fill the empty slots
            return QueryResult(
                ids,
                scores,
                lookup_sec=t1 - t0,
                score_sec=time.time() - t1,
                approximate=True,
                caps=caps,
                set_exact=bool(set_exact),
                # candidates sit in EVERY term's head -> scores are exact
                score_gap=np.zeros(ids.size, dtype=np.float64),
            )
        if not raws:
            return QueryResult(
                np.empty(0, np.uint64),
                np.empty(0, np.float64),
                lookup_sec=t1 - t0,
                approximate=True,
                caps=caps,
                set_exact=total_cap == 0.0,
                score_gap=np.empty(0, np.float64),
            )
        # head unions are <= n_terms * head_size — the sorted exhaustive
        # scorer is plenty; fetch k+1 so the certificate can bound the
        # best non-returned candidate
        tps = [st.sorted_postings(r) for r in raws]
        ids, scores = exhaustive_or(tps, k + 1)
        extra = ids.size > k
        nxt = float(scores[k]) if extra else 0.0
        ids, scores = ids[:k], scores[:k]
        if total_cap == 0.0:
            # nothing anywhere was excluded: the head IS the full index
            set_exact = True
        elif ids.size == k:
            # any non-returned doc's true score <= its computed score
            # (<= nxt, 0 if unseen) + total_cap; strict > so a tie can't
            # flip membership on doc_id order
            set_exact = float(scores[-1]) > nxt + total_cap
        else:
            set_exact = False  # unseen docs could fill the empty slots
        gap = np.zeros(ids.size, dtype=np.float64)
        for r in raws:
            if caps[r.term] > 0.0:
                gap[~np.isin(ids, r.doc_ids)] += caps[r.term]
        return QueryResult(
            ids,
            scores,
            lookup_sec=t1 - t0,
            score_sec=time.time() - t1,
            approximate=True,
            caps=caps,
            set_exact=bool(set_exact),
            score_gap=gap,
        )

    def search_bounded(
        self, terms: list[str], mode: str = "or", k: int = 10
    ) -> QueryResult:
        """Exact results at head-tier latency WHEN THE CERTIFICATE ALLOWS:
        serve from the head tier first and return its result iff
        ``set_exact`` certifies the top-k set; otherwise fall back to the
        exact engine (the ES/Lucene pattern: dynamic pruning when safe,
        exhaustive when not). With no head tier (or a stale one) this is
        plain exact search. NOTE the certified fast path's SCORES are exact
        for 'and' (candidates sit in every head) but lower bounds for 'or'
        — callers needing bit-exact OR scores should rescore or use
        search(); the returned ``approximate`` flag says which path served.
        """
        try:
            res = self.search_head(terms, k=k, mode=mode)
        except ValueError:
            return self.search(terms, mode=mode, k=k)
        if res.set_exact:
            return res
        return self.search(terms, mode=mode, k=k)

    # ------------------------------------------------- distributed path ----

    def search_distributed(
        self, terms: list[str], mode: str = "or", k: int = 10
    ) -> DataFrame:
        """Cluster-scale scoring: decode posting rows in executors, pivot
        one weight column per query term (fixed expression order -> IEEE
        deterministic float64 sum), top-k via ORDER BY + LIMIT.

        Scales with the candidate set: each (term, salt) posting row decodes
        independently in its executor; no driver collect of postings.

        Snapshot consistency: stats and BOTH table scans (postings, terms)
        resolve through one pinned version, so the plan reads that version
        whenever it executes — as long as it runs within ``vacuum``'s grace
        window after a compaction replaces those dirs; later it fails with
        a file-not-found error, never a wrong answer."""
        _check_mode(mode)
        uniq = sorted(set(terms))
        if not uniq:
            return self.spark.createDataFrame([], schema=RESULT_SCHEMA)
        st = self.pin()
        avgdl, k1, b = st.avgdl, st.k1, st.b
        scan = st.postings_scan(uniq).select(
            "term", "n", "doc_ids", "tfs", "doclens"
        )
        terms_scan = (
            st.snap.read(self.spark, "terms")
            .filter(F.col("term").isin(uniq))
            .select("term", "df")
        )

        def decode(
            batches: Iterator[pa.RecordBatch],
        ) -> Iterator[pa.RecordBatch]:
            # the same three-pass batch decode as decode_postings on
            # the head node, per run of whole posting rows
            for term, ids, tfs, dls in codec.decode_row_batches(batches):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids.astype(np.int64)),
                        term,
                        pa.array(codec.bm25_impact(tfs, dls, avgdl, k1, b)),
                    ],
                    names=["doc_id", "term", "weight"],
                )

        # df per term must be the SALT-MERGED df; computed from the pinned
        # version's terms table
        decoded = scan.mapInArrow(decode, schema=DECODED_SCHEMA).join(
            F.broadcast(terms_scan), "term"
        )
        decoded = decoded.withColumn(
            "weight",
            F.log1p(
                (F.lit(float(st.n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * F.col("weight"),
        )
        # pivot: one column per term, fixed fold order = lexicographic
        agg_cols = [
            F.sum(F.when(F.col("term") == t, F.col("weight"))).alias(f"w_{i}")
            for i, t in enumerate(uniq)
        ]
        per_doc = decoded.groupBy("doc_id").agg(
            *agg_cols, F.count(F.lit(1)).alias("nmatch")
        )
        score_col = None
        for i in range(len(uniq)):
            c = F.coalesce(F.col(f"w_{i}"), F.lit(0.0))
            score_col = c if score_col is None else score_col + c
        per_doc = per_doc.withColumn("score", score_col.cast(DoubleType()))
        if mode == "and":
            per_doc = per_doc.filter(F.col("nmatch") == len(uniq))
        return (
            per_doc.select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )


class QueryExecutor:
    """Bounded admission control for a head node serving concurrent
    tenants (VERDICT r3 #5's missing piece, found by measurement).

    The driver-side hot path interleaves GIL-bound Python (WAND block
    skipping, per-query bookkeeping) with short GIL-releasing numpy /
    pyarrow calls. Unbounded thread concurrency convoys on the GIL:
    measured on sf0.1, aggregate QPS peaks at 2 worker threads (~245 QPS)
    and COLLAPSES 5x by 8+ threads (~48 QPS) as lock handoffs and cold
    caches dominate. So the head node must run queries on a small fixed
    pool and queue the rest — open-loop clients keep peak aggregate
    throughput and get predictable queue-plus-service latency instead of
    a convoy. (The same pattern as Elasticsearch's fixed search thread
    pool with a bounded queue.)
    """

    def __init__(self, engine: QueryEngine, workers: int = 2):
        from concurrent.futures import ThreadPoolExecutor

        self._engine = engine
        self._pool = ThreadPoolExecutor(
            max_workers=workers, thread_name_prefix="query-worker"
        )

    def search(
        self, terms: list[str], mode: str = "or", k: int = 10,
        algo: str = "auto",
    ) -> QueryResult:
        """Blocking submit-and-wait; safe from any number of caller
        threads. Results are bit-identical to QueryEngine.search."""
        return self._pool.submit(
            self._engine.search, terms, mode, k, algo
        ).result()

    def shutdown(self) -> None:
        self._pool.shutdown(wait=True)

    def __enter__(self) -> "QueryExecutor":
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()


def _dense_topk(
    raws: list[RawPostings], k: int, conjunctive: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k over a doc_id-indexed dense accumulator — the
    monster-df scorer. scores[doc] accumulates idf*impact per term in
    ascending lexicographic term order (scatter order within a term is
    irrelevant: salted sub-lists cover disjoint docs), so per-doc float64
    fold order — and therefore every score bit — is identical to the
    sorted paths and the pandas oracle. No sort touches the postings: the
    only ordered work is the O(matches) top-k selection. Profiling
    rationale: for stopword-grade terms (df ~= N) the sorted path's
    salt-merge argsort + np.unique union re-sort own ~60% of query time
    while block-max pruning cannot help (every block competes); a scatter
    replaces them with one O(1)-per-posting pass."""
    if k <= 0 or not raws:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    span = int(max(int(r.doc_ids.max()) for r in raws)) + 1
    acc = np.zeros(span, dtype=np.float64)
    # counter dtype sized to the term count: the auto path prefers <=255
    # terms (uint8), but a FORCED algo='dense' with more must not let the
    # counter wrap and silently drop conjunctive matches
    if conjunctive:
        cdt = (np.uint8 if len(raws) <= 255
               else np.uint16 if len(raws) <= 65535 else np.uint32)
        cnt = np.zeros(span, dtype=cdt)
    else:
        cnt = None
    for r in sorted(raws, key=lambda r: r.term):  # lex fold order
        acc[r.doc_ids] += r.idf * r.impacts
        if cnt is not None:
            cnt[r.doc_ids] += 1
    if conjunctive:
        matched = np.flatnonzero(cnt == len(raws))
    else:
        # weights are strictly positive (idf > 0, impact > 0), so
        # matched == touched
        matched = np.flatnonzero(acc > 0.0)
    if matched.size == 0:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    ids, scores = topk_by_score(matched, acc[matched], k)
    return ids.astype(np.uint64), scores


def _and_score(
    postings: list[TermPostings], k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive scoring: progressive sorted-array intersection starting
    from the rarest term (galloping via np.searchsorted/np.intersect1d),
    then exact scoring of survivors in lex term order."""
    by_size = sorted(postings, key=lambda p: p.n)
    common = by_size[0].doc_ids
    for p in by_size[1:]:
        if common.size == 0:
            break
        if common.size * 8 <= p.n:
            # few candidates vs a monster list: membership by binary
            # search into the ascending big list, O(|common| log df) —
            # 50x+ over the sort-based merge on rare AND stopword
            pos = np.minimum(
                np.searchsorted(p.doc_ids, common), p.n - 1
            )
            common = common[p.doc_ids[pos] == common]
        else:
            # comparable sizes: radix-friendly sort-merge beats
            # cache-hostile random binary searches (measured crossover
            # ~ n/m = 1/6 at df 2M on this host)
            common = common[
                np.isin(common, p.doc_ids, assume_unique=True)
            ]
    if common.size == 0:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    scores = np.zeros(common.size, dtype=np.float64)
    for p in sorted(postings, key=lambda p: p.term):  # lex fold order
        pos = np.searchsorted(p.doc_ids, common)
        scores += p.weights[pos]
    return topk_by_score(common, scores, k)
