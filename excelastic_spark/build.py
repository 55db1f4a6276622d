"""Index build pipeline: corpus -> inverted index (postings/terms/docs/stats).

Stage layout (each stage commits a lineage entry keyed by the input
fingerprint, so a rerun resumes by skipping committed stages — the north
rule's checkpoint/resume requirement):

  validate  fail-fast dry-run fused with the lineage fingerprint — ONE scan
            (analog of the reference's initialize() pre-parse,
            ExcelParser.java:90-102 + README.md:15)
  ingest    doc_id assignment + sha256 -> ingested table (corpus snapshot)
  triples   tokenize ONCE -> (doc_id, term, tf, doclen), persisted (both a
            downstream input and a resume checkpoint)
  docs      skinny doc-metadata table (doc_id, key, lang, sha256, doclen):
            map-only, one mapInArrow pass over the ingested rows counts
            each doc's tokens with the tokenizer's own kernel, so no
            shuffle and no join with the triples
  terms     df/cf per term + salting plan
  postings  salt -> Spark groups the triples by (term, salt)
            (collect_list, map-side partial step) -> one stateless
            vectorized Arrow pass per batch of whole groups (in-group
            doc_id sort + delta+varint) -> one lightweight exchange to
            bucket(term) alignment -> postings table parquet-partitioned
            by bucket for lookup pruning (one file per bucket dir per
            write, see by_bucket). Python holds one Arrow batch at
            a time: at most arrow_batch_size groups and
            spark.sql.execution.arrow.maxBytesPerBatch bytes; a group
            holds at most salt_threshold postings (about salt_target once
            a hot term is salted)
  stats     the one-row collection stats, assembled on the driver from
            the stages' Observation metrics and written with pyarrow: no
            Spark job

Skew handling: terms with df > cfg.salt_threshold are split into
ceil(df/salt_target) salts by pmod(xxhash64(doc_id), S); ONLY the hot subset
is broadcast to the triples (the full vocabulary is never broadcast — at
10^12 docs the vocab is huge but the hot set is tiny by construction), so
the (term, salt) shuffle has bounded partition sizes. The salted sub-lists
are disjoint by doc and merged at query time (query.py).

Per-stage metrics (docs/sec, terms/sec, postings/sec, bytes compressed) are
collected via the Observation API DURING each write (no re-scan jobs) and
logged to the store's metrics.jsonl — the engine-grade analog of the
reference's progress events (ElasticWriter.java:147-156).
"""

from __future__ import annotations

import time
import warnings
from typing import Any, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from excelastic_spark import codec
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import (
    ID_BUCKETS,
    ParserException,
    id_bucket_expr,
    ingest_corpus,
)
from excelastic_spark.tokenizer import token_counts, tokenize_triples

# bumped whenever a table layout/semantic changes: stale warehouses then
# fingerprint-mismatch and rebuild instead of resuming onto the old layout
LAYOUT_VERSION = 3

POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("salt", IntegerType(), False),
        StructField("n", LongType(), False),
        StructField("doc_ids", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
        StructField("doclens", BinaryType(), False),
    ]
)

STATS_SCHEMA = StructType(
    [
        StructField("n_docs", LongType(), False),
        StructField("avgdl", DoubleType(), False),
        StructField("n_terms", LongType(), False),
        StructField("k1", DoubleType(), False),
        StructField("b", DoubleType(), False),
        StructField("block_size", IntegerType(), False),
    ]
)


def bucket_expr(term_col, n_buckets: int):
    """bucket = pmod(xxhash64(term), n_buckets) — the parquet analog of an
    Iceberg bucket(term) partition transform; query.py computes the same
    expression to prune lookups to one directory."""
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast(IntegerType())


def by_bucket(df: DataFrame) -> DataFrame:
    """``df`` hash-partitioned by its ``bucket`` column, for a write
    partitioned by bucket: every bucket lands in exactly one task, so each
    bucket dir gets ONE file per write (the lookup reads every file of a
    bucket dir). Partitioning by column alone (REPARTITION_BY_COL) lets
    AQE coalesce the shuffle_partitions reducers to as few tasks as the
    data needs, and AQE never splits such a partition; a fixed count
    (``repartition(n_buckets, ...)``, REPARTITION_BY_NUM) is never
    coalesced, so a 1k-doc write paid one task per bucket. The write
    sorts each task's rows by bucket in either shape."""
    return df.repartition("bucket")


class Validation(NamedTuple):
    fingerprint: str
    n: int
    bucket_counts: dict[int, int]  # id bucket -> rows, for assign_doc_ids
    min_doc_id: int | None  # pre_ingested input only


def validate_and_fingerprint(
    corpus: DataFrame, pre_ingested: bool, id_buckets: int = ID_BUCKETS
) -> Validation:
    """ONE aggregation pass, grouped by the doc-id bucket: fail-fast
    validation (null keys/content, duplicate keys — the initialize() dry-run
    analog) fused with the order-independent lineage fingerprint (count +
    crc sum) AND the per-bucket counts that doc-id assignment needs — so
    ingest never re-scans the corpus just to count buckets. ``id_buckets``
    must be the bucket count the caller assigns ids with. A pre_ingested
    corpus also yields its smallest doc_id (the append's disjointness
    guard).

    Grouping by the id bucket keeps every aggregate exact: the bucket is a
    function of the (repo, path, commit) key, so per-bucket distinct-key
    counts sum to the global distinct count."""
    key_cols = ("repo", "path", "commit")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("content").isNull()
                | F.col("repo").isNull()
                | F.col("path").isNull()
                | F.col("commit").isNull()
                | F.col("lang").isNull(),  # CORPUS_SCHEMA: non-null
                1,
            ).otherwise(0)
        ).alias("bad"),
        F.count_distinct(*[F.col(c) for c in key_cols]).alias(
            "distinct_keys"
        ),
        F.sum(F.crc32(F.col("content"))).alias("crc"),
    ]
    if pre_ingested:
        aggs.append(F.min("doc_id").alias("min_id"))
    rows = (
        corpus.groupBy(id_bucket_expr(id_buckets).alias("_bucket"))
        .agg(*aggs)
        .collect()
    )
    n = sum(r["n"] for r in rows)
    bad = sum(r["bad"] or 0 for r in rows)
    distinct_keys = sum(r["distinct_keys"] for r in rows)
    crc = sum(r["crc"] or 0 for r in rows)
    bucket_counts = {r["_bucket"]: r["n"] for r in rows}
    min_id = min(
        (r["min_id"] for r in rows if r["min_id"] is not None), default=None
    ) if pre_ingested else None
    if bad > 0:
        raise ParserException(f"{bad} rows with null key/content")
    if not pre_ingested and distinct_keys != n:
        raise ParserException(
            f"duplicate (repo,path,commit) keys: {n - distinct_keys}"
        )
    return Validation(
        f"v={LAYOUT_VERSION},n={n},crc={crc}", int(n), bucket_counts, min_id
    )


def corpus_fingerprint(corpus: DataFrame) -> str:
    return validate_and_fingerprint(corpus, pre_ingested=True).fingerprint


# ---------------------------------------------------------------------------
# per-batch vectorized posting encoder


def _encode_runs(terms, salts, ids, tfs, dls, offsets) -> pa.RecordBatch:
    """Encode contiguous (term, salt) groups, each in doc_id order: group
    g is ``ids[offsets[g]:offsets[g + 1]]`` (``offsets`` starts at 0). One
    varint call per column over the whole batch; the binary column's
    offsets are the varint stream's byte offsets at group starts, so no
    group is sliced in Python. No block metadata is stored: queries derive
    block bounds from the decoded postings with query-time stats
    (query.py sorted_postings)."""
    starts = offsets[:-1]
    deltas = ids.copy()
    deltas[1:] -= ids[:-1]
    deltas[starts] = ids[starts]  # the doc_id delta restarts per group

    def varints(values):
        buf, lens = codec.encode_varint_with_lengths(values)
        ends = np.zeros(values.size + 1, dtype=np.int64)
        np.cumsum(lens, out=ends[1:])
        return pa.Array.from_buffers(
            pa.binary(), starts.size,
            [None, pa.py_buffer(ends[offsets].astype(np.int32)),
             pa.py_buffer(buf)],
        )

    return pa.RecordBatch.from_arrays(
        [terms, salts, pa.array(np.diff(offsets)),
         varints(deltas), varints(tfs), varints(dls)],
        names=POSTINGS_SCHEMA.names,
    )


def _encode_groups(batches):
    """Stateless ``mapInArrow`` kernel over (term, salt, postings) rows,
    one row per group: the list offsets are the group boundaries, one
    lexsort puts every group in doc_id order, one ``_encode_runs`` call
    encodes the batch."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        lists = batch.column("postings")
        offsets = lists.offsets.to_numpy().astype(np.int64)
        offsets -= offsets[0]  # a sliced batch's offsets start past 0
        rows = lists.flatten()
        ids = rows.field("doc_id").to_numpy()
        owner = np.repeat(np.arange(batch.num_rows), np.diff(offsets))
        order = np.lexsort((ids, owner))
        yield _encode_runs(
            batch.column("term"), batch.column("salt"),
            *(rows.field(c).to_numpy()[order].view(np.uint64)
              for c in ("doc_id", "tf", "doclen")),
            offsets,
        )


def encode_postings(
    triples: DataFrame, terms: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """Shared postings pipeline: salt hot terms (broadcast ONLY the salted
    subset of the terms table), group the triples by (term, salt) with
    Spark's own aggregation (``collect_list`` keeps its map-side partial
    step), encode each Arrow batch of whole groups with one stateless
    vectorized pass, then align rows with the bucket partition dirs. Used
    by the full build, the shard builder, the incremental appender and the
    segment merge — one tested kernel, four call sites.

    Python memory per kernel call is one input batch: Spark caps it at
    ``arrow_batch_size`` groups and at
    ``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MB by default),
    and a group holds at most ``salt_threshold`` postings (a hotter term is
    salted into groups of about ``salt_target``).

    The final bucket repartition (:func:`by_bucket`) is a second exchange,
    but of the COMPRESSED postings bytes (orders of magnitude smaller than
    the triples the first shuffle moves), and AQE coalesces it to as few
    tasks as those bytes need; it buys one term-dense file per bucket dir,
    which the pyarrow query path prunes with a single footer read. The
    single-shuffle alternative
    (repartitionByRange(bucket, term, salt) + direct partitionBy write) was
    measured head-to-head (r3, 300k docs x 3 interleaved reps): build times
    statistically equal (range's sampling pass costs what the dropped
    exchange saves), query p50 equal, 3x the files — rejected. A
    sortWithinPartitions(term)+2MB-row-group layout was also probed for
    row-group stats pruning on the pyarrow lookup path: only ~10% lookup
    improvement (hot-term queries are dominated by reading the posting
    bytes they genuinely need, which no layout avoids) — also rejected."""
    hot = terms.filter(F.col("n_salts") > 1).select("term", "n_salts")
    salted = (
        triples.join(F.broadcast(hot), "term", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("n_salts").isNotNull(),
                F.pmod(F.xxhash64(F.col("doc_id")), F.col("n_salts")),
            )
            .otherwise(F.lit(0))
            .cast(IntegerType()),
        )
    )
    return (
        salted.groupBy("term", "salt")
        .agg(F.collect_list(F.struct("doc_id", "tf", "doclen")).alias("postings"))
        .mapInArrow(_encode_groups, schema=POSTINGS_SCHEMA)
        .withColumn("bucket", bucket_expr(F.col("term"), cfg.n_buckets))
        .transform(by_bucket)
    )


def plan_salts(term_counts: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(term, df, cf) -> the terms-table shape (+ n_salts, bucket). The one
    salting plan: df > salt_threshold splits into ceil(df/salt_target)
    sub-lists."""
    return term_counts.withColumn(
        "n_salts",
        F.when(
            F.col("df") > cfg.salt_threshold,
            F.ceil(F.col("df") / cfg.salt_target).cast(IntegerType()),
        ).otherwise(F.lit(1)),
    ).withColumn("bucket", bucket_expr(F.col("term"), cfg.n_buckets))


def term_stats(triples: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(term, df, cf, n_salts, bucket) from a triples set."""
    return plan_salts(
        triples.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
        ),
        cfg,
    )


def docs_table(ingested: DataFrame) -> DataFrame:
    """The docs table: doc metadata plus doclen, the doc's token count (0
    for a doc without tokens). One map-only ``mapInArrow`` pass over the
    ingested rows, no shuffle: doclen comes from the tokenizer's own kernel
    (:func:`tokenizer.token_counts`), so it equals the sum(tf) of the
    doc's triples bit for bit. Every field is nullable, as a read of the
    written dir declares it."""
    meta = ingested.select(
        "doc_id", "repo", "path", "commit", "lang", "sha256", "content"
    )
    schema = StructType(
        [StructField(f.name, f.dataType) for f in meta.schema.fields[:-1]]
        + [StructField("doclen", LongType())]
    )

    def fn(batches):
        for batch in batches:
            if batch.num_rows:
                yield pa.RecordBatch.from_arrays(
                    batch.columns[:-1]
                    + [pa.array(token_counts(batch.column("content")))],
                    names=schema.names,
                )

    return meta.mapInArrow(fn, schema=schema)


def stats_table(
    cfg: EngineConfig, n_docs: int, total_tf: int, n_terms: int
) -> tuple[pa.Table, float]:
    """(the one-row stats table, its avgdl), built on the driver with the
    names and types of STATS_SCHEMA: every writer commits the same avgdl
    bits for the same totals, and the catalog writes it without a Spark
    job."""
    avgdl = float(total_tf) / n_docs if n_docs else 0.0
    row = (n_docs, avgdl, n_terms, cfg.k1, cfg.b, cfg.block_size)
    table = pa.Table.from_pylist(
        [dict(zip(STATS_SCHEMA.names, row))],
        schema=to_arrow_schema(STATS_SCHEMA),
    )
    return table, avgdl


def stage_observed(
    store: IndexStore, df: DataFrame, table: str, aggs: dict[str, Any],
    partition_by: list[str] | None = None,
) -> tuple[str, dict[str, Any]]:
    """Stage a table while collecting metrics IN the write job
    (Observation API) — no separate count/agg jobs. (staged path, the
    observed values)."""
    obs = Observation(f"obs_{table}")
    observed = df.observe(obs, *[v.alias(k) for k, v in aggs.items()])
    path = store.stage_table(observed, table, partition_by=partition_by)
    return path, dict(obs.get)


class IndexBuilder:
    def __init__(
        self, spark: SparkSession, store: IndexStore, cfg: EngineConfig | None = None,
        progress=None,
    ):
        """``progress``: optional ``fn(stage: str, pct: float)`` invoked at
        stage boundaries — the batch-engine analog of the reference's
        per-batch IMPORT_PROGRESS bus events (ElasticWriter.java:149-155);
        web.py forwards these to upload clients. Must be cheap/non-raising
        concerns of the caller."""
        self.spark = spark
        self.store = store
        self.cfg = cfg or EngineConfig()
        self._progress = progress

    def _emit(self, stage: str, pct: float) -> None:
        if self._progress is not None:
            try:
                self._progress(stage, pct)
            except Exception:
                pass  # a broken progress listener must never fail a build

    # ------------------------------------------------------------- helpers

    def _write_observed(
        self, df: DataFrame, table: str, aggs: dict[str, Any],
        partition_by: list[str] | None = None,
    ) -> dict[str, Any]:
        """Write and commit a stage table, observing ``aggs`` in the write
        job (:func:`stage_observed`)."""
        path, got = stage_observed(self.store, df, table, aggs, partition_by)
        self.store.commit_snapshot([(table, path, "overwrite")])
        return got

    def _table_count(self, table: str) -> int:
        # parquet metadata count — used only on resume when the stage's
        # observation was not collected in this run
        return self.store.read_table(self.spark, table).count()

    # ------------------------------------------------------------------ api

    def build(
        self,
        corpus: DataFrame,
        clear: bool = False,
        pre_ingested: bool = False,
        transform=None,
    ) -> dict[str, Any]:
        """Full build. ``clear`` = reference --clear (drop index first,
        ElasticWriter.java:186-194 / ImportEvent.java:45). ``pre_ingested``
        means ``corpus`` already has doc_id + sha256 columns (e.g. the
        driver documents table) so doc_id assignment is skipped.
        ``transform`` is an optional DataFrame -> DataFrame ingest pipeline
        applied before validation — the analog of the reference's ES
        `pipeline=` pass-through (ElasticWriter.java:163-165); it must
        preserve the corpus schema."""
        cfg, store, spark = self.cfg, self.store, self.spark
        if clear:
            store.drop()
        if transform is not None:
            corpus = transform(corpus)
        # ---- stage: validate + fingerprint (one scan, fail-fast) ----
        self._emit("verify", 2.0)
        fp, _, bucket_counts, _ = validate_and_fingerprint(
            corpus, pre_ingested
        )
        # layout knobs are part of the lineage: a rerun with a different
        # bucket/salt/block config must rebuild, not resume onto stages
        # committed under the old layout (config.layout_key docstring)
        fp = f"{fp},{cfg.layout_key()}"
        store.save_config(cfg.layout_dict())  # append/merge/query default to it
        metrics: dict[str, Any] = {"fingerprint": fp}
        counts: dict[str, int] = {}

        # ---- stage: ingest (ids + sha256 -> corpus snapshot) ----
        if not (store.stage_done("ingest", fp) and store.has_table("ingested")):
            self._emit("ingest", 10.0)
            t0 = time.time()
            ingested = corpus if pre_ingested else ingest_corpus(
                corpus, validate=False, bucket_counts=bucket_counts
            )
            got = self._write_observed(
                ingested, "ingested",
                {"n": F.count(F.lit(1)), "max_id": F.max("doc_id")},
            )
            dt = time.time() - t0
            counts["n_docs"] = int(got["n"])
            counts["max_doc_id"] = int(got["max_id"])
            metrics["ingest"] = store.log_metrics(
                "ingest", n_docs=counts["n_docs"], sec=round(dt, 3),
                docs_per_sec=round(counts["n_docs"] / max(dt, 1e-9), 1),
            )
            store.commit_stage(
                "ingest", fp, n_docs=counts["n_docs"],
                max_doc_id=counts["max_doc_id"],
            )

        ingested = store.read_table(spark, "ingested")

        # ---- stage: triples (tokenize ONCE, persisted checkpoint) ----
        if not (store.stage_done("triples", fp) and store.has_table("triples")):
            self._emit("tokenize", 30.0)
            t0 = time.time()
            got = self._write_observed(
                tokenize_triples(ingested),
                "triples",
                {"n": F.count(F.lit(1)), "total_tf": F.sum("tf")},
            )
            dt = time.time() - t0
            counts["n_triples"] = int(got["n"])
            counts["total_tf"] = int(got["total_tf"] or 0)
            metrics["tokenize"] = store.log_metrics(
                "tokenize", n_triples=counts["n_triples"],
                total_tokens=counts["total_tf"], sec=round(dt, 3),
                triples_per_sec=round(counts["n_triples"] / max(dt, 1e-9), 1),
            )
            store.commit_stage(
                "triples", fp, n_triples=counts["n_triples"],
                total_tf=counts["total_tf"],
            )

        triples = store.read_table(spark, "triples")

        # ---- stage: docs (depends only on ingested) ----
        def _docs_stage() -> None:
            t0 = time.time()
            got = self._write_observed(
                docs_table(ingested), "docs", {"n": F.count(F.lit(1))}
            )
            dt = time.time() - t0
            counts["n_docs"] = int(got["n"])
            metrics["docs"] = store.log_metrics(
                "docs", n_docs=counts["n_docs"], sec=round(dt, 3),
                docs_per_sec=round(counts["n_docs"] / max(dt, 1e-9), 1),
            )

        # The docs table is pure query-side metadata: nothing in the
        # terms -> stats -> postings chain reads it, so its write job runs
        # on a separate driver thread CONCURRENTLY with that whole chain
        # (Spark schedules jobs from independent threads into idle task
        # slots). Each stage commits its own lineage entry on success —
        # manifest writes are atomic and serialized under the store lock,
        # and a failed stage simply stays uncommitted for the next resume.
        # The thread inherits the caller's local properties (job group,
        # description, scheduler pool), so cancelling the caller's job
        # group cancels the docs jobs too.
        docs_pool = None
        docs_future = None
        if not (store.stage_done("docs", fp) and store.has_table("docs")):
            from concurrent.futures import ThreadPoolExecutor

            def _docs_and_commit() -> None:
                _docs_stage()
                store.commit_stage("docs", fp, n_docs=counts["n_docs"])

            with warnings.catch_warnings():
                # the engine sets no session tags, only local properties
                warnings.filterwarnings("ignore", "Spark session is not provided")
                target = inheritable_thread_target(_docs_and_commit)
            docs_pool = ThreadPoolExecutor(1)
            docs_future = docs_pool.submit(target)
        chain_exc: BaseException | None = None
        try:
            self._build_chain(fp, triples, counts, metrics)
        except BaseException as e:
            chain_exc = e
        # always join the docs thread; the chain's exception stays primary —
        # a concurrent docs failure must not mask it
        if docs_future is not None:
            try:
                docs_future.result()
            except BaseException as docs_exc:
                if chain_exc is None:
                    raise
                chain_exc.__context__ = docs_exc
            finally:
                docs_pool.shutdown(wait=False)
        if chain_exc is not None:
            raise chain_exc

        self._emit("done", 100.0)
        return metrics

    def _build_chain(
        self,
        fp: str,
        triples: DataFrame,
        counts: dict[str, int],
        metrics: dict[str, Any],
    ) -> None:
        """terms -> stats -> postings (runs concurrently with the docs
        stage; must not read the docs table)."""
        cfg, store, spark = self.cfg, self.store, self.spark

        def _terms_stage() -> None:
            t0 = time.time()
            # one file per bucket dir instead of tasks x buckets tiny files
            ts = by_bucket(term_stats(triples, cfg))
            got = self._write_observed(
                ts, "terms", {"n": F.count(F.lit(1))}, partition_by=["bucket"]
            )
            dt = time.time() - t0
            counts["n_terms"] = int(got["n"])
            metrics["terms"] = store.log_metrics(
                "terms", n_terms=counts["n_terms"], sec=round(dt, 3),
                terms_per_sec=round(counts["n_terms"] / max(dt, 1e-9), 1),
            )

        if not (store.stage_done("terms", fp) and store.has_table("terms")):
            self._emit("terms", 60.0)
            _terms_stage()
            store.commit_stage("terms", fp, n_terms=counts["n_terms"])

        terms = store.read_table(spark, "terms")

        # ---- stage: stats (assembled from observations; falls back to
        # cheap metadata counts when resuming past a stage; must NOT read
        # the docs table — it may still be building on the other thread) ----
        if not (store.stage_done("stats", fp) and store.has_table("stats")):
            st = store.manifest()["stages"]
            n_docs = counts.get("n_docs") or st.get("ingest", {}).get("n_docs") \
                or st.get("docs", {}).get("n_docs") \
                or self._table_count("ingested")
            total_tf = counts.get("total_tf")
            if total_tf is None:
                total_tf = st.get("triples", {}).get("total_tf")
            if total_tf is None:
                total_tf = int(
                    triples.agg(F.sum("tf")).collect()[0][0] or 0
                )
            n_terms = counts.get("n_terms") or st.get("terms", {}).get("n_terms") \
                or self._table_count("terms")
            stats, avgdl = stats_table(cfg, n_docs, total_tf, n_terms)
            store.write_table(stats, "stats")
            metrics["stats"] = store.log_metrics(
                "stats", n_docs=n_docs, avgdl=avgdl, n_terms=n_terms
            )
            # running totals for O(increment) appends (incremental.py reads
            # these instead of re-aggregating the whole triples table)
            max_id = counts.get("max_doc_id")
            if max_id is None:
                max_id = st.get("ingest", {}).get("max_doc_id", n_docs - 1)
            store.commit_stage(
                "totals", fp, n_docs=n_docs, total_tf=total_tf,
                max_doc_id=int(max_id),
            )
            store.commit_stage("stats", fp)

        # ---- stage: postings ----
        if not (store.stage_done("postings", fp) and store.has_table("postings")):
            self._emit("postings", 80.0)
            t0 = time.time()
            postings = encode_postings(triples, terms, cfg)
            got = self._write_observed(
                postings,
                "postings",
                {
                    "rows": F.count(F.lit(1)),
                    "postings": F.sum("n"),
                    "bytes": F.sum(
                        F.length("doc_ids")
                        + F.length("tfs")
                        + F.length("doclens")
                    ),
                },
                partition_by=["bucket"],
            )
            dt = time.time() - t0
            metrics["postings"] = store.log_metrics(
                "postings",
                rows=int(got["rows"]),
                postings=int(got["postings"] or 0),
                bytes_compressed=int(got["bytes"] or 0),
                sec=round(dt, 3),
                postings_per_sec=round(
                    (got["postings"] or 0) / max(dt, 1e-9), 1
                ),
            )
            store.commit_stage("postings", fp, rows=int(got["rows"]))
