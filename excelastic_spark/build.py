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
  docs      skinny doc-metadata table (doc_id, key, lang, sha256, doclen)
  terms     df/cf per term + salting plan
  postings  salt -> ONE shuffle on (term, salt) JVM-sorted by
            (term, salt, doc_id) -> STREAMING vectorized Arrow encoder
            (delta+varint + block-max in one linear pass; Python memory
            O(batch + largest group), never O(partition)) -> one
            lightweight exchange to bucket(term) alignment -> postings
            table parquet-partitioned by bucket for lookup pruning
  stats     collection stats assembled from the stages' Observation
            metrics (no extra jobs)

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
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
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
    ParserException,
    id_bucket_expr,
    ingest_corpus,
)
from excelastic_spark.tokenizer import tokenize_triples

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


def validate_and_fingerprint(
    corpus: DataFrame, pre_ingested: bool
) -> tuple[str, int, dict[int, int]]:
    """ONE aggregation pass, grouped by the doc-id bucket: fail-fast
    validation (null keys/content, duplicate keys — the initialize() dry-run
    analog) fused with the order-independent lineage fingerprint (count +
    crc sum) AND the per-bucket counts that doc-id assignment needs — so
    ingest never re-scans the corpus just to count buckets.

    Grouping by the id bucket keeps every aggregate exact: the bucket is a
    function of the (repo, path, commit) key, so per-bucket distinct-key
    counts sum to the global distinct count."""
    key_cols = ("repo", "path", "commit")
    rows = (
        corpus.groupBy(id_bucket_expr().alias("_bucket"))
        .agg(
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
        )
        .collect()
    )
    n = sum(r["n"] for r in rows)
    bad = sum(r["bad"] or 0 for r in rows)
    distinct_keys = sum(r["distinct_keys"] for r in rows)
    crc = sum(r["crc"] or 0 for r in rows)
    bucket_counts = {r["_bucket"]: r["n"] for r in rows}
    if bad > 0:
        raise ParserException(f"{bad} rows with null key/content")
    if not pre_ingested and distinct_keys != n:
        raise ParserException(
            f"duplicate (repo,path,commit) keys: {n - distinct_keys}"
        )
    return (f"v={LAYOUT_VERSION},n={n},crc={crc}", int(n), bucket_counts)


def corpus_fingerprint(corpus: DataFrame) -> str:
    return validate_and_fingerprint(corpus, pre_ingested=True)[0]


# ---------------------------------------------------------------------------
# sorted-run vectorized posting encoder


_PA_POSTINGS_FIELDS = [
    ("term", "string"),
    ("salt", "int32"),
    ("n", "int64"),
    ("doc_ids", "binary"),
    ("tfs", "binary"),
    ("doclens", "binary"),
]


def _encode_runs(terms, salts, ids, tfs, dls, gstarts, gends):
    """Vectorized encode of CONTIGUOUS (term, salt) runs: one varint call
    per column over the whole span, sliced per group by byte offsets.
    ``terms`` is a per-group sequence (len == len(gstarts)); the numeric
    arrays cover exactly the span [gstarts[0], gends[-1]) re-indexed from
    0. No block metadata is stored: queries derive block bounds from the
    decoded postings with query-time stats (query.py sorted_postings)."""
    n = ids.size
    glens = gends - gstarts

    # delta encode doc_ids with a reset at each group start
    deltas = ids.copy()
    deltas[1:] = ids[1:] - ids[:-1]
    deltas[gstarts] = ids[gstarts]

    dbuf, dlen = codec.encode_varint_with_lengths(deltas)
    tbuf, tlen = codec.encode_varint_with_lengths(tfs)
    lbuf, llen = codec.encode_varint_with_lengths(dls)
    doff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(dlen, out=doff[1:])
    toff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tlen, out=toff[1:])
    loff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(llen, out=loff[1:])

    s0, s1 = gstarts, gends
    return {
        "term": list(terms),
        "salt": salts.astype(np.int32),
        "n": glens.astype(np.int64),
        "doc_ids": [dbuf[doff[a]:doff[z]] for a, z in zip(s0, s1)],
        "tfs": [tbuf[toff[a]:toff[z]] for a, z in zip(s0, s1)],
        "doclens": [lbuf[loff[a]:loff[z]] for a, z in zip(s0, s1)],
    }


def _runs_to_batch(outs: list[dict]):
    import pyarrow as pa

    cols = []
    for name, typ in _PA_POSTINGS_FIELDS:
        vals = [o[name] for o in outs]
        if isinstance(vals[0], np.ndarray):
            flat = np.concatenate(vals) if len(vals) > 1 else vals[0]
        else:
            flat = [x for v in vals for x in v]
        cols.append(pa.array(flat, type=getattr(pa, typ)()))
    return pa.RecordBatch.from_arrays(cols, [f[0] for f in _PA_POSTINGS_FIELDS])


def _coalesce_batches(batches, target_rows: int):
    """Concatenate upstream Arrow batches to ~target_rows before encoding.
    Spark hands mapInArrow batches of arrow_batch_size (10k) rows; the
    kernel pays fixed Python costs per batch (column conversions, carry
    churn, one output RecordBatch per input batch), so coalescing amortizes
    them ~25x while Python memory stays bounded at O(target_rows + largest
    group) — the streaming claim is unchanged, the constant is just chosen
    here instead of by the session's Arrow batch size."""
    import pyarrow as pa

    def flush(buf):
        if len(buf) == 1:
            yield buf[0]
        else:
            # combine_chunks may return MULTIPLE batches when a coalesced
            # string/binary column would exceed the 2^31-byte offset limit;
            # taking only [0] would silently drop the rest. The downstream
            # encoder's carry logic handles groups split across yielded
            # batches, so forwarding every batch is always safe.
            yield from pa.Table.from_batches(buf).combine_chunks().to_batches()

    buf: list = []
    rows = 0
    for b in batches:
        if b.num_rows == 0:
            continue
        buf.append(b)
        rows += b.num_rows
        if rows >= target_rows:
            yield from flush(buf)
            buf, rows = [], 0
    if buf:
        yield from flush(buf)


def _encode_sorted_stream(cfg: EngineConfig):
    """mapInArrow kernel over a hash(term, salt) shuffle partition already
    SORTED by (term, salt, doc_id) — the Tungsten sort in the exchange
    replaces the old in-Python lexsort/factorize/gather, and the kernel
    becomes ONE linear streaming pass: group boundaries are found C-side
    (Arrow not_equal on adjacent slices), complete groups within a batch
    are encoded by the same whole-span vectorized routine, and the one
    group straddling a batch edge is carried as numpy segments.

    Scale property this buys (vs the previous whole-partition mapInPandas):
    Python memory is O(arrow batch + largest single group), NOT O(shuffle
    partition) — a 100 TB build can size shuffle partitions to the JVM's
    comfort without a Python materialization cliff, and the JVM sort
    spills gracefully where a pandas concat would OOM."""
    def flush_carry(carry):
        term, salt, parts = carry
        ids = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        return _encode_runs(
            [term], np.array([salt]), ids, tfs, dls,
            np.array([0]), np.array([ids.size]),
        )

    coalesce_rows = cfg.encode_coalesce_rows

    def fn(batches):
        import pyarrow.compute as pc

        carry = None  # (term, salt, [(ids, tfs, dls), ...]) open group
        for batch in _coalesce_batches(batches, coalesce_rows):
            nb = batch.num_rows
            if nb == 0:
                continue
            t_arr = batch.column("term")
            salts = batch.column("salt").to_numpy(zero_copy_only=False)
            ids = batch.column("doc_id").to_numpy().astype(np.uint64)
            tfs = batch.column("tf").to_numpy().astype(np.uint64)
            dls = batch.column("doclen").to_numpy().astype(np.uint64)
            if nb > 1:
                neq = (
                    pc.not_equal(t_arr.slice(1), t_arr.slice(0, nb - 1))
                    .to_numpy(zero_copy_only=False)
                    | (salts[1:] != salts[:-1])
                )
                starts = np.flatnonzero(neq) + 1  # group starts at i > 0
            else:
                starts = np.empty(0, dtype=np.int64)

            first_term = t_arr[0].as_py()
            first_salt = int(salts[0])
            outs = []
            if carry is not None and (
                carry[0] != first_term or carry[1] != first_salt
            ):
                outs.append(flush_carry(carry))
                carry = None

            if starts.size == 0:
                # the whole batch is one (possibly continuing) group
                seg = (ids, tfs, dls)
                if carry is None:
                    carry = (first_term, first_salt, [seg])
                else:
                    carry[2].append(seg)
            else:
                p1 = int(starts[0])
                if carry is not None:
                    # batch prefix closes the open group
                    carry[2].append((ids[:p1], tfs[:p1], dls[:p1]))
                    outs.append(flush_carry(carry))
                    carry = None
                    mid_lo = p1
                else:
                    mid_lo = 0  # the prefix is itself a complete group
                last = int(starts[-1])
                if mid_lo < last:
                    import pyarrow as pa

                    gs = starts[:-1][starts[:-1] > mid_lo]
                    gstarts = np.concatenate(([mid_lo], gs)).astype(np.int64)
                    gends = np.append(gstarts[1:], last)
                    gterms = t_arr.take(pa.array(gstarts)).to_pylist()
                    outs.append(
                        _encode_runs(
                            gterms, salts[gstarts],
                            ids[mid_lo:last], tfs[mid_lo:last],
                            dls[mid_lo:last],
                            gstarts - mid_lo, gends - mid_lo,
                        )
                    )
                carry = (
                    t_arr[last].as_py(), int(salts[last]),
                    [(ids[last:], tfs[last:], dls[last:])],
                )
            if outs:
                yield _runs_to_batch(outs)
        if carry is not None:
            yield _runs_to_batch([flush_carry(carry)])

    return fn


def encode_postings(
    triples: DataFrame, terms: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """Shared postings pipeline: salt hot terms (broadcast ONLY the salted
    subset of the terms table), ONE (term, salt) shuffle whose reduce side
    is JVM-sorted by (term, salt, doc_id) (Tungsten radix sort, spills to
    disk at scale), then a STREAMING mapInArrow encoder (one linear pass,
    O(batch + largest group) Python memory), then align rows with the
    bucket partition dirs. Used by the full build, the shard builder, the
    incremental appender and the segment merge — one tested kernel, four
    call sites.

    The final bucket repartition is a second exchange, but of the COMPRESSED
    postings bytes (orders of magnitude smaller than the triples the first
    shuffle moves), and AQE coalesces it to n_buckets small partitions; it
    buys one term-dense file per bucket dir, which the pyarrow query path
    prunes with a single footer read. The single-shuffle alternative
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
        .drop("n_salts")
        .select("term", "salt", "doc_id", "tf", "doclen")
    )
    return (
        salted.repartition(cfg.shuffle_partitions, "term", "salt")
        .sortWithinPartitions("term", "salt", "doc_id")
        .mapInArrow(_encode_sorted_stream(cfg), schema=POSTINGS_SCHEMA)
        .withColumn("bucket", bucket_expr(F.col("term"), cfg.n_buckets))
        .repartition(cfg.n_buckets, "bucket")
    )


def term_stats(triples: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(term, df, cf, n_salts, bucket) from a triples set — the terms-table
    shape. Salting plan: df > salt_threshold splits into ceil(df/salt_target)
    sub-lists."""
    return (
        triples.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .withColumn(
            "n_salts",
            F.when(
                F.col("df") > cfg.salt_threshold,
                F.ceil(F.col("df") / cfg.salt_target).cast(IntegerType()),
            ).otherwise(F.lit(1)),
        )
        .withColumn("bucket", bucket_expr(F.col("term"), cfg.n_buckets))
    )


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
        """Write a stage table while collecting metrics IN the write job
        (Observation API) — no separate count/agg jobs."""
        obs = Observation(f"obs_{table}")
        observed = df.observe(obs, *[v.alias(k) for k, v in aggs.items()])
        self.store.write_table(observed, table, partition_by=partition_by)
        return dict(obs.get)

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
        fp, n_input, bucket_counts = validate_and_fingerprint(
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

        # ---- stage: docs (depends only on triples + ingested) ----
        def _docs_stage() -> None:
            t0 = time.time()
            doclens = triples.groupBy("doc_id").agg(F.sum("tf").alias("doclen"))
            docs_out = ingested.join(doclens, "doc_id", "left").select(
                "doc_id",
                "repo",
                "path",
                "commit",
                "lang",
                "sha256",
                F.coalesce("doclen", F.lit(0)).cast(LongType()).alias("doclen"),
            )
            got = self._write_observed(docs_out, "docs", {"n": F.count(F.lit(1))})
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
        docs_pool = None
        docs_future = None
        if not (store.stage_done("docs", fp) and store.has_table("docs")):
            from concurrent.futures import ThreadPoolExecutor

            def _docs_and_commit() -> None:
                _docs_stage()
                store.commit_stage("docs", fp, n_docs=counts["n_docs"])

            docs_pool = ThreadPoolExecutor(1)
            docs_future = docs_pool.submit(_docs_and_commit)
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
            # align tasks with partition dirs: each write task emits ONE
            # bucket file instead of spraying tasks x buckets tiny files
            ts = term_stats(triples, cfg).repartition(cfg.n_buckets, "bucket")
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
            avgdl = float(total_tf) / n_docs if n_docs else 0.0
            stats_df = spark.createDataFrame(
                [(n_docs, avgdl, n_terms, cfg.k1, cfg.b, cfg.block_size)],
                schema=STATS_SCHEMA,
            )
            store.write_table(stats_df, "stats")
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
