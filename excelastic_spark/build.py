"""Index build pipeline: corpus -> inverted index (postings/terms/docs/stats).

After one validation pass, the build runs six stages in order on the
calling thread. Each stage writes one table and publishes it in ONE
manifest swap together with its lineage entry, which holds the input
fingerprint and the values observed in the write; a rerun over the same
input skips every stage whose entry and table are committed (the north
rule's checkpoint/resume requirement, ``IndexBuilder._stage``). The first
five are :func:`write_segment`, the one chain that the append and the
shard build run too, with their own stage callable:

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
  stats     the one-row collection stats, assembled on the driver from the
            ingest, triples and terms lineage entries and written with
            pyarrow: no Spark job. The same swap commits the ``totals``
            entry (n_docs, total_tf, max_doc_id) that appends advance

Skew handling: terms with df > cfg.salt_threshold are split into
ceil(df/salt_target) salts by pmod(xxhash64(doc_id), S); ONLY the hot subset
is broadcast to the triples (the full vocabulary is never broadcast — at
10^12 docs the vocab is huge but the hot set is tiny by construction), so
the (term, salt) shuffle has bounded partition sizes. The salted sub-lists
are disjoint by doc and merged at query time (query.py).

Per-stage metrics (docs/sec, terms/sec, postings/sec, bytes compressed) are
collected via the Observation API DURING each write (no re-scan jobs) and
logged with each stage's seconds to the store's metrics.jsonl — the
engine-grade analog of the reference's progress events
(ElasticWriter.java:147-156).
"""

from __future__ import annotations

import time
from typing import Any, NamedTuple

import numpy as np
import pyarrow as pa
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
    bucket_counts: dict[int, int]  # id bucket -> rows, for ingest_corpus
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


def term_stats(
    triples: DataFrame, cfg: EngineConfig, base: DataFrame | None = None
) -> DataFrame:
    """(term, df, cf, n_salts, bucket) from a triples set, plus the df/cf
    of ``base`` (an index's existing terms rows, vocab-sized) when given:
    an append merges its segment's counts into them and re-plans the
    salts, so a term that just went hot salts its new segment."""
    counts = triples.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    if base is not None:
        counts = base.select("term", "df", "cf").unionByName(counts).groupBy(
            "term"
        ).agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    return plan_salts(counts, cfg)


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
    observed values, a null aggregate of no rows as 0)."""
    obs = Observation(f"obs_{table}")
    observed = df.observe(obs, *[v.alias(k) for k, v in aggs.items()])
    path = store.stage_table(observed, table, partition_by=partition_by)
    return path, {k: v or 0 for k, v in obs.get.items()}


def write_segment(
    stage, read, make_ingested, cfg: EngineConfig,
    base_terms: DataFrame | None = None, terms_table: str = "terms",
) -> dict[str, dict[str, Any]]:
    """The one chain that writes an index's tables: ingested -> triples
    -> docs -> terms -> postings. The build, the append and the shard
    build differ only in what they pass: ``stage(table, make, observed,
    partition_by)`` writes ``make()`` with the ``observed`` aggregates
    collected in its write job and returns their values; ``read(table)``
    reads a written table back, so each stage scans parquet, not the
    previous stage's lineage. ``make_ingested()`` gives the rows with
    doc_id and sha256; ``base_terms`` are existing terms rows to merge the
    counts into (:func:`term_stats`). Returns the observed values by
    table."""
    count = F.count(F.lit(1))
    out = {"ingested": stage(
        "ingested", make_ingested,
        {"n_docs": count,
         "max_doc_id": F.coalesce(F.max("doc_id"), F.lit(-1))}, None,
    )}
    ingested = read("ingested")
    out["triples"] = stage(
        "triples", lambda: tokenize_triples(ingested),
        {"n_triples": count, "total_tf": F.sum("tf")}, None,
    )
    triples = read("triples")
    out["docs"] = stage(
        "docs", lambda: docs_table(ingested), {"n_docs": count}, None
    )
    # one file per bucket dir instead of tasks x buckets tiny files
    out["terms"] = stage(
        terms_table, lambda: by_bucket(term_stats(triples, cfg, base_terms)),
        {"n_terms": count}, ["bucket"],
    )
    terms = read(terms_table)
    out["postings"] = stage(
        "postings", lambda: encode_postings(triples, terms, cfg),
        {"postings": F.sum("n"), "rows": count,
         "bytes_compressed": F.sum(
             F.length("doc_ids") + F.length("tfs") + F.length("doclens")
         )},
        ["bucket"],
    )
    return out


def stage_segment(
    spark: SparkSession, store: IndexStore, make_ingested, cfg: EngineConfig,
    **kw: Any,
) -> tuple[list[tuple[str, str, str]], dict[str, dict[str, Any]]]:
    """:func:`write_segment` with every table staged, invisible to readers
    until the caller publishes the returned ``writes`` in ONE
    ``commit_snapshot``: the terms table as an overwrite, every other table
    as an appended segment. (writes, the observed values by table)."""
    writes: list[tuple[str, str, str]] = []
    paths: dict[str, str] = {}

    def stage(table, make, observed, partition_by):
        paths[table], got = stage_observed(
            store, make(), table, observed, partition_by
        )
        mode = "overwrite" if table == "terms" else "append"
        writes.append((table, paths[table], mode))
        return got

    seg = write_segment(
        stage, lambda table: store.read_staged(spark, paths[table]),
        make_ingested, cfg, **kw,
    )
    return writes, seg


# table -> (lineage entry, metrics record and progress event, progress
# percent, the observed value reported per second)
_BUILD_STAGES = {
    "ingested": ("ingest", "ingest", 10.0, "n_docs"),
    "triples": ("triples", "tokenize", 30.0, "n_triples"),
    "docs": ("docs", "docs", 45.0, "n_docs"),
    "terms": ("terms", "terms", 60.0, "n_terms"),
    "postings": ("postings", "postings", 75.0, "postings"),
    "stats": ("stats", "stats", 95.0, None),
}


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

    def _stage(
        self, fp: str, metrics: dict[str, Any], table: str, make,
        observed: dict[str, Any], partition_by: list[str] | None = None,
        also: tuple[str, ...] = (),
    ) -> dict[str, Any]:
        """Run one resumable stage writing ``table`` and return its lineage
        entry, named as in ``_BUILD_STAGES``. The stage is skipped when
        that entry carries ``fp`` and ``table`` is committed. Otherwise
        ``make()`` gives the table: a DataFrame is written with
        ``observed`` aggregated in its write job (:func:`stage_observed`),
        a driver-side ``pa.Table`` as is, ``observed`` holding its values.
        One manifest swap publishes the table with the observed values as
        the lineage entry (and each of ``also``); the metrics record adds
        ``sec`` and a rate per second."""
        store = self.store
        name, metric, pct, rate = _BUILD_STAGES[table]
        snap = store.snapshot()
        entry = snap.stages.get(name)
        if entry and entry.get("fingerprint") == fp and table in snap.tables:
            return entry
        self._emit(metric, pct)
        t0 = time.time()
        df = make()
        if isinstance(df, pa.Table):
            path, got = store.stage_table(df, table), observed
        else:
            path, got = stage_observed(store, df, table, observed, partition_by)
        entry = {"fingerprint": fp, **got}
        store.commit_snapshot(
            [(table, path, "overwrite")],
            stages=dict.fromkeys((name, *also), entry),
        )
        dt = time.time() - t0
        rec = dict(got)
        if rate is not None:
            rec[f"{rate.removeprefix('n_')}_per_sec"] = round(
                rec[rate] / max(dt, 1e-9), 1
            )
        metrics[metric] = store.log_metrics(metric, sec=round(dt, 3), **rec)
        return entry

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
        preserve the corpus schema.

        Returns the metrics record of every stage that ran, by stage, plus
        the lineage fingerprint."""
        cfg, store, spark = self.cfg, self.store, self.spark
        if clear:
            store.drop()
        if transform is not None:
            corpus = transform(corpus)
        self._emit("verify", 2.0)
        v = validate_and_fingerprint(corpus, pre_ingested)
        # layout knobs are part of the lineage: a rerun with a different
        # bucket/salt/block config must rebuild, not resume onto stages
        # committed under the old layout (config.layout_key docstring)
        fp = f"{v.fingerprint},{cfg.layout_key()}"
        store.save_config(cfg.layout_dict())  # append/merge/query default to it
        metrics: dict[str, Any] = {"fingerprint": fp}
        seg = write_segment(
            lambda *a: self._stage(fp, metrics, *a),
            lambda table: store.read_table(spark, table),
            lambda: corpus if pre_ingested else ingest_corpus(
                corpus, bucket_counts=v.bucket_counts
            ),
            cfg,
        )
        ing, tri = seg["ingested"], seg["triples"]
        n_terms = seg["terms"]["n_terms"]
        stats, avgdl = stats_table(cfg, ing["n_docs"], tri["total_tf"], n_terms)
        self._stage(
            fp, metrics, "stats", lambda: stats,
            {"n_docs": ing["n_docs"], "avgdl": avgdl, "n_terms": n_terms,
             "total_tf": tri["total_tf"], "max_doc_id": ing["max_doc_id"]},
            also=("totals",),
        )
        self._emit("done", 100.0)
        return metrics
