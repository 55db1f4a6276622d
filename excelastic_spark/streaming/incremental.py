"""Incremental / streaming index maintenance: segment appends + merge.

The reference's "add to existing index" mode (radio add vs clear,
ImportEvent.java:45,62; ElasticWriter only DELETEs when clear is set,
ElasticWriter.java:59,186-194) maps to Iceberg-style segment appends: each
increment writes NEW postings rows (a segment) and a merge job compacts
segments per term — the Lucene segment-merge model (public), re-expressed
as a Spark batch job (SURVEY.md §2B B3/B11).

Cost model (the 100 TB requirement):

* ``append_increment`` is **O(increment + vocabulary)**, never O(index):
  it runs the full build's own chain (build.write_segment: ingested ->
  triples -> docs -> terms -> postings) with every table staged for one
  commit, its doc_ids starting past the running totals' max_doc_id. The
  increment's term counts merge into the existing terms table
  (vocab-sized, tiny next to the corpus), and collection stats advance
  from running totals kept in the manifest — the triples/docs/postings
  tables are appended to but NEVER re-read.
* At bench scale an append's cost is mostly Spark's fixed cost per job,
  so it launches only jobs that move data: one validation pass (which
  also yields the id-bucket counts and, pre_ingested, min(doc_id)), then
  the staged writes themselves. Segment totals are Observations on those
  writes, staged dirs and committed tables are read with their recorded
  schemas (no inference job), the postings encoder reads the staged terms
  dir instead of recomputing the merge, and the stats row is written on
  the driver. Every task has a fixed cost too (each deserializes its
  job), so the bucket-partitioned writes let AQE coalesce their exchange
  (build.by_bucket) and the docs segment is one map-only pass. A 1k-doc
  append on the bench config runs 16 jobs and 27-31 tasks, the caller's
  input read included (the input scans' task count follows the input's
  files; tests/test_job_budget.py holds the tiny-index counts).
* ``merge_segments`` is **O(postings bytes)**, never O(corpus): appended
  posting rows are DECODED back to (doc_id, term, tf, doclen) rows in
  executors and re-encoded through the shared postings encoder (which also
  re-applies the salting plan from the current terms table). No
  re-tokenization, no triples read — the Lucene merge model, where merge
  cost is proportional to the segments being merged.

Streaming ingest uses Structured Streaming's file source + foreachBatch:
every micro-batch runs the SAME deterministic ingest/tokenize/encode
kernels as the batch builder (exactly-once per file via the streaming
checkpoint; doc_ids offset by the running totals so appends never collide).

Correctness under appends: query-side weights are always computed from the
decoded (tf, doclen) and the CURRENT stats table, and block bounds are
recomputed at lookup (query.py), so scores stay exact as avgdl/df drift;
merge restores the compact one-row-per-(term, salt) layout.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from excelastic_spark import codec
from excelastic_spark.build import (
    encode_postings,
    stage_segment,
    stats_table,
    validate_and_fingerprint,
)
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import CORPUS_SCHEMA, ingest_corpus
from excelastic_spark.tokenizer import TRIPLES_SCHEMA


def _decode_rows_to_triples(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """Posting rows -> (doc_id, term, tf, doclen) rows: the same batch
    decode as the query path (codec.decode_row_batches), three vectorized
    passes per run of whole rows, with no Python object per row."""
    for term, ids, tfs, dls in codec.decode_row_batches(batches):
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids.astype(np.int64)),
                term,
                pa.array(tfs.astype(np.int64)),
                pa.array(dls.astype(np.int64)),
            ],
            names=["doc_id", "term", "tf", "doclen"],
        )


class IncrementalIndexer:
    """Append increments to an existing index and compact them."""

    def __init__(
        self, spark: SparkSession, store: IndexStore, cfg: EngineConfig | None = None
    ):
        self.spark = spark
        self.store = store
        # inherit the index's persisted layout params (see catalog.save_config)
        self.cfg = EngineConfig.from_store(store, cfg)

    # ------------------------------------------------------------- totals

    def _totals(self) -> dict[str, int]:
        """Running (n_docs, total_tf, max_doc_id) from the manifest's
        ``totals`` entry, which every commit that changes them carries:
        the build's stats stage, ``sharded.finalize`` and each append.
        Zeros (and max_doc_id -1) before the first such commit. An index
        with stats but no such entry predates the current layout; ids
        counted from 0 would collide with its own, so it is refused."""
        m = self.store.manifest()
        tot = m["stages"].get("totals", {})
        if not tot and "stats" in m["tables"]:
            raise ValueError("no running totals: rebuild before appending")
        return {
            "n_docs": int(tot.get("n_docs", 0)),
            "total_tf": int(tot.get("total_tf", 0)),
            "max_doc_id": int(tot.get("max_doc_id", -1)),
        }

    def append_increment(
        self,
        increment: DataFrame,
        pre_ingested: bool = False,
        stream_batch: tuple[str, int] | None = None,
    ) -> dict[str, Any]:
        """One increment (corpus schema) -> new docs/triples/postings
        SEGMENTS + merged terms + advanced stats. O(increment + vocab):
        only the new segment parquet (written then read back, so downstream
        stages scan parquet not the increment's lineage) and the terms
        table are ever scanned — never the existing triples/docs/postings.
        An empty increment stops after its validation pass and commits
        nothing.

        ``pre_ingested``: increment already carries doc_id + sha256; its
        doc_ids must all exceed the index's current max (doc-disjoint
        segments are what make append/merge/query correct).

        ``stream_batch``: ``(checkpoint_id, batch_id)`` when called from a
        Structured Streaming foreachBatch sink. The id pair is recorded in
        the SAME atomic manifest swap as the data, which is what upgrades
        foreachBatch's at-least-once to exactly-once: if the process dies
        after this commit but before the streaming checkpoint advances, the
        restarted drain re-offers the same batch_id and
        :meth:`stream_batch_applied` tells the sink to skip it (the
        standard idempotent-foreachBatch pattern).

        Crash safety: every table write is STAGED (snapshot dirs invisible
        to readers) and the whole append publishes in ONE manifest swap
        (catalog.commit_snapshot) — segments, merged terms, advanced stats
        and the running totals become visible together or not at all. A
        crash mid-append leaves the index untouched (plus orphan dirs that
        ``store.vacuum()`` reclaims), so the SAME append can simply be
        retried: totals never advanced, so the doc_id disjointness guard and
        id assignment see the pre-append state.

        Concurrency: the whole append holds the store's cross-process
        ``writer_lock`` — two concurrent appends would otherwise both read
        the same running totals and assign COLLIDING doc_ids (and the
        second commit would clobber the first's totals). Appends to one
        index therefore serialize, the same discipline Iceberg enforces
        with commit conflicts; shard-parallel builds don't need the lock
        because their ids come pre-assigned from the plan."""
        with self.store.writer_lock():
            return self._append_locked(increment, pre_ingested, stream_batch)

    def _append_locked(
        self,
        increment: DataFrame,
        pre_ingested: bool,
        stream_batch: tuple[str, int] | None,
    ) -> dict[str, Any]:
        spark, store, cfg = self.spark, self.store, self.cfg
        t0 = time.time()
        # fail-fast dry-run, same as the batch build (ExcelParser
        # initialize() analog): null keys/content and WITHIN-increment
        # duplicate keys abort before anything is staged. Keys that already
        # exist in the index are NOT rejected — the reference appends to ES
        # via _bulk with auto-generated ids (ElasticWriter.java:180-184), so
        # re-importing a file duplicates rows there too; exact dedup is the
        # dedup_exact operator's job, not the ingest path's.
        v = validate_and_fingerprint(
            increment, pre_ingested, id_buckets=cfg.shuffle_partitions
        )
        if v.n == 0:  # an empty segment would still grow the manifest
            return store.log_metrics(
                "append", n_new_docs=0, new_tokens=0,
                sec=round(time.time() - t0, 3),
            )
        tot = self._totals()
        next_id = tot["max_doc_id"] + 1
        # disjointness guard BEFORE any segment write (min(doc_id) came
        # with the validation pass): overlapping doc_ids would silently
        # corrupt the doc-disjoint segment invariant append/merge/query
        # rely on
        if pre_ingested and v.min_doc_id is not None and v.min_doc_id < next_id:
            raise ValueError(
                f"pre_ingested increment doc_ids start at {v.min_doc_id} "
                f"but the index already contains ids up to {next_id - 1}"
            )
        # the build's chain, every table staged for the one commit below;
        # the terms merge the increment's counts into the EXISTING terms
        # table (vocab-sized), never the triples
        writes, seg = stage_segment(
            spark, store,
            lambda: increment if pre_ingested else ingest_corpus(
                increment, id_partitions=cfg.shuffle_partitions,
                bucket_counts=v.bucket_counts, first_id=next_id,
            ),
            cfg,
            base_terms=(
                store.read_table(spark, "terms")
                if store.has_table("terms") else None
            ),
        )
        inc_docs = seg["ingested"]["n_docs"]
        inc_tf = seg["triples"]["total_tf"]

        # ---- stats from running totals (no index scan, no Spark job)
        n_docs = tot["n_docs"] + inc_docs
        total_tf = tot["total_tf"] + inc_tf
        stats, _ = stats_table(cfg, n_docs, total_tf, seg["terms"]["n_terms"])
        writes.append(("stats", store.stage_table(stats, "stats"), "overwrite"))

        # ---- single atomic publish: segments + terms + stats + totals
        # (+ layout config when this increment CREATES the index — e.g.
        # streaming into a fresh drop-dir index — so later query/append
        # sessions recover the same bucket/salt/block layout)
        stages: dict[str, dict[str, Any]] = {
            "totals": {
                "fingerprint": "append",
                "n_docs": n_docs,
                "total_tf": total_tf,
                "max_doc_id": max(
                    tot["max_doc_id"], seg["ingested"]["max_doc_id"]
                ),
            }
        }
        if stream_batch is not None:
            ckpt, batch_id = stream_batch
            stages["stream"] = {
                "fingerprint": str(ckpt),
                "last_batch_id": int(batch_id),
            }
        store.commit_snapshot(
            writes,
            config=(None if store.load_config() else cfg.layout_dict()),
            stages=stages,
        )
        rec = self.store.log_metrics(
            "append", n_new_docs=inc_docs, new_tokens=inc_tf,
            sec=round(time.time() - t0, 3),
        )
        return rec

    # -------------------------------------------------------------- merge

    def merge_segments(self) -> dict[str, Any]:
        """Compact multi-segment postings WITHOUT touching the corpus or
        triples: decode the appended posting rows back to triples rows in
        executors (O(postings bytes) input), then re-encode through the
        shared postings encoder, re-applying the salting plan from the
        current terms table. Snapshot-swapped by the manifest, so readers
        never see a half-merged index.

        Concurrency: holds the store's ``writer_lock`` for the whole
        read-encode-overwrite — without it, a segment appended between the
        postings read and the overwrite commit would be silently dropped
        from the table path list (its docs/stats stay committed, so those
        documents would vanish from query results with no error)."""
        spark, store, cfg = self.spark, self.store, self.cfg
        t0 = time.time()
        with store.writer_lock():
            terms = store.read_table(spark, "terms")
            postings = store.read_table(spark, "postings").select(
                "term", "n", "doc_ids", "tfs", "doclens"
            )
            decoded = postings.mapInArrow(
                _decode_rows_to_triples, schema=TRIPLES_SCHEMA
            )
            merged = encode_postings(decoded, terms, cfg)
            store.write_table(merged, "postings", partition_by=["bucket"])
        rec = store.log_metrics("merge", sec=round(time.time() - t0, 3))
        return rec

    # ---------------------------------------------------------- streaming

    def stream_batch_applied(self, checkpoint_id: str, batch_id: int) -> bool:
        """True when this (checkpoint, batch) pair has already been
        committed to the manifest — i.e. a foreachBatch replay after a
        crash between the manifest commit and the streaming-checkpoint
        commit. A different checkpoint id is a different stream and never
        matches (its batch numbering restarts)."""
        st = self.store.manifest()["stages"].get("stream")
        return (
            bool(st)
            and st.get("fingerprint") == str(checkpoint_id)
            and int(batch_id) <= int(st.get("last_batch_id", -1))
        )

    def make_stream_processor(self, checkpoint_dir: str):
        """The foreachBatch sink body, exposed so tests can replay a batch
        id and observe the idempotent skip."""
        ckpt = os.path.abspath(checkpoint_dir)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            if self.stream_batch_applied(ckpt, batch_id):
                return  # replay of a batch whose append already committed
            self.append_increment(batch_df, stream_batch=(ckpt, int(batch_id)))

        return process

    def stream_from_directory(
        self, input_dir: str, checkpoint_dir: str, trigger_once: bool = True
    ):
        """Structured Streaming file-source ingest: new corpus parquet files
        landing in ``input_dir`` are appended to the index exactly once.
        The streaming checkpoint tracks consumed files (at-least-once);
        recording the applied batch_id inside append_increment's atomic
        manifest swap and skipping already-applied ids on replay closes the
        crash window between the two commits, making the sink idempotent
        per batch and the pipeline exactly-once end-to-end."""
        stream = (
            self.spark.readStream.schema(CORPUS_SCHEMA)
            .parquet(input_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(
                self.make_stream_processor(checkpoint_dir)
            )
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
