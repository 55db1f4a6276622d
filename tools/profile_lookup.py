"""Profile the driver lookup path stage-by-stage on a big synthetic index.

Times, per hot query term, the stages a cold lookup runs: the fetch
(``SnapshotState.fetch``: the term's bucket files, cached footers,
``term`` filter), the decode (``decode_postings``: three varint passes),
the BM25 impacts, and the salt-merge with block bounds
(``SnapshotState.sorted_postings``); then lookup and score time of whole
searches — so we know WHICH stage owns monster-df lookup latency before
optimizing it (BENCH/bigcorpus run 2 measured ~10 s lookup at 5M docs).

Usage: python tools/profile_lookup.py [n_docs] [index_root]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
ROOT = sys.argv[2] if len(sys.argv) > 2 else "/dev/shm/excelastic_prof"


def main() -> None:
    from excelastic_spark import codec
    from excelastic_spark.build import IndexBuilder
    from excelastic_spark.catalog import IndexStore
    from excelastic_spark.config import EngineConfig
    from excelastic_spark.corpus import synthesize_corpus
    from excelastic_spark.query import (
        QueryEngine,
        RawPostings,
        decode_postings,
    )
    from excelastic_spark.session import get_spark

    cfg = EngineConfig(
        n_buckets=32, block_size=128, salt_threshold=4000, salt_target=2000,
        shuffle_partitions=64,
    )
    spark = get_spark(app_name="profile-lookup", master="local[32]", config=cfg)
    spark.sparkContext.setLogLevel("ERROR")
    fresh = not os.path.exists(os.path.join(ROOT, "prof_idx", "manifest.json"))
    if fresh:
        shutil.rmtree(ROOT, ignore_errors=True)
        os.makedirs(ROOT)
    store = IndexStore(ROOT, "prof_idx")
    if fresh:
        corpus = synthesize_corpus(spark, N_DOCS, partitions=64)
        t0 = time.time()
        IndexBuilder(spark, store, cfg).build(corpus)
        print(f"build: {time.time() - t0:.1f}s", file=sys.stderr)

    qe = QueryEngine(spark, store, cfg)
    terms = ["import", "return", "def", "class", "self"]
    qe.search(terms[:2], mode="or", k=10)  # warm

    st = qe.pin()
    out = {}
    for term in terms:
        t0 = time.perf_counter()
        tbl = st.fetch("postings", [term], st.POSTING_COLUMNS)
        t_fetch = time.perf_counter() - t0
        t0 = time.perf_counter()
        _, runs = decode_postings(tbl)
        t_decode = time.perf_counter() - t0
        run = runs[term]
        t0 = time.perf_counter()
        raw = RawPostings(
            term, run.doc_ids,
            codec.bm25_impact(run.tfs, run.doclens, st.avgdl, st.k1, st.b),
            float(codec.bm25_idf(st.n_docs, run.doc_ids.size)),
            run.presorted,
        )
        t_impacts = time.perf_counter() - t0
        t0 = time.perf_counter()
        st.sorted_postings(raw)
        t_merge = time.perf_counter() - t0
        out[term] = {
            "df": int(run.doc_ids.size),
            "rows": tbl.num_rows,
            "posting_mb": round(tbl.nbytes / 1e6, 1),
            "fetch_s": round(t_fetch, 3),
            "decode_s": round(t_decode, 3),
            "impacts_s": round(t_impacts, 3),
            "salt_merge_blocks_s": round(t_merge, 3),
        }
        print(json.dumps({term: out[term]}), file=sys.stderr)

    # end-to-end search timings for the bench queries
    for q, mode in ((["import", "return"], "or"), (["def", "class", "self"], "and")):
        r = qe.search(q, mode=mode, k=10)
        out[f"search:{'+'.join(q)}"] = {
            "lookup_s": round(r.lookup_sec, 3),
            "score_s": round(r.score_sec, 3),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
