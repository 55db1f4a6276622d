"""Profile the driver lookup path stage-by-stage on a big synthetic index.

Times, per hot query term: pyarrow fetch (scanner.to_table), row
materialization (to_pylist), the three varint decode passes, the salt-merge
(cumsum/argsort), and scoring — so we know WHICH stage owns monster-df
lookup latency before optimizing it (BENCH/bigcorpus run 2 measured ~10 s
lookup at 5M docs).

Usage: python tools/profile_lookup.py [n_docs] [index_root]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
ROOT = sys.argv[2] if len(sys.argv) > 2 else "/dev/shm/excelastic_prof"


def main() -> None:
    from excelastic_spark import codec
    from excelastic_spark.build import IndexBuilder
    from excelastic_spark.catalog import IndexStore
    from excelastic_spark.config import EngineConfig
    from excelastic_spark.corpus import synthesize_corpus
    from excelastic_spark.query import QueryEngine
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

    import pyarrow.dataset as pads

    st = qe.pin()
    dset = st.dataset("postings")
    out = {}
    for term in terms:
        buckets = st.buckets_for([term])
        t0 = time.time()
        flt = pads.field("bucket").isin(buckets) & pads.field("term").isin(
            [term]
        )
        tbl = dset.scanner(filter=flt, use_threads=False).to_table()
        t_fetch = time.time() - t0
        t0 = time.time()
        rows = tbl.to_pylist()
        t_pylist = time.time() - t0
        nbytes = sum(
            len(r["doc_ids"]) + len(r["tfs"]) + len(r["doclens"]) for r in rows
        )
        t0 = time.time()
        parts = sorted(rows, key=lambda r: r["salt"])
        ns = np.array([int(r["n"]) for r in parts], dtype=np.int64)
        cat = b"".join(bytes(r["doc_ids"]) for r in parts)
        t_cat = time.time() - t0
        t0 = time.time()
        deltas = codec.decode_varint(cat)
        t_dec1 = time.time() - t0
        t0 = time.time()
        csum = np.cumsum(deltas, dtype=np.uint64)
        starts = np.cumsum(ns)[:-1]
        offsets = np.zeros(len(parts), dtype=np.uint64)
        if len(parts) > 1:
            offsets[1:] = csum[starts - 1]
        ids = csum - np.repeat(offsets, ns)
        t_reset = time.time() - t0
        t0 = time.time()
        tfs = codec.decode_varint(b"".join(bytes(r["tfs"]) for r in parts))
        dls = codec.decode_varint(b"".join(bytes(r["doclens"]) for r in parts))
        t_dec23 = time.time() - t0
        t0 = time.time()
        if len(parts) > 1:
            order = np.argsort(ids, kind="stable")
            ids, tfs, dls = ids[order], tfs[order], dls[order]
        t_sort = time.time() - t0
        t0 = time.time()
        impacts = codec.bm25_impact(tfs, dls, st.avgdl, st.k1, st.b)
        blk_last, blk_imp = codec.block_metadata(ids, impacts, st.cfg.block_size)
        t_meta = time.time() - t0
        out[term] = {
            "df": int(ids.size),
            "rows": len(rows),
            "posting_mb": round(nbytes / 1e6, 1),
            "fetch_s": round(t_fetch, 3),
            "to_pylist_s": round(t_pylist, 3),
            "concat_s": round(t_cat, 3),
            "decode_ids_s": round(t_dec1, 3),
            "delta_reset_s": round(t_reset, 3),
            "decode_tf_dl_s": round(t_dec23, 3),
            "salt_sort_s": round(t_sort, 3),
            "impacts_blocks_s": round(t_meta, 3),
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
