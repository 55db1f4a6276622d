"""CLI entry: build / query / append / merge / stats over a warehouse index.

Analog of the reference's command-line surface
(/root/reference/src/main/java/com/codingchili/excelastic/controller/CommandLine.java:21-72
and ImportEvent.fromCommandLineArgs, model/ImportEvent.java:56-64):
`<file> <index> [--clear] [--offset n] ...` becomes explicit subcommands.
Run via spark-submit on a cluster:

    spark-submit --py-files engine.zip index.py build --corpus s3://... \
        --warehouse s3://.../wh --name code_idx --clear

or plain `python index.py ...` locally.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="index.py", description=__doc__)
    p.add_argument("--warehouse", default=None)
    p.add_argument(
        "--name", default=None,
        help="index name; defaults to the config file's default_index, "
        "else the reference's MMMM-yyyy rule (Configuration.java:55-57)",
    )
    p.add_argument(
        "--config", default=None,
        help="JSON config file (Configuration.java:31-52 analog); "
        "./configuration.json is picked up automatically if present",
    )
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="full index build from a corpus table")
    b.add_argument("--corpus", required=True, help="parquet path of (repo, path, commit, lang, content)")
    b.add_argument("--clear", action="store_true", help="drop the index first (reference --clear, ElasticWriter.java:186-194)")
    b.add_argument("--pre-ingested", action="store_true", help="corpus already has doc_id + sha256")
    b.add_argument("--salt-threshold", type=int, default=None)
    b.add_argument("--block-size", type=int, default=None)
    b.add_argument("--buckets", type=int, default=None)

    q = sub.add_parser("query", help="top-k BM25 search")
    q.add_argument("--terms", required=True, help="comma-separated query terms")
    q.add_argument("--mode", choices=["and", "or"], default="or")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--distributed", action="store_true")
    q.add_argument(
        "--tier", choices=["full", "head", "bounded"], default="full",
        help="'head' serves OR and AND queries from the impact-ordered "
        "head tier (bounded latency, approximate — run `heads` first); "
        "output adds set_exact/score_gap. 'bounded' serves from the head "
        "tier only when its certificate proves the top-k set exact, "
        "falling back to the exact engine otherwise",
    )

    h = sub.add_parser(
        "heads",
        help="build the impact-ordered head tier (champion lists): top-N "
        "postings per term by BM25 impact + exclusion bounds, for "
        "bounded-latency approximate top-k on monster-df terms",
    )
    h.add_argument("--head-size", type=int, default=None)
    h.add_argument(
        "--refresh",
        action="store_true",
        help="incremental: derive heads only for postings segments added "
        "since the tier was built (O(increment)); parameters stay pinned "
        "from the original build",
    )

    a = sub.add_parser("append", help="append an increment to the index")
    a.add_argument("--corpus", required=True)

    sp = sub.add_parser(
        "shard-plan",
        help="plan a shard-parallel build (validate + doc_id offsets)",
    )
    sp.add_argument("--corpus", required=True)
    sp.add_argument("--shards", type=int, required=True)
    sp.add_argument("--salt-threshold", type=int, default=None)
    sp.add_argument("--block-size", type=int, default=None)
    sp.add_argument("--buckets", type=int, default=None)

    sb = sub.add_parser(
        "shard-build",
        help="build ONE shard's segments (run one process per shard, "
        "concurrently — e.g. one spark-submit per executor group)",
    )
    sb.add_argument("--corpus", required=True)
    sb.add_argument("--shard", type=int, required=True)

    sub.add_parser(
        "shard-finalize",
        help="reconcile global terms/stats after all shards are built",
    )

    sub.add_parser("merge", help="compact postings segments")
    sub.add_parser("stats", help="print collection stats + stage metrics")

    st = sub.add_parser(
        "stream",
        help="Structured Streaming ingest: corpus parquet files landing in "
        "--input are appended to the index exactly once (file-source + "
        "idempotent foreachBatch: the applied batch_id commits atomically "
        "with the data, so a crash-replayed batch is skipped)",
    )
    st.add_argument("--input", required=True, help="drop directory to watch")
    st.add_argument("--checkpoint", required=True)
    st.add_argument(
        "--follow", action="store_true",
        help="keep watching for new files (default: drain what is "
        "available now and exit — trigger availableNow)",
    )

    w = sub.add_parser(
        "serve",
        help="web upload surface + websocket/long-poll progress channel "
        "(reference Website.java journey)",
    )
    w.add_argument("--host", default="127.0.0.1")
    w.add_argument(
        "--port", type=int, default=None,
        help="default: the config file's web_port (9999, the reference's "
        "Configuration.java default)",
    )
    w.add_argument(
        "--max-upload-mb", type=int, default=256,
        help="reject uploads whose Content-Length exceeds this many MiB "
        "(memory-safety bound for non-loopback binds)",
    )

    args = p.parse_args(argv)

    from excelastic_spark.catalog import IndexStore
    from excelastic_spark.config import EngineConfig
    from excelastic_spark.session import get_spark

    cfg = EngineConfig.load_file(args.config)
    if args.warehouse:
        cfg = cfg.with_overrides(warehouse=args.warehouse)
    if args.cmd in ("build", "shard-plan"):
        over = {}
        # `is not None`, not truthiness: 0 is a meaningful override
        # (--salt-threshold 0 = salt every term, since salting triggers
        # on df > threshold) and must not fall back to the default
        if args.salt_threshold is not None:
            over["salt_threshold"] = args.salt_threshold
        if args.block_size is not None:
            over["block_size"] = args.block_size
        if args.buckets is not None:
            over["n_buckets"] = args.buckets
        cfg = cfg.with_overrides(**over)
    name = cfg.resolve_index_name(args.name)
    spark = get_spark(app_name=f"excelastic-{args.cmd}", master=args.master, config=cfg)
    store = IndexStore(cfg.warehouse, name)

    if args.cmd == "build":
        from excelastic_spark.build import IndexBuilder

        if args.clear and cfg.index_lock:
            print(
                "refusing --clear: index_lock is set in the configuration "
                "(reference Configuration.java index_lock)",
                file=sys.stderr,
            )
            spark.stop()
            return 1
        corpus = spark.read.parquet(args.corpus)
        metrics = IndexBuilder(spark, store, cfg).build(
            corpus, clear=args.clear, pre_ingested=args.pre_ingested
        )
        print(json.dumps(metrics, default=str))
    elif args.cmd == "query":
        from excelastic_spark.query import QueryEngine

        qe = QueryEngine(spark, store, cfg)
        terms = [t for t in args.terms.split(",") if t]
        if args.distributed and args.tier in ("head", "bounded"):
            # refusing beats silently running the exact distributed path
            # (and emitting a different JSON shape than the tier contract)
            print(
                "--distributed cannot be combined with --tier "
                f"{args.tier}: the distributed path is exact-only",
                file=sys.stderr,
            )
            spark.stop()
            return 1
        if args.distributed:
            rows = qe.search_distributed(terms, args.mode, args.k).collect()
            out = [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]
        elif args.tier in ("head", "bounded"):
            if args.tier == "bounded":
                res = qe.search_bounded(terms, args.mode, args.k)
            else:
                res = qe.search_head(terms, args.k, mode=args.mode)
            out = {
                "results": res.to_pandas().to_dict("records"),
                "approximate": res.approximate,
                "set_exact": res.set_exact,
                "score_gap": [
                    float(g)
                    for g in (
                        res.score_gap if res.score_gap is not None else []
                    )
                ],
            }
        else:
            res = qe.search(terms, args.mode, args.k)
            out = res.to_pandas().to_dict("records")
        print(json.dumps(out))
    elif args.cmd == "append":
        from excelastic_spark.streaming.incremental import IncrementalIndexer

        inc = IncrementalIndexer(spark, store, cfg)
        print(json.dumps(inc.append_increment(spark.read.parquet(args.corpus)), default=str))
    elif args.cmd == "shard-plan":
        from excelastic_spark import sharded

        plan = sharded.plan_shards(
            spark.read.parquet(args.corpus), args.shards, store, cfg
        )
        print(json.dumps({k: plan[k] for k in
                          ("fingerprint", "n_docs", "n_shards")}))
    elif args.cmd == "shard-build":
        from excelastic_spark import sharded

        rec = sharded.build_shard(
            spark, store, spark.read.parquet(args.corpus), args.shard, cfg
        )
        print(json.dumps(rec, default=str))
    elif args.cmd == "shard-finalize":
        from excelastic_spark import sharded

        print(json.dumps(sharded.finalize(spark, store, cfg), default=str))
    elif args.cmd == "heads":
        from excelastic_spark.heads import (
            DEFAULT_HEAD_SIZE,
            build_heads,
            refresh_heads,
        )

        if args.refresh:
            paths = refresh_heads(spark, store)
        else:
            paths = build_heads(
                spark, store, head_size=args.head_size or DEFAULT_HEAD_SIZE
            )
        print(json.dumps({"heads": paths}))
    elif args.cmd == "merge":
        from excelastic_spark.streaming.incremental import IncrementalIndexer

        print(json.dumps(IncrementalIndexer(spark, store, cfg).merge_segments(), default=str))
    elif args.cmd == "stream":
        from excelastic_spark.streaming.incremental import IncrementalIndexer

        inc = IncrementalIndexer(spark, store, cfg)
        q = inc.stream_from_directory(
            args.input, args.checkpoint, trigger_once=not args.follow
        )
        q.awaitTermination()
        if store.has_table("stats"):
            print(json.dumps(store.snapshot().stats_row()))
        else:
            print(json.dumps({"n_docs": 0, "note": "no input files consumed"}))
    elif args.cmd == "stats":
        print(json.dumps(store.snapshot().stats_row()))
    elif args.cmd == "serve":
        from excelastic_spark.web import serve

        serve(
            spark, cfg, host=args.host,
            port=args.port if args.port is not None else cfg.web_port,
            max_upload_bytes=args.max_upload_mb << 20,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
