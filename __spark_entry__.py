"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs the REAL engine (index build via
excelastic_spark.build over the driver's documents table, query via the
BM25/WAND executor, or the training-data operators) and every ``oracle_sql``
entry is an independent DuckDB re-derivation of the same semantics from the
raw parquet. Floating scores are surfaced as ``*_e6`` integers
(floor(x*1e6+0.5)) in BOTH engines so the value-hash comparison is exact.

Engine internals (codec, salting, WAND, checkpoint/resume) are additionally
verified bit-exact against the pandas oracle in tests/ — the *_e6 rounding
here only bridges Spark<->DuckDB float fold-order differences.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import documents_as_corpus
from excelastic_spark.query import QueryEngine

# gate config: thresholds shrunk so the 500-doc table exercises the at-scale
# paths (multi-salt hot terms, multi-block WAND) — FIXTURES.md §4 pattern
ENTRY_CFG = EngineConfig(
    n_buckets=8, block_size=32, salt_threshold=64, salt_target=32,
    shuffle_partitions=8,
)
_WAREHOUSE = os.environ.get("EXCELASTIC_ENTRY_WAREHOUSE", "/tmp/excelastic_entry_wh")
_ENGINES: dict[str, QueryEngine] = {}

TOK_SQL = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '')"


def _engine_for(spark: SparkSession, sf_dir: str) -> QueryEngine:
    key = os.path.realpath(sf_dir)
    if key in _ENGINES:
        return _ENGINES[key]
    # index name keyed by the FULL realpath (hashed), not its basename:
    # /a/sf0.01 and /b/sf0.01 must not share one store, or the second
    # build rebuilds over the first engine's snapshots mid-session
    import hashlib

    suffix = hashlib.md5(key.encode()).hexdigest()[:8]
    name = f"{os.path.basename(key) or 'idx'}_{suffix}"
    store = IndexStore(_WAREHOUSE, name)
    corpus = documents_as_corpus(spark, sf_dir)
    # build() fingerprints the input and skips completed stages (resume)
    IndexBuilder(spark, store, ENTRY_CFG).build(corpus, pre_ingested=True)
    qe = QueryEngine(spark, store, ENTRY_CFG)
    _ENGINES[key] = qe
    return qe


_BM25_RESULT = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("score_e6", LongType(), False),
    ]
)


def _rerank_e6(spark: SparkSession, pdf: pd.DataFrame, k: int) -> DataFrame:
    """Round scores to e6 integers and re-rank on (score_e6 DESC, doc_id
    ASC) — the total order the SQL oracle uses, immune to float fold-order
    ulps at the k boundary. The engine fetched k+buffer so ties at the
    boundary are resolved identically on both sides."""
    if pdf.empty:
        return spark.createDataFrame([], schema=_BM25_RESULT)
    pdf = pdf.copy()
    pdf["score_e6"] = np.floor(pdf["score"] * 1e6 + 0.5).astype("int64")
    pdf = pdf.sort_values(
        ["score_e6", "doc_id"], ascending=[False, True]
    ).head(k)
    return spark.createDataFrame(pdf[["doc_id", "score_e6"]], schema=_BM25_RESULT)


def _bm25(terms: list[str], mode: str, k: int, distributed: bool = False,
          algo: str = "auto"):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        qe = _engine_for(spark, sf_dir)
        if distributed:
            pdf = qe.search_distributed(terms, mode=mode, k=k + 100).toPandas()
        else:
            pdf = qe.search(terms, mode=mode, k=k + 100, algo=algo).to_pandas()
        return _rerank_e6(spark, pdf, k)

    return run


def _bm25_head(terms: list[str], k: int, mode: str = "or"):
    """BM25 top-k (OR or conjunctive AND, r5) served from the
    impact-ordered head tier (heads.py / QueryEngine.search_head) built at
    FULL coverage (head_size >= every df), where the tier's contract
    guarantees bit-exact results with a set_exact certificate — so the
    same DuckDB BM25 oracle validates the whole head path end-to-end
    (fetch, fused decode, exclusion bounds, intersection, certificate).
    Truncated-head semantics (OR lower-bound scores + gap bounds; AND
    exact-subset candidates + cut-doc score bound) are pytest-covered
    (tests/test_heads.py)."""

    FULL_COVERAGE = 1_000_000

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        qe = _engine_for(spark, sf_dir)
        # freshness alone isn't enough: a tier someone built at a SMALLER
        # head_size over the same postings snapshots would be fresh and
        # serve truncated heads — check the pinned size too
        st = qe.pin()
        pinned = st.snap.stages.get("heads", {}).get("head_size")
        if not st.heads_fresh or pinned != FULL_COVERAGE:
            from excelastic_spark.heads import build_heads

            build_heads(spark, qe.store, head_size=FULL_COVERAGE)
        res = qe.search_head(terms, k=k + 100, mode=mode)
        if res.set_exact is not True:  # full coverage must certify;
            # a raise (not assert) so PYTHONOPTIMIZE can't strip the guard
            raise RuntimeError("full-coverage head tier failed to certify")
        return _rerank_e6(spark, res.to_pandas(), k)

    return run


def _bm25_sql(terms: list[str], mode: str, k: int) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    and_clause = (
        f"WHERE nmatch = {len(set(terms))}" if mode == "and" else ""
    )
    # formula mirrors codec.bm25_impact/bm25_idf term-for-term (same
    # association order) with k1=1.2, b=0.75
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9_]+')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
st AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         CAST((SELECT sum(tf) FROM tf) AS DOUBLE)
           / (SELECT count(*) FROM documents) AS avgdl
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scores AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * ((tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))) ) AS score,
         count(*) AS nmatch
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  WHERE tf.term IN ({tlist})
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS score_e6
FROM scores
{and_clause}
ORDER BY score_e6 DESC, doc_id ASC
LIMIT {k}
"""


# --------------------------------------------------------------------------
# core index/query surface


def _q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    qe = _engine_for(spark, sf_dir)
    return qe.store.read_table(spark, "terms").select("term", "df", "cf")


def _q_postings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index integrity: df recovered by summing salted posting-row counts
    must equal the SQL-derived df per term."""
    qe = _engine_for(spark, sf_dir)
    return (
        qe.store.read_table(spark, "postings")
        .groupBy("term")
        .agg(F.sum("n").alias("df"))
    )


def _q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    qe = _engine_for(spark, sf_dir)
    return qe.store.read_table(spark, "stats").select(
        "n_docs",
        F.floor(F.col("avgdl") * 1e6 + F.lit(0.5)).cast("long").alias("avgdl_e6"),
        "n_terms",
    )


def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    qe = _engine_for(spark, sf_dir)
    return qe.store.read_table(spark, "docs").select("doc_id", "doclen", "sha256")


# --------------------------------------------------------------------------
# training-data pipeline surface (documents/embeddings tables)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_token_count(spark, sf_dir):
    from excelastic_spark.functions.text import token_count

    return _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )


def _q_lang_id(spark, sf_dir):
    from excelastic_spark.functions.text import lang_id

    return _docs(spark, sf_dir).select(
        "doc_id", lang_id(F.col("text")).alias("lang_pred")
    )


def _q_quality(spark, sf_dir):
    from excelastic_spark.functions.text import quality_score_e6

    return quality_score_e6(_docs(spark, sf_dir), "text").select(
        "doc_id", "n_tokens", "quality_e6"
    )


def _q_fingerprint(spark, sf_dir):
    from excelastic_spark.functions.text import doc_fingerprint

    return _docs(spark, sf_dir).select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )


def _q_rolling_fp(spark, sf_dir):
    from excelastic_spark.functions.text import rolling_fingerprint

    return _docs(spark, sf_dir).select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("rolling_fp")
    )


def _q_dedup_exact(spark, sf_dir):
    from excelastic_spark.functions.dedup import exact_duplicate_groups

    return exact_duplicate_groups(_docs(spark, sf_dir), "text", "doc_id")


# hot-shingle df cap used by the gate (10% of the sf0.01 documents table);
# the oracle SQL applies the identical HAVING cap
SHINGLE_CAP = 50


def _q_ngram_jaccard(spark, sf_dir):
    from excelastic_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), "text", "doc_id", k=3, threshold=0.1,
        max_shingle_df=SHINGLE_CAP,
    )


def _q_shingle_stats(spark, sf_dir):
    """Persisted boilerplate-df surface (functions/dedup.shingle_df_stats):
    computed once per corpus snapshot, reused by the df-capped dedup
    operators via shingle_stats= instead of a per-call corpus recount.
    Gate returns the sdf>=3 slice (the boilerplate tail the caps act on)."""
    from excelastic_spark.functions.dedup import shingle_df_stats

    return shingle_df_stats(_docs(spark, sf_dir), "text", k=3).filter(
        F.col("sdf") >= 3
    )


def _q_minhash(spark, sf_dir):
    from excelastic_spark.functions.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _docs(spark, sf_dir), "text", "doc_id", num_hashes=16, bands=4,
        hash_family="md5", max_shingle_df=SHINGLE_CAP,
    )


def _q_simhash(spark, sf_dir):
    """Wide-radius STRESS case (d=16 -> 3-4 bit band keys, candidate set
    ~30% of all pairs): exercises the guardrail warning + verify volume."""
    import warnings

    from excelastic_spark.functions.dedup import simhash_near_dups

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)  # intentional stress
        df = simhash_near_dups(
            _docs(spark, sf_dir), "text", "doc_id", max_hamming=16
        )
    return df.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _q_simhash_d3(spark, sf_dir):
    """The realistic web-dedup regime (Manku et al. 2007: d=3): 4 bands of
    15 bits, band keys selective enough that candidates stay near-linear."""
    from excelastic_spark.functions.dedup import simhash_near_dups

    return simhash_near_dups(
        _docs(spark, sf_dir), "text", "doc_id", max_hamming=3
    ).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select("embedding").collect()
    )[0]
    return [float(x) for x in row["embedding"]]


def _q_embed_topk(spark, sf_dir):
    from excelastic_spark.functions.similarity import brute_cosine_topk

    return brute_cosine_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10)


def _centroids(spark, sf_dir, n=8):
    rows = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < n)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]


def _q_ivf_topk(spark, sf_dir):
    from excelastic_spark.functions.similarity import ivf_topk

    return ivf_topk(
        _emb(spark, sf_dir),
        _centroids(spark, sf_dir, 8),
        _query_vec(spark, sf_dir),
        k=10,
        nprobe=3,
    ).select("vec_id", "cosine_e6")


def _q_embed_near_dup(spark, sf_dir):
    """Near-dup pairs via the composed scale path: LSH bucket candidates
    (6 planes x 12 tables -> high recall at this threshold) + exact cosine
    verify. No all-pairs join anywhere in the plan (asserted in
    tests/test_plans.py); the oracle runs the identical banding, so the
    gate is exact-by-construction."""
    from excelastic_spark.functions.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.4, n_planes=6, n_tables=12
    )


def _q_lsh_near_dup(spark, sf_dir):
    from excelastic_spark.functions.similarity import lsh_near_dup_pairs

    return lsh_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.4, n_planes=8, n_tables=6
    )


def _q_multimodal(spark, sf_dir):
    """Media table derived from the documents table (payload = utf-8 bytes
    of text, kind cycled by id) so the decode/feature plumbing runs over
    driver data AND DuckDB can re-derive n_bytes/sha from the same rows."""
    from excelastic_spark.functions.multimodal import extract_features

    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.element_at(kinds, (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return extract_features(media, dim=16).select(
        "media_id", "kind", "n_bytes", "payload_sha"
    )


def _q_media_real_decode(spark, sf_dir):
    """REAL decode kernels end-to-end: deterministic genuine WAV/PPM/AVI
    payloads (structure a simple function of media_id — see
    synthesize_media) decoded in executor tasks; the oracle re-derives the
    decoded container structure from the same id arithmetic, so a decoder
    that misreads headers/frames hash-mismatches."""
    from excelastic_spark.functions.multimodal import (
        probe_media,
        synthesize_media,
    )

    media = synthesize_media(spark, n=60, seed=7, real=True)
    return probe_media(media)


# --------------------------------------------------------------------------
# ingest surface (spreadsheet/CSV/workbook) + index lifecycle gates

_FILES_DIR = "/tmp/excelastic_entry_files"


def _q_spreadsheet_typed(spark, sf_dir):
    """orders -> xlsx (typed cells incl. date-styled serials) -> workbook
    parse with the reference's ExcelParser semantics -> typed DataFrame.
    The oracle re-derives the same rows straight from the parquet."""
    from excelastic_spark.sources.spreadsheet import workbook_typed
    from excelastic_spark.sources.workbook import write_xlsx

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
        .collect()
    )
    d = os.path.join(_FILES_DIR, os.path.basename(os.path.realpath(sf_dir)))
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "orders.xlsx")
    write_xlsx(
        path,
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
        [
            [
                int(r["o_orderkey"]),
                str(r["o_orderstatus"]),
                float(r["o_totalprice"]),
                r["o_orderdate"],
            ]
            for r in rows
        ],
        offset=3,  # non-trivial header offset, the reference's core knob
    )
    parsed = workbook_typed(spark, path, offset=3)
    return parsed.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("price_e6"),
        "o_orderdate",
    )


def _q_xls_typed(spark, sf_dir):
    """Same surface as spreadsheet_typed but through the BIFF8/OLE2 path
    (sources/biff.py — the reference's HSSF branch, ExcelParser.java:80-81):
    orders -> .xls (SST/LABELSST strings, date-styled NUMBER serials) ->
    workbook parse -> typed DataFrame. Oracle identical to the xlsx gate."""
    from excelastic_spark.sources.biff import write_xls
    from excelastic_spark.sources.spreadsheet import workbook_typed

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
        .collect()
    )
    d = os.path.join(_FILES_DIR, os.path.basename(os.path.realpath(sf_dir)))
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "orders.xls")
    write_xls(
        path,
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
        [
            [
                int(r["o_orderkey"]),
                str(r["o_orderstatus"]),
                float(r["o_totalprice"]),
                r["o_orderdate"],
            ]
            for r in rows
        ],
        offset=3,
    )
    parsed = workbook_typed(spark, path, offset=3)
    return parsed.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("price_e6"),
        "o_orderdate",
    )


def _q_workbooks_dir_typed(spark, sf_dir):
    """Distributed workbook ingest (the file-per-task scale path,
    sources/spreadsheet.py read_workbooks — reference one-worker-per-file
    pool, README.md:14): customers split into one small workbook per
    nation, .xlsx and .xls alternating so BOTH parsers run inside executor
    tasks, read back via binaryFile + mapInPandas and re-typed from the
    JSON docs. Oracle recomputes straight from the parquet."""
    import shutil

    from excelastic_spark.sources.biff import write_xls
    from excelastic_spark.sources.spreadsheet import read_workbooks
    from excelastic_spark.sources.workbook import write_xlsx

    rows = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_custkey") <= 600)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .collect()
    )
    by_nation: dict[int, list] = {}
    for r in rows:
        by_nation.setdefault(int(r["c_nationkey"]), []).append(r)
    d = os.path.join(
        _FILES_DIR, os.path.basename(os.path.realpath(sf_dir)), "cust_books"
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    hdrs = ["c_custkey", "c_name", "c_acctbal", "c_nationkey"]
    for nk, rs in sorted(by_nation.items()):
        data = [
            [
                int(r["c_custkey"]),
                str(r["c_name"]),
                float(r["c_acctbal"]),
                int(r["c_nationkey"]),
            ]
            for r in sorted(rs, key=lambda r: r["c_custkey"])
        ]
        writer = write_xlsx if nk % 2 == 0 else write_xls
        ext = "xlsx" if nk % 2 == 0 else "xls"
        writer(os.path.join(d, f"n{nk}.{ext}"), hdrs, data, offset=2)
    docs = read_workbooks(spark, d, offset=2)
    j = F.from_json(
        F.col("doc"),
        "c_custkey double, c_name string, c_acctbal double, c_nationkey double",
    )
    return docs.select(
        j["c_custkey"].cast("long").alias("c_custkey"),
        j["c_name"].alias("c_name"),
        F.floor(j["c_acctbal"] * 1e6 + F.lit(0.5)).cast("long").alias("acctbal_e6"),
        j["c_nationkey"].cast("long").alias("c_nationkey"),
    )


def _q_csv_typed(spark, sf_dir):
    """nation -> CSV at a header offset -> distributed read_typed (the
    no-global-window scan) -> typed columns."""
    from excelastic_spark.sources.spreadsheet import read_typed

    rows = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .orderBy("n_nationkey")
        .collect()
    )
    d = os.path.join(_FILES_DIR, os.path.basename(os.path.realpath(sf_dir)))
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "nation.csv")
    with open(path, "w") as f:
        f.write("generated by excelastic_spark gate,,\n")
        f.write("n_nationkey,n_name,n_regionkey\n")
        for r in rows:
            f.write(f"{r['n_nationkey']},{r['n_name']},{r['n_regionkey']}\n")
    return read_typed(spark, path, offset=2)


_LIFECYCLE: dict[str, set[str]] = {}


def _appended_engine(spark: SparkSession, sf_dir: str, merged: bool) -> QueryEngine:
    """Index built on the first half of documents, then the second half
    APPENDED (B11 lifecycle); ``merged`` additionally compacts segments
    (B3). Queries must equal the full-corpus oracle either way."""
    from excelastic_spark.streaming.incremental import IncrementalIndexer

    key = os.path.realpath(sf_dir)
    done = _LIFECYCLE.setdefault(key, set())
    store = IndexStore(_WAREHOUSE, os.path.basename(key) + "_append")
    corpus = documents_as_corpus(spark, sf_dir)
    # idempotent across PROCESSES, not just this cache: a fresh driver run
    # over a pre-existing warehouse must not append a second increment
    # (manifest stage entries play the role build()'s fingerprints play)
    if "appended" not in done:
        if not store.stage_done("gate_appended", "v1"):
            if store.has_table("stats"):
                # warehouse from an interrupted/older run without the
                # marker: rebuild from scratch rather than guess its state
                store.drop()
            n = corpus.count()
            half = n // 2
            IndexBuilder(spark, store, ENTRY_CFG).build(
                corpus.filter(F.col("doc_id") < half), pre_ingested=True
            )
            inc = IncrementalIndexer(spark, store, ENTRY_CFG)
            inc.append_increment(
                corpus.filter(F.col("doc_id") >= half), pre_ingested=True
            )
            store.commit_stage("gate_appended", "v1")
        done.add("appended")
    if merged and "merged" not in done:
        if not store.stage_done("gate_merged", "v1"):
            IncrementalIndexer(spark, store, ENTRY_CFG).merge_segments()
            store.commit_stage("gate_merged", "v1")
        done.add("merged")
    return QueryEngine(spark, store, ENTRY_CFG)


def _q_index_append(spark, sf_dir):
    qe = _appended_engine(spark, sf_dir, merged=False)
    pdf = qe.search(["table", "query"], mode="or", k=110).to_pandas()
    return _rerank_e6(spark, pdf, 10)


def _q_index_merge(spark, sf_dir):
    qe = _appended_engine(spark, sf_dir, merged=True)
    pdf = qe.search(["scan", "value", "stream"], mode="or", k=115).to_pandas()
    return _rerank_e6(spark, pdf, 15)


def _q_ingest_transform(spark, sf_dir):
    """B10: build with an ingest transform (filter to lang='en') and return
    the resulting term stats; the oracle applies the same predicate in SQL."""
    key = os.path.realpath(sf_dir)
    store = IndexStore(_WAREHOUSE, os.path.basename(key) + "_xform")
    corpus = documents_as_corpus(spark, sf_dir)
    IndexBuilder(spark, store, ENTRY_CFG).build(
        corpus,
        pre_ingested=True,
        transform=lambda df: df.filter(F.col("lang") == "en"),
    )
    return store.read_table(spark, "terms").select("term", "df", "cf")


# --------------------------------------------------------------------------
# oracle SQL builders for the sketch operators (portable md5-60bit hashing —
# the same expressions the Spark side computes via F.conv(md5))


def _md5_60(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


_SHINGLES_CTE = """
toks AS (SELECT doc_id, {tok} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, u.s
  FROM toks,
       unnest(list_transform(range(greatest(len(t) - 2, 0)),
              i -> array_to_string(t[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))) AS u(s)
),
hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > {cap}),
kept AS (SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot))
"""


def _minhash_sql(num_hashes: int = 16, bands: int = 4, cap: int = 0) -> str:
    rows = num_hashes // bands
    hmins = ",\n    ".join(
        "min(" + _md5_60(f"concat('{j}|', s)") + f") AS h{j}"
        for j in range(num_hashes)
    )
    band_sel = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, "
        + _md5_60(
            "concat_ws(',', "
            + ", ".join(f"h{b * rows + r}" for r in range(rows))
            + ")"
        )
        + " AS bhash FROM sig"
        for b in range(bands)
    )
    shingles = _SHINGLES_CTE.format(tok=TOK_SQL, cap=cap)
    return f"""
WITH {shingles},
sig AS (
  SELECT doc_id,
    {hmins}
  FROM kept GROUP BY doc_id
),
banded AS (
  {band_sel}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
FROM banded a
JOIN banded b ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def _simhash_sql(max_hamming: int = 16) -> str:
    from excelastic_spark.functions.dedup import simhash_bands

    blocks = simhash_bands(max_hamming)
    band_rows = ", ".join(
        f"({i}, {shift}, {(1 << width) - 1})"
        for i, (shift, width) in enumerate(blocks)
    )
    votes = ",\n    ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS v{i}"
        for i in range(60)
    )
    fp_sum = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
        for i in range(60)
    )
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9_]+')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
h AS (SELECT doc_id, tf, {_md5_60('term')} AS hv FROM tf),
votes AS (
  SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, {fp_sum} AS fp FROM votes),
banded AS (
  SELECT doc_id, fp, b.band, (fp >> b.shift) & b.mask AS key
  FROM fp, (VALUES {band_rows}) AS b(band, shift, mask)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM banded a
JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


def _lsh_near_dup_sql(
    threshold: float = 0.4, n_planes: int = 8, n_tables: int = 6,
    seed: int = 42, dim: int = 64,
) -> str:
    from excelastic_spark.functions.similarity import lsh_planes

    rows = []
    for t, planes in enumerate(lsh_planes(n_planes, n_tables, seed, dim)):
        for p in range(n_planes):
            csv = ",".join(repr(float(v)) for v in planes[p])
            rows.append(f"({t}, {p}, '{csv}')")
    values = ",\n  ".join(rows)
    thr = int(threshold * 1e6)
    dot_ab = (
        "sum(CAST(a.embedding[CAST(i + 1 AS INT)] AS DOUBLE)"
        " * CAST(b.embedding[CAST(i + 1 AS INT)] AS DOUBLE))"
    )
    nrm = (
        "sqrt(sum(CAST({v}.embedding[CAST(i + 1 AS INT)] AS DOUBLE)"
        " * CAST({v}.embedding[CAST(i + 1 AS INT)] AS DOUBLE)))"
    )
    return f"""
WITH planes(tbl, p, s) AS (VALUES
  {values}
),
pv AS (
  SELECT tbl, p,
         list_transform(string_split(s, ','), x -> CAST(x AS DOUBLE)) AS vec
  FROM planes
),
dots AS (
  SELECT e.vec_id, pl.tbl, pl.p,
    sum(CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE)
        * pl.vec[CAST(i + 1 AS INT)]) AS dot
  FROM embeddings e CROSS JOIN pv pl, range({dim}) r(i)
  GROUP BY 1, 2, 3
),
keys AS (
  SELECT vec_id, tbl,
    sum(CASE WHEN dot > 0 THEN (1::BIGINT << ({n_planes - 1} - p))
        ELSE 0::BIGINT END) AS key
  FROM dots GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keys a JOIN keys b
    ON a.tbl = b.tbl AND a.key = b.key AND a.vec_id < b.vec_id
),
cos AS (
  SELECT c.id_a, c.id_b,
    {dot_ab} / ({nrm.format(v='a')} * {nrm.format(v='b')}) AS cs
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.id_a
  JOIN embeddings b ON b.vec_id = c.id_b, range({dim}) r(i)
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(floor(cs * 1e6 + 0.5) AS BIGINT) AS cosine_e6
FROM cos WHERE CAST(floor(cs * 1e6 + 0.5) AS BIGINT) >= {thr}
"""


# --------------------------------------------------------------------------
# contract functions


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents and answer
    a disjunctive BM25 top-10 (driver checks rows>0, stable schema)."""
    return _bm25(["batch", "scan", "join"], "or", 10)(
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- inverted index + BM25 (the engine core) ---
        "term_stats": _q_term_stats,
        "postings_df": _q_postings_df,
        "collection_stats": _q_collection_stats,
        "doc_stats": _q_doc_stats,
        "bm25_or_2": _bm25(["table", "query"], "or", 10),
        "bm25_or_3": _bm25(["scan", "value", "stream"], "or", 15),
        "bm25_or_absent": _bm25(["table", "zzznotaterm"], "or", 10),
        "bm25_and_2": _bm25(["table", "query"], "and", 10),
        "bm25_and_3": _bm25(["customer", "window", "sort"], "and", 10),
        "bm25_and_absent": _bm25(["table", "zzznotaterm"], "and", 10),
        "bm25_k1": _bm25(["hash", "join"], "or", 1),
        "bm25_or_distributed": _bm25(["table", "query"], "or", 10, distributed=True),
        "bm25_head_or": _bm25_head(["batch", "scan", "join"], 10),
        "bm25_head_and": _bm25_head(["customer", "window", "sort"], 10, "and"),
        # forced sorted scorers (the >64M-doc-span regime where the dense
        # path is ineligible): adaptive galloping/merge intersection and
        # exhaustive union, oracle-checked end-to-end (r5)
        "bm25_and_sorted": _bm25(["table", "query"], "and", 10,
                                 algo="exhaustive"),
        "bm25_or_sorted": _bm25(["scan", "value", "stream"], "or", 15,
                                algo="exhaustive"),
        # --- training-data pipeline operators ---
        "token_count": _q_token_count,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality,
        "doc_fingerprint": _q_fingerprint,
        "doc_rolling_fp": _q_rolling_fp,
        "dedup_exact": _q_dedup_exact,
        "ngram_jaccard": _q_ngram_jaccard,
        "shingle_stats": _q_shingle_stats,
        "minhash_lsh": _q_minhash,
        "simhash_near_dup": _q_simhash,
        "simhash_near_dup_d3": _q_simhash_d3,
        "embed_cosine_topk": _q_embed_topk,
        "ivf_topk": _q_ivf_topk,
        "embed_near_dup": _q_embed_near_dup,
        "lsh_near_dup": _q_lsh_near_dup,
        "multimodal_features": _q_multimodal,
        "media_real_decode": _q_media_real_decode,
        # --- ingest surface + index lifecycle ---
        "spreadsheet_typed": _q_spreadsheet_typed,
        "xls_typed": _q_xls_typed,
        "workbooks_dir_typed": _q_workbooks_dir_typed,
        "csv_typed": _q_csv_typed,
        "index_append": _q_index_append,
        "index_merge": _q_index_merge,
        "ingest_transform": _q_ingest_transform,
    }


def oracle_sql() -> dict[str, str]:
    tok_cte = f"""
WITH toks AS (SELECT doc_id, {TOK_SQL} AS t FROM documents)
"""
    dot64 = (
        "sum(CAST(a.embedding[CAST(i + 1 AS INT)] AS DOUBLE)"
        " * CAST(q.e[CAST(i + 1 AS INT)] AS DOUBLE))"
    )
    na64 = (
        "sqrt(sum(CAST(a.embedding[CAST(i + 1 AS INT)] AS DOUBLE)"
        " * CAST(a.embedding[CAST(i + 1 AS INT)] AS DOUBLE)))"
    )
    nq64 = (
        "sqrt(sum(CAST(q.e[CAST(i + 1 AS INT)] AS DOUBLE)"
        " * CAST(q.e[CAST(i + 1 AS INT)] AS DOUBLE)))"
    )
    return {
        "term_stats": """
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9_]+')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term
""",
        "postings_df": """
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9_]+')) AS t(term)
  WHERE t.term <> ''
)
SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
""",
        "collection_stats": f"""
{tok_cte}
SELECT (SELECT count(*) FROM documents) AS n_docs,
       CAST(floor(CAST((SELECT sum(len(t)) FROM toks) AS DOUBLE)
                  / (SELECT count(*) FROM documents) * 1e6 + 0.5) AS BIGINT) AS avgdl_e6,
       (SELECT count(DISTINCT u.term)
          FROM documents d,
               unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9_]+')) AS u(term)
         WHERE u.term <> '') AS n_terms
""",
        "doc_stats": f"""
{tok_cte}
SELECT doc_id, CAST(len(t) AS BIGINT) AS doclen, sha256(text) AS sha256
FROM toks JOIN documents USING (doc_id)
""",
        "bm25_or_2": _bm25_sql(["table", "query"], "or", 10),
        "bm25_or_3": _bm25_sql(["scan", "value", "stream"], "or", 15),
        "bm25_or_absent": _bm25_sql(["table", "zzznotaterm"], "or", 10),
        "bm25_and_2": _bm25_sql(["table", "query"], "and", 10),
        "bm25_and_3": _bm25_sql(["customer", "window", "sort"], "and", 10),
        "bm25_and_absent": _bm25_sql(["table", "zzznotaterm"], "and", 10),
        "bm25_k1": _bm25_sql(["hash", "join"], "or", 1),
        "bm25_or_distributed": _bm25_sql(["table", "query"], "or", 10),
        "bm25_head_or": _bm25_sql(["batch", "scan", "join"], "or", 10),
        "bm25_head_and": _bm25_sql(["customer", "window", "sort"], "and", 10),
        "bm25_and_sorted": _bm25_sql(["table", "query"], "and", 10),
        "bm25_or_sorted": _bm25_sql(["scan", "value", "stream"], "or", 15),
        "token_count": f"""
{tok_cte}
SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
""",
        "lang_id": f"""
{tok_cte},
hits AS (
  SELECT doc_id,
    len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','zu'))) AS de,
    len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS en,
    len(list_filter(t, x -> x IN ('le','la','les','et','est','un','une','pour','dans'))) AS fr
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(de, en, fr) = 0 THEN 'und'
       WHEN de >= en AND de >= fr THEN 'de'
       WHEN en >= fr THEN 'en'
       ELSE 'fr' END AS lang_pred
FROM hits
""",
        "quality_score": f"""
{tok_cte},
feats AS (
  SELECT d.doc_id,
    CAST(len(t) AS BIGINT) AS n_tokens,
    CAST(len(d.text) AS BIGINT) AS q_chars,
    CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) AS tok_chars,
    CAST(len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS BIGINT) AS sw_hits
  FROM toks JOIN documents d USING (doc_id)
)
SELECT doc_id, n_tokens,
  CAST(floor((0.4 * least(CAST(n_tokens AS DOUBLE), 256.0) / 256.0
       + 0.4 * (CASE WHEN n_tokens > 0 THEN sw_hits / CAST(n_tokens AS DOUBLE) ELSE 0.0 END)
       + 0.2 * (CASE WHEN q_chars > 0 THEN tok_chars / CAST(q_chars AS DOUBLE) ELSE 0.0 END))
       * 1e6 + 0.5) AS BIGINT) AS quality_e6
FROM feats
""",
        "doc_fingerprint": f"""
{tok_cte}
SELECT doc_id, md5(array_to_string(t, ' ')) AS fingerprint FROM toks
""",
        "doc_rolling_fp": f"""
{tok_cte},
norm AS (SELECT doc_id, array_to_string(t, ' ') AS s FROM toks)
SELECT doc_id,
  CASE WHEN len(s) = 0 THEN 0
       ELSE list_reduce(
         list_prepend(0::BIGINT,
           list_transform(string_split(s, ''), x -> ascii(x)::BIGINT)),
         (acc, c) -> xor((((acc & 72057594037927935) << 5) | (acc >> 56)), c))
  END AS rolling_fp
FROM norm
""",
        "dedup_exact": """
SELECT sha256(text) AS content_sha, count(*) AS n_dups, min(doc_id) AS keeper_id
FROM documents GROUP BY sha256(text)
""",
        "ngram_jaccard": f"""
WITH {_SHINGLES_CTE.format(tok=TOK_SQL, cap=SHINGLE_CAP)},
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
  CAST(floor(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS jaccard_e6
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(floor(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) * 1e6 + 0.5) AS BIGINT) >= 100000
""",
        "shingle_stats": f"""
WITH toks AS (SELECT doc_id, {TOK_SQL} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, u.s
  FROM toks,
       unnest(list_transform(range(greatest(len(t) - 2, 0)),
              i -> array_to_string(t[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))) AS u(s)
)
SELECT s AS shingle, count(*) AS sdf FROM sh GROUP BY 1 HAVING count(*) >= 3
""",
        "minhash_lsh": _minhash_sql(num_hashes=16, bands=4, cap=SHINGLE_CAP),
        "simhash_near_dup": _simhash_sql(max_hamming=16),
        "simhash_near_dup_d3": _simhash_sql(max_hamming=3),
        "lsh_near_dup": _lsh_near_dup_sql(
            threshold=0.4, n_planes=8, n_tables=6
        ),
        "multimodal_features": """
SELECT doc_id AS media_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS kind,
  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
  sha256(text) AS payload_sha
FROM documents
""",
        # decoded-structure oracle: synthesize_media(n=60, seed=7,
        # real=True) makes audio a fixed 200 ms, images 32x24, video
        # (6 + i % 5) frames at 10 fps / 16x12 — all re-derivable from
        # the media_id alone
        "media_real_decode": """
SELECT CAST(i AS BIGINT) AS media_id,
  CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS kind,
  CASE CAST(i % 3 AS INT) WHEN 0 THEN 32 WHEN 2 THEN 16 END::BIGINT AS width,
  CASE CAST(i % 3 AS INT) WHEN 0 THEN 24 WHEN 2 THEN 12 END::BIGINT AS height,
  CASE CAST(i % 3 AS INT) WHEN 1 THEN 200
       WHEN 2 THEN (6 + i % 5) * 100 END::BIGINT AS duration_ms,
  CASE CAST(i % 3 AS INT) WHEN 2 THEN 6 + i % 5 END::BIGINT AS n_frames
FROM range(60) t(i)
""",
        "spreadsheet_typed": """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       o_orderstatus,
       CAST(floor(CAST(o_totalprice AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS price_e6,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS o_orderdate
FROM orders WHERE o_orderkey < 1000
""",
        "xls_typed": """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       o_orderstatus,
       CAST(floor(CAST(o_totalprice AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS price_e6,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS o_orderdate
FROM orders WHERE o_orderkey < 1000
""",
        "workbooks_dir_typed": """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(floor(CAST(c_acctbal AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS acctbal_e6,
       CAST(c_nationkey AS BIGINT) AS c_nationkey
FROM customer WHERE c_custkey <= 600
""",
        "csv_typed": """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
""",
        "index_append": _bm25_sql(["table", "query"], "or", 10),
        "index_merge": _bm25_sql(["scan", "value", "stream"], "or", 15),
        "ingest_transform": """
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9_]+')) AS t(term)
  WHERE t.term <> '' AND d.lang = 'en'
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term
""",
        "embed_cosine_topk": f"""
WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT a.vec_id,
         {dot64} / ({na64} * {nq64}) AS c
  FROM embeddings a CROSS JOIN q, range(64) r(i)
  GROUP BY a.vec_id
)
SELECT vec_id, CAST(floor(c * 1e6 + 0.5) AS BIGINT) AS cosine_e6
FROM cos ORDER BY cosine_e6 DESC, vec_id ASC LIMIT 10
""",
        "ivf_topk": f"""
WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
asim AS (
  SELECT a.vec_id, c.cid,
    sum(CAST(a.embedding[CAST(i + 1 AS INT)] AS DOUBLE) * CAST(c.ce[CAST(i + 1 AS INT)] AS DOUBLE))
      / (sqrt(sum(CAST(a.embedding[CAST(i + 1 AS INT)] AS DOUBLE) * CAST(a.embedding[CAST(i + 1 AS INT)] AS DOUBLE)))
         * sqrt(sum(CAST(c.ce[CAST(i + 1 AS INT)] AS DOUBLE) * CAST(c.ce[CAST(i + 1 AS INT)] AS DOUBLE)))) AS sim
  FROM embeddings a CROSS JOIN c, range(64) r(i)
  GROUP BY a.vec_id, c.cid
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
    FROM asim
  ) WHERE rn = 1
),
probe AS (
  SELECT cid FROM (
    SELECT c.cid,
      sum(CAST(c.ce[CAST(i + 1 AS INT)] AS DOUBLE) * CAST(q.e[CAST(i + 1 AS INT)] AS DOUBLE))
        / (sqrt(sum(CAST(c.ce[CAST(i + 1 AS INT)] AS DOUBLE) * CAST(c.ce[CAST(i + 1 AS INT)] AS DOUBLE)))
           * sqrt(sum(CAST(q.e[CAST(i + 1 AS INT)] AS DOUBLE) * CAST(q.e[CAST(i + 1 AS INT)] AS DOUBLE)))) AS sim
    FROM c CROSS JOIN q, range(64) r(i) GROUP BY c.cid
    ORDER BY sim DESC, cid ASC LIMIT 3
  )
),
cand AS (SELECT vec_id FROM assigned WHERE cid IN (SELECT cid FROM probe)),
cos AS (
  SELECT a.vec_id, {dot64} / ({na64} * {nq64}) AS c
  FROM embeddings a CROSS JOIN q, range(64) r(i)
  WHERE a.vec_id IN (SELECT vec_id FROM cand)
  GROUP BY a.vec_id
)
SELECT vec_id, CAST(floor(c * 1e6 + 0.5) AS BIGINT) AS cosine_e6
FROM cos ORDER BY cosine_e6 DESC, vec_id ASC LIMIT 10
""",
        # candidates ∩ threshold, banding identical to the Spark plan —
        # exact-by-construction against the composed LSH+verify operator
        "embed_near_dup": _lsh_near_dup_sql(
            threshold=0.4, n_planes=6, n_tables=12
        ),
    }
