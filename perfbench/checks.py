"""Answer checks that do not trust the engine's read path.

* A small fixture index is compared bit-for-bit with the pandas
  ``Bm25Oracle`` over the fixture's documents.
* On the measured index, a seeded sample of queries is re-scored from the
  ``triples`` table with the oracle's own arithmetic. That table is written
  before the postings are encoded, so the re-score is independent of the
  postings codec, their decode and the engine's scorers.
* Table invariants: ``sha256(content)`` on sampled rows, and postings
  total equal to the triples count.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads

from excelastic_spark.catalog import IndexStore
from excelastic_spark.oracle.bm25 import Bm25Oracle

SHA_SAMPLE = 64  # ingested rows whose sha256(content) is recomputed


def table_paths(store: IndexStore, table: str) -> list[str]:
    loc = store.table_path(table)
    return loc if isinstance(loc, list) else [loc]


def dataset(store: IndexStore, table: str):
    parts = [
        pads.dataset(p, format="parquet", partitioning="hive")
        for p in table_paths(store, table)
    ]
    return parts[0] if len(parts) == 1 else pads.dataset(parts)


def table_bytes(store: IndexStore, table: str) -> int:
    total = 0
    for root in table_paths(store, table):
        for d, _, files in os.walk(root):
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in files if f.endswith(".parquet")
            )
    return total


def stats_row(store: IndexStore) -> dict:
    return dataset(store, "stats").to_table().to_pylist()[0]


def same_answer(res, expected: pd.DataFrame) -> bool:
    """Doc ids and float64 scores identical, in (score DESC, doc_id ASC)."""
    return np.array_equal(
        np.asarray(res.doc_ids, dtype=np.int64),
        expected["doc_id"].to_numpy(dtype=np.int64),
    ) and np.array_equal(
        np.asarray(res.scores, dtype=np.float64),
        expected["score"].to_numpy(dtype=np.float64),
    )


class TriplesOracle(Bm25Oracle):
    """The oracle's scoring over (doc_id, term, tf, doclen) rows read from
    the index's triples table instead of re-tokenized content, so it runs
    at sizes where tokenizing every document in pandas would not fit."""

    def __init__(self, store: IndexStore, terms: set[str]):
        cfg = store.load_config() or {}
        tri = dataset(store, "triples")
        rows = tri.to_table(
            columns=["doc_id", "term", "tf", "doclen"],
            filter=pc.field("term").isin(sorted(terms)),
        ).to_pandas()
        self.tf = rows[["doc_id", "term", "tf"]]
        self.doclen = rows.groupby("doc_id")["doclen"].first()
        self.df = rows.groupby("term").size()
        self.n_docs = dataset(store, "docs").count_rows()
        total_tf = pc.sum(tri.to_table(columns=["tf"])["tf"]).as_py() or 0
        self.avgdl = float(total_tf) / self.n_docs if self.n_docs else 0.0
        self.k1 = float(cfg.get("k1", 1.2))
        self.b = float(cfg.get("b", 0.75))


def fixture_oracle(store: IndexStore) -> Bm25Oracle:
    cfg = store.load_config() or {}
    docs = dataset(store, "ingested").to_table(
        columns=["doc_id", "content"]
    ).to_pandas()
    return Bm25Oracle(docs, k1=cfg.get("k1", 1.2), b=cfg.get("b", 0.75))


def check_queries(searcher, oracle: Bm25Oracle, queries) -> tuple[int, int]:
    """(attempted, mismatched) over ``queries`` answered by ``searcher``."""
    bad = 0
    for q in queries:
        res = searcher.search(list(q.terms), mode=q.mode, k=q.k)
        bad += not same_answer(res, oracle.search(list(q.terms), q.mode, q.k))
    return len(queries), bad


def check_tables(store: IndexStore, seed: int) -> list[str]:
    """Invariant violations on the committed tables (empty when sound)."""
    problems = []
    ing = dataset(store, "ingested")
    n = ing.count_rows()
    idx = np.random.default_rng(seed).choice(n, size=min(SHA_SAMPLE, n),
                                             replace=False)
    rows = ing.take(pa.array(np.sort(idx)),
                    columns=["content", "sha256"]).to_pylist()
    for r in rows:
        if hashlib.sha256(r["content"].encode()).hexdigest() != r["sha256"]:
            problems.append("sha256(content) mismatch")
            break
    postings = pc.sum(dataset(store, "postings").to_table(columns=["n"])["n"])
    triples = dataset(store, "triples").count_rows()
    if postings.as_py() != triples:
        problems.append(f"postings total {postings} != triples {triples}")
    n_docs = stats_row(store)["n_docs"]
    if n_docs != dataset(store, "docs").count_rows():
        problems.append(f"stats n_docs {n_docs} != docs rows")
    return problems
