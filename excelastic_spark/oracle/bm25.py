"""Pure-pandas BM25 oracle — the stand-in for "the reference engine".

The reference's search results come from Elasticsearch with BM25 defaults
k1=1.2, b=0.75 (ES >= 5, which the reference targets — README.md:21,25).
This oracle implements exactly that public scoring, with the engine's
tokenizer and the engine's fold order (ascending lexicographic term order,
float64), so the Spark engine must be rank-identical in BOTH docIDs and
scores — bit-for-bit — to pass (SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from excelastic_spark.codec import bm25_idf, bm25_impact
from excelastic_spark.tokenizer import TOKEN_PATTERN


class Bm25Oracle:
    def __init__(
        self, docs: pd.DataFrame, k1: float = 1.2, b: float = 0.75,
        content_col: str = "content",
    ):
        """``docs``: pandas frame with doc_id + content columns."""
        # the engine's lowercase (tokenizer.py): Arrow's one-to-one
        # utf8_lower, not str.lower, which splits U+0130 into two chars
        low = pc.utf8_lower(pa.array(docs[content_col], pa.string()))
        toks = pd.Series(
            low.to_pylist(), index=docs["doc_id"]
        ).str.findall(TOKEN_PATTERN)
        self.doclen = toks.str.len().astype("int64")
        ex = toks.explode().dropna()
        tf = (
            ex.groupby([ex.index, ex.values])
            .size()
            .rename("tf")
            .rename_axis(["doc_id", "term"])
            .reset_index()
        )
        self.tf = tf
        self.df = tf.groupby("term").size()
        self.n_docs = int(len(docs))
        self.avgdl = float(self.doclen.sum()) / self.n_docs if self.n_docs else 0.0
        self.k1, self.b = k1, b

    def postings(self, term: str) -> pd.DataFrame:
        sub = self.tf[self.tf["term"] == term].sort_values("doc_id")
        return sub

    def term_weights(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, weights) for one term, doc_id ascending."""
        sub = self.postings(term)
        if sub.empty:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        ids = sub["doc_id"].to_numpy(dtype=np.int64)
        tfs = sub["tf"].to_numpy(dtype=np.float64)
        dls = self.doclen.loc[ids].to_numpy(dtype=np.float64)
        idf = float(bm25_idf(self.n_docs, int(sub.shape[0])))
        w = idf * bm25_impact(tfs, dls, self.avgdl, self.k1, self.b)
        return ids, w

    def search(self, terms: list[str], mode: str = "or", k: int = 10) -> pd.DataFrame:
        """Top-k with the engine's determinism contract: float64, fold in
        ascending lex term order, ordered (score DESC, doc_id ASC)."""
        uniq = sorted(set(terms))
        per_term = [(t, *self.term_weights(t)) for t in uniq]
        if mode == "and":
            if any(ids.size == 0 for _, ids, _ in per_term) or not per_term:
                return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                     "score": pd.Series([], dtype="float64")})
            common = per_term[0][1]
            for _, ids, _ in per_term[1:]:
                common = common[np.isin(common, ids, assume_unique=True)]
            if common.size == 0:
                return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                     "score": pd.Series([], dtype="float64")})
            scores = np.zeros(common.size, dtype=np.float64)
            for _, ids, w in per_term:  # already lex order
                scores += w[np.searchsorted(ids, common)]
            all_ids = common
        else:
            nonempty = [(ids, w) for _, ids, w in per_term if ids.size]
            if not nonempty:
                return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                     "score": pd.Series([], dtype="float64")})
            all_ids = np.unique(np.concatenate([ids for ids, _ in nonempty]))
            scores = np.zeros(all_ids.size, dtype=np.float64)
            for ids, w in nonempty:  # lex order fold
                scores[np.searchsorted(all_ids, ids)] += w
        order = np.lexsort((all_ids, -scores))[:k]
        return pd.DataFrame(
            {"doc_id": all_ids[order].astype("int64"), "score": scores[order]}
        )
