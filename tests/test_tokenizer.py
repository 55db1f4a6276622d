"""Tokenizer goldens + parity with the analyzer contract (SURVEY.md §5)."""

from __future__ import annotations

from collections import Counter

import duckdb
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from __spark_entry__ import TOK_SQL
from excelastic_spark.functions.text import token_count, tokens_col
from excelastic_spark.oracle.bm25 import Bm25Oracle
from excelastic_spark.tokenizer import tokenize_arrow_batch


def _tokenize(texts: list[str]) -> pd.DataFrame:
    """(doc_id, term, tf, doclen) from the engine's kernel, doc_id = the
    text's position."""
    return tokenize_arrow_batch(
        pa.array(range(len(texts)), pa.int64()), pa.array(texts, pa.string())
    ).to_pandas()


def _toks(text: str) -> pd.DataFrame:
    return _tokenize([text])


def test_code_like_tokens():
    out = _toks("import numpy as np\nreturn np.sum(x_1, X_1)")
    d = dict(zip(out["term"], out["tf"]))
    assert d == {"import": 1, "numpy": 1, "as": 1, "np": 2, "return": 1,
                 "sum": 1, "x_1": 2}
    assert (out["doclen"] == 9).all()


def test_lowercase_and_separators():
    out = _toks("Foo.BAR(baz) -> foo;bar")
    d = dict(zip(out["term"], out["tf"]))
    assert d == {"foo": 2, "bar": 2, "baz": 1}


def test_empty_and_symbol_only_docs():
    out = _tokenize(["", "!!! ---", "ok"])
    assert set(out["doc_id"]) == {2}
    assert list(out["term"]) == ["ok"]


def test_digits_and_underscores_kept():
    out = _toks("v2 __init__ 123 a_b_c")
    assert set(out["term"]) == {"v2", "__init__", "123", "a_b_c"}


# case mappings and marks where one-to-one lowercase (Arrow, DuckDB) and
# Python's/Java's full lowercase can disagree: dotted capital I, sharp s,
# the Kelvin sign, combining acute and diaeresis
TRICKY = [
    "İstanbul straße",
    "İİ ı STRASSE",
    "Kelvin K 5K",
    "café naïve été",
    "!!! éè",
    "",
]


def test_tokenizers_agree_on_non_ascii(spark):
    """The engine kernel, the pandas oracle, the DuckDB oracle SQL and the
    Catalyst tokens_col/token_count give every doc the same tokens and
    doclen."""
    engine = _tokenize(TRICKY)
    want_tf = {
        (int(r.doc_id), r.term): int(r.tf) for r in engine.itertuples()
    }
    doclens = [0] * len(TRICKY)
    for r in engine.itertuples():
        doclens[r.doc_id] = int(r.doclen)
    # istanbul, stra, e
    assert want_tf[(0, "istanbul")] == 1 and doclens[0] == 3

    docs = pd.DataFrame({"doc_id": range(len(TRICKY)), "content": TRICKY})
    oracle = Bm25Oracle(docs)
    assert {
        (int(r.doc_id), r.term): int(r.tf) for r in oracle.tf.itertuples()
    } == want_tf
    assert oracle.doclen.tolist() == doclens

    def bags(lists) -> list[Counter]:
        return [Counter(t) for t in lists]

    want = [Counter() for _ in TRICKY]
    for (doc, term), tf in want_tf.items():
        want[doc][term] = tf

    con = duckdb.connect()
    con.register("documents", docs.rename(columns={"content": "text"}))
    duck = con.sql(
        f"SELECT {TOK_SQL} AS t FROM documents ORDER BY doc_id"
    ).fetchall()
    assert bags(r[0] for r in duck) == want

    text = F.col("content")
    rows = (
        spark.createDataFrame(docs)
        .select("doc_id", tokens_col(text).alias("t"),
                token_count(text).alias("n"))
        .orderBy("doc_id")
        .collect()
    )
    assert bags(r["t"] for r in rows) == want
    assert [r["n"] for r in rows] == doclens
