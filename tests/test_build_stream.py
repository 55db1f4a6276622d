"""Unit tests for the per-batch postings encoder (build._encode_groups):
the mapInArrow kernel receives whole (term, salt) groups as list rows in
any order and must give every group the bytes the per-group codec gives,
however Spark cuts the groups into Arrow batches."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from excelastic_spark import codec
from excelastic_spark.build import _encode_groups, encode_postings, term_stats
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import ingest_corpus, synthesize_corpus
from excelastic_spark.tokenizer import tokenize_triples

POSTING = pa.struct(
    [("doc_id", pa.int64()), ("tf", pa.int64()), ("doclen", pa.int64())]
)


def _batch(groups):
    """groups: list of (term, salt, [(doc_id, tf, doclen), ...]), postings
    in any order — the shape of the groupBy + collect_list rows."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array([g[0] for g in groups], type=pa.string()),
            pa.array([g[1] for g in groups], type=pa.int32()),
            pa.array(
                [
                    [{"doc_id": d, "tf": t, "doclen": l} for d, t, l in g[2]]
                    for g in groups
                ],
                type=pa.list_(POSTING),
            ),
        ],
        ["term", "salt", "postings"],
    )


def _run(batches):
    got = list(_encode_groups(iter(batches)))
    out = {}
    for b in got:
        tbl = b.to_pydict()
        for term, salt, n, d, t, l in zip(
            tbl["term"], tbl["salt"], tbl["n"], tbl["doc_ids"], tbl["tfs"],
            tbl["doclens"],
        ):
            key = (term, salt)
            assert key not in out, f"duplicate output row for {key}"
            out[key] = (n, bytes(d), bytes(t), bytes(l))
    return out


def _expected(groups):
    """Per-group codec encode, the reference the batch kernel must match."""
    out = {}
    for term, salt, postings in groups:
        ids, tfs, dls = (
            np.array(c, dtype=np.uint64) for c in zip(*sorted(postings))
        )
        out[(term, salt)] = (
            len(postings),
            codec.encode_delta_varint(ids),
            codec.encode_varint(tfs),
            codec.encode_varint(dls),
        )
    return out


GROUPS = [
    ("alpha", 0, [(9, 2, 40), (3, 1, 30), (11, 1, 25)]),
    ("alpha", 1, [(5, 7, 90)]),
    ("beta", 0, [(i, (i % 3) + 1, 20 + i) for i in range(13, 0, -1)]),
    ("gamma", 0, [(1000000, 4, 55), (2, 1, 10)]),
    ("delta", 2, [(7, 1, 1)]),
    ("eps", 0, [(2**40, 2**21, 2**33), (0, 1, 2**21 + 5)]),
]


@pytest.mark.parametrize(
    "sizes",
    [
        [6],                 # one batch
        [1] * 6,             # one group per batch (maxRecordsPerBatch=1)
        [2, 2, 2],
        [3, 1, 2],
        [1, 5],
        [5, 1],
    ],
)
def test_batch_chopping_invariance(sizes):
    """Spark cuts the grouped rows into batches between groups; the
    kernel is stateless, so any cut gives the same rows."""
    batches, lo = [], 0
    for s in sizes:
        batches.append(_batch(GROUPS[lo:lo + s]))
        lo += s
    assert _run(batches) == _run([_batch(GROUPS)]) == _expected(GROUPS)


def test_all_groups_present_and_counts():
    out = _run([_batch(GROUPS)])
    assert set(out) == {(g[0], g[1]) for g in GROUPS}
    for term, salt, postings in GROUPS:
        assert out[(term, salt)][0] == len(postings)


def test_empty_batches_skipped():
    full = _batch(GROUPS)
    empty = full.slice(0, 0)
    stream = [empty, full.slice(0, 2), empty, full.slice(2), empty]
    assert _run(stream) == _expected(GROUPS)


def test_rows_carry_no_block_metadata():
    """Block bounds are derived at query time from query-time stats, so
    the encoder writes only the posting streams (layout v3)."""
    got = list(_encode_groups(iter([_batch(GROUPS)])))
    assert got[0].schema.names == [
        "term", "salt", "n", "doc_ids", "tfs", "doclens",
    ]


_group = st.tuples(
    st.sampled_from(["a", "b", "c", "zz"]),
    st.integers(0, 3),
    st.dictionaries(  # doc_id -> (tf, doclen): doc_ids unique per group
        st.integers(0, 2**40),
        st.tuples(st.integers(1, 2**40), st.integers(1, 2**40)),
        min_size=1,
        max_size=40,
    ),
)


@settings(max_examples=80, deadline=None)
@given(
    st.lists(_group, min_size=1, max_size=12, unique_by=lambda g: g[:2]),
    st.data(),
)
def test_kernel_matches_per_group_codec(raw, data):
    """Unsorted groups, ids up to 2^40, tf/doclen past 2^21 (4-byte
    varints and longer), batches sliced out of a larger batch (list
    offsets not starting at 0) and empty batches between them."""
    groups = [
        (term, salt, [(d, t, l) for d, (t, l) in data.draw(
            st.permutations(sorted(p.items()))
        )])
        for term, salt, p in raw
    ]
    pad = [("pad", 9, [(1, 1, 1), (2, 2, 2)])]
    full = _batch(pad + groups + pad)
    cut = data.draw(st.integers(1, len(groups) + 1))
    stream = [
        full.slice(1, cut - 1),
        full.slice(0, 0),
        full.slice(cut, len(groups) + 1 - cut),
    ]
    assert stream[0].column("postings").offsets[0].as_py() == 2
    assert _run(stream) == _expected(groups)


def test_encode_postings_independent_of_arrow_batch_size(spark):
    """The same postings rows whether Spark hands the kernel one group
    per batch or the default batch size, salted hot terms included."""
    cfg = EngineConfig().tiny()
    triples = tokenize_triples(
        ingest_corpus(synthesize_corpus(spark, 120, partitions=4))
    ).cache()
    terms = term_stats(triples, cfg).cache()
    assert terms.filter("n_salts > 1").count() > 0

    def rows():
        return sorted(
            tuple(r) for r in encode_postings(triples, terms, cfg)
            .select("term", "salt", "n", "doc_ids", "tfs", "doclens")
            .collect()
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        one = rows()
    finally:
        spark.conf.set(key, default)
    got = rows()
    assert one == got
    assert any(salt > 0 for _, salt, *_ in got)
    triples.unpersist()
    terms.unpersist()
