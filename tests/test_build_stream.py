"""Unit tests for the streaming sorted-input postings encoder
(build._encode_sorted_stream): the mapInArrow kernel must produce the
same rows regardless of how the sorted partition stream is chopped into
Arrow batches — groups straddling batch edges are the hard case."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from excelastic_spark.build import _encode_sorted_stream
from excelastic_spark.config import EngineConfig

# encode_coalesce_rows=1 passes each upstream batch straight through, so
# the chopping parametrization really exercises the carry/straddle paths
CFG = EngineConfig(block_size=4, encode_coalesce_rows=1)


def _sorted_rows(groups):
    """groups: list of (term, salt, [(doc_id, tf, doclen), ...]) in
    (term, salt) sorted order with doc_ids ascending."""
    terms, salts, ids, tfs, dls = [], [], [], [], []
    for term, salt, postings in groups:
        for d, t, l in postings:
            terms.append(term)
            salts.append(salt)
            ids.append(d)
            tfs.append(t)
            dls.append(l)
    return terms, salts, ids, tfs, dls


def _batches(rows, sizes):
    terms, salts, ids, tfs, dls = rows
    assert sum(sizes) == len(terms)
    out, lo = [], 0
    for s in sizes:
        out.append(
            pa.RecordBatch.from_arrays(
                [
                    pa.array(terms[lo:lo + s]),
                    pa.array(salts[lo:lo + s], type=pa.int32()),
                    pa.array(ids[lo:lo + s], type=pa.int64()),
                    pa.array(tfs[lo:lo + s], type=pa.int64()),
                    pa.array(dls[lo:lo + s], type=pa.int64()),
                ],
                ["term", "salt", "doc_id", "tf", "doclen"],
            )
        )
        lo += s
    return out


def _run(rows, sizes, cfg=CFG):
    fn = _encode_sorted_stream(cfg)
    got = list(fn(iter(_batches(rows, sizes))))
    tbl = pa.Table.from_batches(got).to_pydict()
    out = {}
    for term, salt, n, d, t, l in zip(
        tbl["term"], tbl["salt"], tbl["n"], tbl["doc_ids"], tbl["tfs"],
        tbl["doclens"],
    ):
        key = (term, salt)
        assert key not in out, f"duplicate output row for {key}"
        out[key] = (n, bytes(d), bytes(t), bytes(l))
    return out


GROUPS = [
    ("alpha", 0, [(3, 1, 30), (9, 2, 40), (11, 1, 25)]),
    ("alpha", 1, [(5, 7, 90)]),
    ("beta", 0, [(i, (i % 3) + 1, 20 + i) for i in range(1, 14)]),
    ("gamma", 0, [(2, 1, 10), (1000000, 4, 55)]),
]
ROWS = _sorted_rows(GROUPS)
N = len(ROWS[0])


@pytest.mark.parametrize(
    "sizes",
    [
        [N],                 # one batch
        [1] * N,             # one row per batch (every group straddles)
        [2, 2, 2, 2, 2, 2, 2, 2, 2, 1],
        [3, 1, 13, 2],       # boundaries on group edges
        [4, 13, 2],          # batch starts exactly at a group start
        [5, 5, 5, 4],        # monster group (beta) spans 3 batches
    ],
)
def test_batch_chopping_invariance(sizes):
    assert _run(ROWS, sizes) == _run(ROWS, [N])


def test_all_groups_present_and_counts():
    out = _run(ROWS, [N])
    assert set(out) == {(g[0], g[1]) for g in GROUPS}
    for term, salt, postings in GROUPS:
        assert out[(term, salt)][0] == len(postings)


def test_empty_batches_skipped():
    sizes = [3, 0, 1, 0, 13, 2]
    rows_with_holes = ROWS
    # _batches can't make empty slices mid-stream with sum check; build
    # manually: interleave genuinely empty record batches
    fn = _encode_sorted_stream(CFG)
    batches = _batches(rows_with_holes, [3, 1, 13, 2])
    empty = batches[0].slice(0, 0)
    stream = [batches[0], empty, batches[1], empty, batches[2], batches[3]]
    got = pa.Table.from_batches(list(fn(iter(stream)))).to_pydict()
    assert sorted(zip(got["term"], got["salt"])) == sorted(
        (g[0], g[1]) for g in GROUPS
    )


@pytest.mark.parametrize("coalesce", [1, 2, 6, 10_000_000])
def test_coalesce_invariance(coalesce):
    """The pre-encode batch coalescer (build._coalesce_batches) must not
    change output for any target: same rows whether batches pass through
    one-by-one, merge partially, or merge into a single span."""
    cfg = EngineConfig(block_size=4, encode_coalesce_rows=coalesce)
    for sizes in ([1] * N, [3, 1, 13, 2], [5, 5, 5, 4]):
        assert _run(ROWS, sizes, cfg) == _run(ROWS, [N])


def test_rows_carry_no_block_metadata():
    """Block bounds are derived at query time from query-time stats, so
    the encoder writes only the posting streams (layout v3)."""
    got = list(_encode_sorted_stream(CFG)(iter(_batches(ROWS, [N]))))
    assert got[0].schema.names == [
        "term", "salt", "n", "doc_ids", "tfs", "doclens",
    ]
