"""WAND unit tests: exactness vs exhaustive scoring + pruning evidence.

Property-based: random posting lists, WAND top-k must equal the exhaustive
scorer bit-for-bit (same fold order), at doc_ids from 0 up to near 2**63.
FIXTURES.md §4: block pruning must be demonstrably active (counters), not a
no-op.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from excelastic_spark.codec import block_metadata
from excelastic_spark.wand import TermPostings, exhaustive_or, wand_topk


def make_postings(term: str, ids, weights, block_size=4) -> TermPostings:
    ids = np.asarray(ids, dtype=np.uint64)
    weights = np.asarray(weights, dtype=np.float64)
    last, mx = block_metadata(ids, weights, block_size)
    return TermPostings(term, ids, weights, last, mx)


@st.composite
def posting_lists(draw):
    # doc_ids at and above 2**53 (a pre_ingested corpus keeps its own ids),
    # where a float64 round trip would misplace WAND's cursors
    base = draw(st.sampled_from([0, 2**53, 2**63 - 256]))
    n_terms = draw(st.integers(1, 5))
    out = []
    for t in range(n_terms):
        n = draw(st.integers(0, 60))
        ids = sorted(
            base + i
            for i in draw(
                st.sets(st.integers(0, 200), min_size=min(n, 1), max_size=max(n, 1))
            )
        )
        w = [
            draw(st.floats(0.01, 10.0, allow_nan=False, allow_infinity=False))
            for _ in ids
        ]
        out.append(make_postings(f"t{t}", ids, w))
    return out


@given(posting_lists(), st.integers(1, 20))
@settings(max_examples=150, deadline=None)
def test_wand_equals_exhaustive(lists, k):
    ids_w, sc_w, _ = wand_topk(lists, k)
    ids_e, sc_e = exhaustive_or(lists, k)
    assert np.array_equal(ids_w, ids_e)
    assert np.array_equal(sc_w, sc_e)  # bit-identical floats


def test_wand_prunes_docs():
    # one dominant rare term + one long low-weight list: after the heap
    # fills from the dominant docs, the weak list is skipped via pivots
    weak_ids = np.arange(0, 4000, 2, dtype=np.uint64)
    weak_w = np.full(weak_ids.size, 0.01)
    strong_ids = np.array([100, 900, 2500], dtype=np.uint64)
    strong_w = np.array([50.0, 60.0, 55.0])
    lists = [
        make_postings("weak", weak_ids, weak_w, block_size=128),
        make_postings("strong", strong_ids, strong_w, block_size=128),
    ]
    ids, scores, stats = wand_topk(lists, 3)
    assert set(int(i) for i in ids) == {100, 900, 2500}
    assert stats.docs_skipped > weak_ids.size // 2
    assert stats.docs_evaluated < weak_ids.size // 2


def test_wand_prunes_blocks():
    # block-max refinement: a list whose GLOBAL max weight is high (so the
    # classic WAND pivot always selects it) but whose weight lives in one
    # late block — every earlier block must be skipped by its block bound
    spiky_ids = np.arange(0, 1000, dtype=np.uint64)
    spiky_w = np.full(1000, 0.01)
    spiky_w[-40:] = 100.0
    anchor_ids = np.array([5, 700], dtype=np.uint64)
    anchor_w = np.array([50.0, 50.0])
    lists = [
        make_postings("spiky", spiky_ids, spiky_w, block_size=40),
        make_postings("anchor", anchor_ids, anchor_w, block_size=40),
    ]
    ids, scores, stats = wand_topk(lists, 2)
    exp_ids, exp_sc = exhaustive_or(lists, 2)
    assert np.array_equal(ids, exp_ids)
    assert np.array_equal(scores, exp_sc)
    assert stats.blocks_skipped > 5
    assert stats.docs_evaluated < 200


def test_tie_break_doc_id_asc():
    # equal scores -> smaller doc_id ranks first and survives the k cut
    lists = [make_postings("t", [1, 2, 3, 4], [5.0, 5.0, 5.0, 5.0])]
    ids, scores, _ = wand_topk(lists, 2)
    assert list(ids) == [1, 2]
    assert list(scores) == [5.0, 5.0]
