"""Codec round-trip tests (property-based) — SURVEY.md §5 test plan."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from excelastic_spark.codec import (
    block_metadata,
    bm25_idf,
    bm25_impact,
    decode_delta_varint,
    decode_varint,
    encode_delta_varint,
    encode_varint,
)


def test_varint_empty():
    assert encode_varint(np.empty(0, np.uint64)) == b""
    assert decode_varint(b"").size == 0


def test_varint_known_values():
    # LEB128 goldens: 0->00, 127->7f, 128->80 01, 300->ac 02
    assert encode_varint(np.array([0], np.uint64)) == b"\x00"
    assert encode_varint(np.array([127], np.uint64)) == b"\x7f"
    assert encode_varint(np.array([128], np.uint64)) == b"\x80\x01"
    assert encode_varint(np.array([300], np.uint64)) == b"\xac\x02"
    assert list(decode_varint(b"\xac\x02\x7f\x00")) == [300, 127, 0]


@given(
    st.one_of(
        st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500),
        # around the decoder's <= 3-byte tier (values < 2^21) and its edge
        st.lists(st.integers(min_value=0, max_value=2**21 + 1), max_size=500),
    )
)
@settings(max_examples=300, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = decode_varint(encode_varint(arr))
    assert out.dtype == np.uint64
    assert list(out) == vals


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**62), min_size=1, max_size=400
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(vals):
    ids = np.unique(np.array(vals, dtype=np.uint64))
    out = decode_delta_varint(encode_delta_varint(ids))
    assert np.array_equal(out, ids)


def test_truncated_stream_raises():
    with pytest.raises(ValueError):
        decode_varint(b"\x80")  # continuation bit set, no terminator


def test_block_metadata():
    ids = np.arange(0, 10, dtype=np.uint64) * 3
    imp = np.array([1, 5, 2, 9, 1, 1, 7, 2, 3, 4], dtype=np.float64)
    last, mx = block_metadata(ids, imp, block_size=4)
    assert list(last) == [9, 21, 27]
    assert list(mx) == [9.0, 7.0, 4.0]


def test_bm25_formula_goldens():
    # idf for N=100, df=10: ln(1 + 90.5/10.5)
    assert bm25_idf(100, 10) == pytest.approx(np.log1p(90.5 / 10.5), rel=0, abs=0)
    # impact for tf=2, dl=avgdl: 2*2.2/(2 + 1.2) = 4.4/3.2
    got = bm25_impact(
        np.array([2.0]), np.array([50.0]), avgdl=50.0, k1=1.2, b=0.75
    )
    assert got[0] == pytest.approx(4.4 / 3.2, rel=0, abs=0)
