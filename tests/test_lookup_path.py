"""The head node's postings read path: SnapshotState.fetch + decode_postings.

Contract:
* ``decode_postings`` (three varint passes per query, read straight from
  the Arrow binary buffers) equals a per-row ``decode_delta_varint`` /
  ``decode_varint`` over the same salted rows — for single-row terms,
  empty tables, multi-chunk columns and sliced arrays whose buffers start
  at a non-zero offset; ``codec.decode_row_batches`` (the executor twin)
  equals it too, whatever its run budget;
* a bucket file split into many small row groups serves bit-identical
  answers on every scorer path;
* a pinned state keeps only parsed footers, never an open file: an index
  of many appended segments serves under a descriptor limit smaller than
  its file count, and no file of it is open between queries.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from excelastic_spark import codec
from excelastic_spark.build import IndexBuilder
from excelastic_spark.catalog import IndexStore
from excelastic_spark.config import EngineConfig
from excelastic_spark.corpus import synthesize_corpus
from excelastic_spark.query import QueryEngine, decode_postings

# ----------------------------------------------------------- the decoder


@st.composite
def salted_rows(draw):
    """Posting rows of 0-4 terms, each split into 1-4 salted rows with
    disjoint ascending doc ids (multi-byte varints included), in a
    shuffled row order."""
    rows = []
    for t in range(draw(st.integers(0, 4))):
        n_salts = draw(st.integers(1, 4))
        ids = sorted(draw(st.sets(
            st.integers(0, 2**40), min_size=n_salts, max_size=40
        )))
        owner = draw(st.lists(
            st.integers(0, n_salts - 1), min_size=len(ids),
            max_size=len(ids),
        ))
        owner[:n_salts] = range(n_salts)  # no salted row is empty
        for salt in range(n_salts):
            mine = np.array(
                [i for i, o in zip(ids, owner) if o == salt], np.uint64
            )
            tfs = np.array(draw(st.lists(
                st.integers(1, 2**20), min_size=mine.size,
                max_size=mine.size,
            )), np.uint64)
            dls = tfs + np.uint64(draw(st.integers(0, 2**24)))
            rows.append({
                "term": f"t{t}", "salt": salt, "n": int(mine.size),
                "doc_ids": codec.encode_delta_varint(mine),
                "tfs": codec.encode_varint(tfs),
                "doclens": codec.encode_varint(dls),
            })
    perm = draw(st.permutations(range(len(rows))))
    return [rows[i] for i in perm]


SCHEMA = pa.schema([
    ("term", pa.string()), ("salt", pa.int32()), ("n", pa.int64()),
    ("doc_ids", pa.binary()), ("tfs", pa.binary()), ("doclens", pa.binary()),
])
JUNK = {"term": "zz", "salt": 9, "n": 1, "doc_ids": b"\x05",
        "tfs": b"\x01", "doclens": b"\x02"}


def as_table(rows, chunks: int, pad: int) -> pa.Table:
    """``rows`` as a table of ``chunks`` chunks, each cut from a bigger
    batch by a slice that skips ``pad`` junk rows, so every column's
    buffers start at a non-zero offset when ``pad`` > 0."""
    bounds = np.linspace(0, len(rows), chunks + 1).astype(int)
    batches = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        part = [JUNK] * pad + rows[lo:hi] + [JUNK]
        batch = pa.RecordBatch.from_pylist(part, schema=SCHEMA)
        batches.append(batch.slice(pad, hi - lo))
    return pa.Table.from_batches(batches, schema=SCHEMA)


def per_row(rows) -> dict[str, tuple[np.ndarray, ...]]:
    """The reference: one decode call per stream per row, salt order."""
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["salt"])):
        out.setdefault(r["term"], []).append((
            codec.decode_delta_varint(r["doc_ids"]),
            codec.decode_varint(r["tfs"]),
            codec.decode_varint(r["doclens"]),
        ))
    return {
        t: tuple(np.concatenate([p[i] for p in parts]) for i in range(3))
        for t, parts in out.items()
    }


@given(salted_rows(), st.integers(1, 3), st.integers(0, 3))
@settings(max_examples=150, deadline=None)
def test_decode_postings_equals_per_row_decode(rows, chunks, pad):
    fetched = as_table(rows, chunks, pad)
    ids, tfs, dls = codec.decode_rows(fetched)  # unsorted, sliced buffers
    for got, key in ((ids, "doc_ids"), (tfs, "tfs"), (dls, "doclens")):
        dec = codec.decode_delta_varint if key == "doc_ids" else (
            codec.decode_varint
        )
        exp = [dec(r[key]) for r in rows]
        assert np.array_equal(got, np.concatenate(exp) if exp else [])
    tbl, runs = decode_postings(fetched)
    want = per_row(rows)
    assert sorted(runs) == sorted(want)
    for term, run in runs.items():
        for got, exp in zip(run[1:], want[term]):
            assert got.dtype == np.uint64
            assert np.array_equal(got, exp)
        assert tbl.column("term")[run.rows].to_pylist() == (
            [term] * (run.rows.stop - run.rows.start)
        )
        n_rows = sum(r["term"] == term for r in rows)
        assert run.presorted == (n_rows == 1)


@given(salted_rows(), st.integers(0, 3), st.integers(1, 60))
@settings(max_examples=100, deadline=None)
def test_decode_row_batches_equals_per_row_decode(rows, pad, budget):
    """The executor twin, in input row order, cut into runs of whole rows
    of at most ``budget`` postings (or one bigger row)."""
    out = list(codec.decode_row_batches(
        as_table(rows, 1, pad).to_batches(), budget
    ))
    for term, ids, _, _ in out:
        assert len(term) == ids.size
        assert ids.size <= budget or len(set(term.to_pylist())) == 1
    got = [
        np.concatenate([o[i] for o in out]) if out else np.empty(0)
        for i in (1, 2, 3)
    ]
    terms = [t for o in out for t in o[0].to_pylist()]
    assert terms == [r["term"] for r in rows for _ in range(r["n"])]
    for i, key in enumerate(("doc_ids", "tfs", "doclens")):
        dec = codec.decode_delta_varint if i == 0 else codec.decode_varint
        exp = [dec(r[key]) for r in rows]
        assert np.array_equal(
            got[i], np.concatenate(exp) if exp else np.empty(0)
        )


def test_decode_postings_empty_and_corrupt():
    empty = as_table([], 1, 0)
    tbl, runs = decode_postings(empty)
    assert runs == {} and tbl.num_rows == 0
    bad = dict(JUNK, n=2)  # n says 2 postings, the streams hold 1
    with pytest.raises(ValueError, match="corrupt posting rows"):
        decode_postings(as_table([bad], 1, 0))


# ------------------------------------------------------------ the engine

QUERIES = [
    (["import", "return"], "or"),
    (["def", "class", "self"], "and"),
    (["import", "sym0100"], "or"),
    (["return", "self"], "and"),
    (["nosuchterm", "import"], "or"),
]
ALGOS = ["auto", "exhaustive", "dense", "wand"]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_lookup"))
    cfg = EngineConfig().tiny().with_overrides(shuffle_partitions=8)
    store = IndexStore(wh, "lk_idx")
    IndexBuilder(spark, store, cfg).build(
        synthesize_corpus(spark, 250, partitions=4)
    )
    return spark, store, cfg


def answers(qe: QueryEngine) -> list:
    out = []
    for terms, mode in QUERIES:
        for algo in ALGOS:
            r = qe.search(terms, mode, k=10, algo=algo)
            out.append((r.doc_ids.tolist(), r.scores.tobytes()))
        rows = qe.search_distributed(terms, mode, 10).collect()
        out.append([(r["doc_id"], r["score"]) for r in rows])
    return out


def copy_index(store: IndexStore, warehouse: str) -> IndexStore:
    """A private copy of ``store``, so a test can rewrite or append to it
    while the module's index stays as built."""
    copy = IndexStore(warehouse, os.path.basename(store.root))
    shutil.rmtree(copy.root)
    shutil.copytree(store.root, copy.root)
    with open(copy.manifest_path) as f:
        text = f.read()
    with open(copy.manifest_path, "w") as f:
        f.write(text.replace(store.root, copy.root))
    return copy


def test_multi_row_group_files_keep_answers_bit_identical(built, tmp_path):
    """Every postings file rewritten as 2-row row groups in shuffled row
    order: every scorer path answers bit-identically."""
    spark, store, cfg = built
    copy = copy_index(store, str(tmp_path))
    before = answers(QueryEngine(spark, copy, cfg))
    rng = np.random.default_rng(7)
    n_files = 0
    for root in copy.snapshot().paths("postings"):
        for d, _, files in os.walk(root):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                path = os.path.join(d, f)
                tbl = pq.read_table(path)
                tbl = tbl.take(rng.permutation(tbl.num_rows))
                pq.write_table(tbl, path, row_group_size=2)
                # Spark's local filesystem checks the old checksum file
                crc = os.path.join(d, f".{f}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                assert tbl.num_rows < 3 or (
                    pq.read_metadata(path).num_row_groups > 1
                )
                n_files += 1
    assert n_files > 0
    assert answers(QueryEngine(spark, copy, cfg)) == before


def test_many_segments_serve_under_a_low_descriptor_limit(built, tmp_path):
    """Appends with no merge grow the files a query touches (buckets x
    segments). A state parses each file's footer once and opens the file
    only while reading it, so the index serves under a soft descriptor
    limit below its file count, and no file of it stays open between
    queries."""
    resource = pytest.importorskip("resource")
    from excelastic_spark.streaming.incremental import IncrementalIndexer

    if not os.path.isdir("/proc/self/fd"):
        pytest.skip("needs /proc/self/fd")
    spark, store, cfg = built
    copy = copy_index(store, str(tmp_path))
    base = synthesize_corpus(spark, 12, partitions=1, seed=91)
    for i in range(5):
        more = base.withColumn(
            "path", F.concat(F.lit(f"seg{i}/"), F.col("path"))
        )  # keys distinct from the base corpus and each other
        IncrementalIndexer(spark, copy, cfg).append_increment(more)
    assert len(copy.snapshot().paths("postings")) == 6

    def open_under_index() -> int:
        n = 0
        for fd in os.listdir("/proc/self/fd"):
            try:
                target = os.readlink(f"/proc/self/fd/{fd}")
            except OSError:
                continue
            n += target.startswith(copy.root + os.sep)
        return n

    terms = ["class", "def", "import", "return", "self", "sym0100"]
    want = QueryEngine(spark, copy, cfg).search(terms, "or", k=10)
    margin = 12
    soft, hard = resource.getrlimit(resource.RLIMIT_NOFILE)
    resource.setrlimit(
        resource.RLIMIT_NOFILE,
        (len(os.listdir("/proc/self/fd")) + margin, hard),
    )
    try:
        qe = QueryEngine(spark, copy, cfg)
        got = qe.search(terms, "or", k=10)
        for t in terms:  # one term per query: no LRU hit, every bucket
            qe.search([t, "nosuchterm"], "or", k=10)
    finally:
        resource.setrlimit(resource.RLIMIT_NOFILE, (soft, hard))
    st = qe.pin()
    assert sum(len(parts) for parts in st._parts.values()) > margin
    assert got.doc_ids.tolist() == want.doc_ids.tolist()
    assert got.scores.tobytes() == want.scores.tobytes()
    assert open_under_index() == 0
