"""Hot-path audit (BASELINE.md): no per-row Python in build/query modules —
no row-at-a-time ``udf(``, no ``rdd`` usage, no ``collect()`` loops over
data-sized results in the build path. Static source scan, the same spirit as
the reference's interface contract 'do not read this into memory'
(FileParser.java:19-23)."""

from __future__ import annotations

import ast
import pathlib
import re

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "excelastic_spark"

HOT_MODULES = [
    "build.py",
    "tokenizer.py",
    "stats.py",
    "codec.py",
    "corpus.py",
    "query.py",
    "heads.py",
    "sharded.py",
    "streaming/incremental.py",
    "functions/dedup.py",
    "functions/similarity.py",
    "functions/text.py",
]


def test_no_row_at_a_time_udf():
    for mod in HOT_MODULES:
        src = (ENGINE / mod).read_text()
        assert not re.search(r"\bF\.udf\(|\budf\(", src), mod
        assert "@udf" not in src, mod


def test_no_rdd_usage():
    for mod in HOT_MODULES:
        src = (ENGINE / mod).read_text()
        assert ".rdd" not in src, mod
        assert "sparkContext.parallelize" not in src, mod


def test_no_per_row_python_iteration_over_documents():
    """iterrows/itertuples allowed only over posting-index rows (a handful
    per query), never over document/token frames — enforced by allowlist."""
    # the head kernel loops over (term, salt) posting-index ROWS (it
    # re-encodes each row's head), never over documents/tokens — documented
    # in its kernel docstring
    allowed = {"heads.py"}
    for mod in HOT_MODULES:
        src = (ENGINE / mod).read_text()
        if mod in allowed:
            continue
        assert ".iterrows()" not in src and ".itertuples()" not in src, mod


def test_query_reads_the_manifest_only_in_pin():
    """query.py has ONE snapshot-acquire function, QueryEngine.pin: every
    other read resolves tables, stats and layout through the pinned
    SnapshotState, so no query can mix two index versions. Any direct
    manifest read (``store.manifest(``, ``store.table_path(``,
    ``store.has_table(``, ``store.read_table(``, ``store.snapshot(``,
    ``store.load_config(``) or ``os.stat(`` elsewhere in the module fails
    this check."""
    tree = ast.parse((ENGINE / "query.py").read_text())
    pins = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "pin"
    ]
    assert len(pins) == 1
    inside = {id(n) for n in ast.walk(pins[0])}
    store_reads = {
        "manifest", "table_path", "has_table", "read_table", "snapshot",
        "load_config",
    }
    offenders = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or id(node) in inside:
            continue
        fn = node.func
        if not isinstance(fn, ast.Attribute):
            continue
        owner = ast.unparse(fn.value)
        if (fn.attr in store_reads and owner.split(".")[-1] == "store") or (
            fn.attr == "stat" and owner == "os"
        ):
            offenders.append(f"line {node.lineno}: {ast.unparse(node)}")
    assert offenders == [], offenders
