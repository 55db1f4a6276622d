"""Hot-path audit (BASELINE.md): no per-row Python in build/query modules —
no row-at-a-time ``udf(``, no ``rdd`` usage, no ``collect()`` loops over
data-sized results in the build path. Static source scan, the same spirit as
the reference's interface contract 'do not read this into memory'
(FileParser.java:19-23)."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENGINE = ROOT / "excelastic_spark"

HOT_MODULES = [
    "build.py",
    "tokenizer.py",
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


def _imported_modules(path: pathlib.Path) -> set[str]:
    """Dotted names ``path`` imports: ``import a.b`` gives a.b,
    ``from a import b`` gives a and a.b (b may be a module)."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out


def test_every_engine_module_is_imported_by_non_test_code():
    """A module that only tests import is dead code: every
    ``excelastic_spark`` module other than the ``__init__`` files is
    imported by a non-test file of the repository (the engine itself, the
    CLI, the entry point, the benchmarks or tools), not by itself. The one
    exception is the plan and job audit library the tests measure with."""
    test_support = {"excelastic_spark.plans.audit"}
    sources = [
        p for p in ROOT.rglob("*.py")
        if not p.relative_to(ROOT).parts[0].startswith(".")
        and "tests" not in p.relative_to(ROOT).parts
        and not p.name.startswith("test_") and p.name != "conftest.py"
    ]
    imports = {p: _imported_modules(p) for p in sources}
    unused = []
    for mod in sorted(ENGINE.rglob("*.py")):
        if mod.name == "__init__.py":
            continue
        name = ".".join(mod.relative_to(ROOT).with_suffix("").parts)
        if name in test_support:
            continue
        if not any(name in got for p, got in imports.items() if p != mod):
            unused.append(name)
    assert unused == [], unused


def test_one_chain_writes_every_index():
    """The build, the append and the shard build write their tables
    through one chain, ``build.write_segment``: outside the tests, no
    other code calls ``tokenize_triples`` or ``docs_table``, so no second
    hand-written ingested -> triples -> docs -> terms -> postings chain
    can drift from it."""
    chained = {"tokenize_triples", "docs_table"}
    offenders = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if rel.parts[0].startswith(".") or "tests" in rel.parts:
            continue
        tree = ast.parse(path.read_text())
        inside = set()
        if rel == pathlib.Path("excelastic_spark/build.py"):
            (chain,) = [
                fn for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef)
                and fn.name == "write_segment"
            ]
            inside = {id(n) for n in ast.walk(chain)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or id(node) in inside:
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                fn, "id", None
            )
            if name in chained:
                offenders.append(f"{rel}:{node.lineno}: {ast.unparse(node)}")
    assert offenders == [], offenders
