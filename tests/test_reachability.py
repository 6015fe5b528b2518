"""Every engine module is reached from an entry point (no Spark).

Walks the static import graph with `ast` from the non-test entry
points: the driver contract (`__spark_entry__.py`), the benchmark
(`perfbench/*.py`) and the spark-submit entry
(`scripts/submit_build.py`). A module under `stakgraph_spark/` that
none of them imports, directly or transitively, is code nothing runs:
delete it with the tests that exercise only it.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENTRY_POINTS = [
    ROOT / "__spark_entry__.py",
    ROOT / "scripts" / "submit_build.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]
# kept although no entry point imports it, with the reason
EXEMPT = {
    "stakgraph_spark.sources.fixtures":
        "the second golden corpus (deep, multi-bucket, hot-skew "
        "conversations): test data for test_golden_corpus2, not engine code",
}


def _module(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: Path):
    """Absolute dotted names a file imports; `from X import n` yields X
    and X.n, since n may be a submodule."""
    pkg = _module(path).split(".")[: None if path.name == "__init__.py" else -1]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = [node.module] if node.module else []
            if node.level:
                base = pkg[: len(pkg) - node.level + 1] + base
            yield ".".join(base)
            yield from (".".join(base + [a.name]) for a in node.names)


def test_every_engine_module_is_reached_from_an_entry_point():
    mods = {_module(p): p for p in (ROOT / "stakgraph_spark").rglob("*.py")}
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        for name in _imported(todo.pop()):
            parts = name.split(".")
            # importing a.b.c runs the packages a and a.b too
            for m in (".".join(parts[:i]) for i in range(1, len(parts) + 1)):
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append(mods[m])
    assert set(EXEMPT) <= set(mods), "an exempt module no longer exists"
    assert sorted(set(mods) - seen - set(EXEMPT)) == []
