"""Every package module is imported, directly or through other
modules, by something the system runs: the driver contract, the
bench, a script or the warehouse benchmark. A module only tests
import is dead code. The scan reads the source with ``ast``, so it
needs no Spark session and sees function-local imports too
(``registry.all_queries`` imports its query modules that way)."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "teleco_etl_pipeline_spark"

# Package modules no entry point reaches, each with why it stays.
ALLOWED = {
    "teleco_etl_pipeline_spark/plans/extract.py": "the paper's export DAG (PAPER.md §0)",
}


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _imported(path: Path):
    """Every module an import in ``path`` may load: ``from a.b import
    c`` may name module ``a.b.c``, and importing ``a.b`` loads ``a``."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [node.module, *(f"{node.module}.{a.name}" for a in node.names)]
        else:
            continue
        for name in names:
            parts = name.split(".")
            yield from (".".join(parts[:i]) for i in range(1, len(parts) + 1))


def _reachable() -> set[str]:
    todo = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    todo += [*ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py")]
    seen: set[Path] = set()
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        for name in _imported(f):
            if name.split(".")[0] == PKG and (m := _module_file(name)):
                todo.append(m)
    return {f.relative_to(ROOT).as_posix() for f in seen}


def test_every_package_module_is_reachable():
    reached = _reachable()
    modules = {f.relative_to(ROOT).as_posix() for f in (ROOT / PKG).rglob("*.py")}
    assert sorted(modules - reached - ALLOWED.keys()) == []
    # An allowlisted module that became reachable needs no entry.
    assert sorted(ALLOWED.keys() & reached) == []
