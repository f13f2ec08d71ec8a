"""Every engine module is reached by something that runs: `__spark_entry__`,
the spark-submit jobs, the benchmarks or the scripts. A module that only
tests import is dead weight, so the import graph is walked statically
(function-local imports included) from those entry points."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENTRY_GLOBS = ["__spark_entry__.py", "no_ocr_spark/jobs/*.py", "bench.py",
               "bench_extra.py", "perfbench/*.py", "scripts/*.py", "BENCH/*.py"]


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _engine_modules() -> dict[str, pathlib.Path]:
    return {_module_name(p): p for p in (ROOT / "no_ocr_spark").rglob("*.py")}


def _imported(path: pathlib.Path, engine: dict) -> set[str]:
    """Engine modules `path` imports, with the packages each one runs.
    The code base imports absolutely only."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            found |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return found & engine.keys()


def test_every_engine_module_is_reachable():
    engine = _engine_modules()
    todo = [p for g in ENTRY_GLOBS for p in sorted(ROOT.glob(g))]
    assert todo, "no entry points found"
    seen = {_module_name(p) for p in todo} & engine.keys()
    while todo:
        for name in _imported(todo.pop(), engine) - seen:
            seen.add(name)
            todo.append(engine[name])
    unreached = sorted(engine.keys() - seen)
    assert not unreached, "unreached engine modules: " + ", ".join(unreached)
