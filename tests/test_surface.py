"""The engine is exactly what its two entry points use: the benchmark
(``perfbench/*.py``) and the driver contract (``__spark_entry__.py``).

Walks their imports with ``ast`` (imports inside functions included, no
Spark started) and requires every ``engine/**/*.py`` module to be reached,
so a module nothing calls cannot linger, and every engine module they
import to exist, so a deletion cannot break either of them. The one
library module kept outside that closure is named in ``LIBRARY``, and
must stay unreached, so the list cannot go stale."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Kept although no entry point imports it: the Z-order writer layout, whose
# argument contract is a pinned test (tests/test_layout.py).
LIBRARY = {"engine/layout.py"}


def _module_file(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for cand in (base / "__init__.py", base.with_suffix(".py")):
        if cand.is_file():
            return cand
    return None


def _imports(path: Path) -> tuple[set[Path], set[str]]:
    """(files ``path`` imports, names of this repo's modules it imports
    that do not exist)."""
    names: set[str] = set()
    missing: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            modules = [a.name for a in node.names]
            names.update(modules)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            modules = [node.module]
            names.add(node.module)
            # ``from pkg import mod`` names a submodule, not only an attribute
            names.update(f"{node.module}.{a.name}" for a in node.names)
        else:
            continue
        missing.update(
            m for m in modules
            if m.split(".")[0] in ("engine", "perfbench") and _module_file(m) is None
        )
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):  # a module's parent packages run too
            f = _module_file(".".join(parts[:i]))
            if f is not None:
                found.add(f)
    return found, missing


def _walk() -> tuple[set[Path], set[str]]:
    todo = [*REPO.joinpath("perfbench").glob("*.py"), REPO / "__spark_entry__.py"]
    seen: set[Path] = set()
    missing: set[str] = set()
    while todo:
        f = todo.pop()
        if f not in seen:
            seen.add(f)
            found, gone = _imports(f)
            todo.extend(found)
            missing |= gone
    return seen, missing


def test_every_engine_module_is_reached_by_an_entry_point():
    reached, missing = _walk()
    assert not missing, sorted(missing)
    engine = set(REPO.joinpath("engine").rglob("*.py"))
    unreached = {str(f.relative_to(REPO)) for f in engine - reached}
    assert unreached == LIBRARY, sorted(unreached ^ LIBRARY)


def test_entry_points_import():
    import __spark_entry__
    import perfbench.workloads  # noqa: F401

    for name in ("entry", "queries", "oracle_sql"):
        assert callable(getattr(__spark_entry__, name)), name


def test_engine_frees_frames_only_through_loop_release():
    """``DataFrame.unpersist()`` frees nothing on a checkpointed frame
    (``engine/loop.py`` docstring), so engine code frees what it
    materialized through ``engine.loop.release`` and nowhere else."""
    calls = [
        f"{f.relative_to(REPO)}:{node.lineno}"
        for f in REPO.joinpath("engine").rglob("*.py")
        if f != REPO / "engine" / "loop.py"
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "unpersist"
    ]
    assert not calls, calls
