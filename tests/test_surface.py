"""The engine is exactly what its two entry points use: the benchmark
(``perfbench/*.py``) and the driver contract (``__spark_entry__.py``).

Walks their imports with ``ast`` (imports inside functions included, no
Spark started) and requires every ``engine/**/*.py`` module to be reached,
so a module nothing calls cannot linger, and every engine module they
import to exist, so a deletion cannot break either of them. Within the
modules, every top-level definition must be reached by name from the
entry points, except the few named in ``KEPT``, which must stay
unreached, so the list cannot go stale."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Engine definitions kept although no entry point reaches them: parts of
# the paper's link-graph engine that no benchmark workload or driver query
# exercises yet, and the benchmark decontamination primitive of the text
# pipeline that feeds the graph, checked against an exact python oracle.
# Their tests pin them.
KEPT = {
    "engine.derive.sha256_udf":
        "the per-row sha256 invariant: the Arrow-UDF side of the check",
    "engine.derive.hash_invariant_violations":
        "the per-row sha256 invariant: the count that must be 0",
    "engine.graph.save_edges_csr": "the CSR-like edge layout: writer",
    "engine.graph.load_edges_csr": "the CSR-like edge layout: reader",
    "engine.graph.save_edges_bucketed": "the bucketed edge layout: writer",
    "engine.graph.load_edges_bucketed": "the bucketed edge layout: reader",
    "engine.algos.triangles.clustering_coefficients":
        "neighbourhood density: local clustering per vertex",
    "engine.algos.triangles.transitivity":
        "neighbourhood density: global clustering",
    "engine.io.load_source": "the Iceberg/Parquet input seam",
    "engine.dedup.contamination_pairs":
        "curation: benchmark n-gram collision pairs",
    "engine.dedup.decontaminate":
        "curation: the corpus minus the benchmark-contaminated docs",
}


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
    assert not unreached, sorted(unreached)


def _identifiers(tree: ast.AST) -> set[str]:
    """Every name ``tree`` can refer to: bare names, attribute names and
    each part of an imported module path or alias."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.update(node.name.split("."))
            if node.asname:
                out.add(node.asname)
    return out


def _definitions() -> list[tuple[str, str, ast.AST]]:
    """(module, name, node) for every top-level def, class and assignment
    under ``engine/``."""
    out = []
    for f in sorted(REPO.joinpath("engine").rglob("*.py")):
        module = ".".join(f.relative_to(REPO).with_suffix("").parts)
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [
                    n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
                ]
            else:
                continue
            out.extend((module, name, node) for name in names)
    return out


def test_every_engine_definition_is_reached_by_an_entry_point():
    """Name-level closure: start from every identifier in the entry points,
    add the identifiers of each engine definition whose name is already in
    the set, and repeat until nothing changes. A definition whose name
    never enters the set is unreached. Matching is by bare name, so a
    definition sharing its name with reached code counts as reached: the
    check can miss dead code, never flag live code."""
    reached: set[str] = set()
    for f in [*REPO.joinpath("perfbench").glob("*.py"), REPO / "__spark_entry__.py"]:
        reached |= _identifiers(ast.parse(f.read_text()))
    definitions = _definitions()
    size = -1
    while size != len(reached):
        size = len(reached)
        for _, name, node in definitions:
            if name in reached:
                reached |= _identifiers(node)
    unreached = {
        f"{module}.{name}"
        for module, name, _ in definitions
        if name not in reached and not (name.startswith("__") and name.endswith("__"))
    }
    assert unreached == set(KEPT), "unreached but not KEPT: {}; KEPT but reached: {}".format(
        ", ".join(sorted(unreached - set(KEPT))) or "-",
        ", ".join(sorted(set(KEPT) - unreached)) or "-",
    )


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
