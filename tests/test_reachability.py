"""Reachability guard: every top-level function of the engine must be
reachable from an entry point, so dead operators cannot quietly come
back.

The walk is name-based and reads only the AST (no Spark). Its roots are
the programs that drive the engine (`run_job.py`, `__spark_entry__.py`,
and the benchmark drivers, whose calls must keep working), every
registry query (a function registered with `queries.q`), the Python
oracles (`oracle/` and the `*_py` twins in `functions/langmodel.py`),
and the top-level code of every engine module (constants, rule tables,
class bodies, decorators). A function is reached when reached code
names it, as a bare name or as an attribute; a name shared by two
functions reaches both, so the walk over-approximates. The oracles are
reference implementations for the tests: roots, but not checked.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ENGINE = REPO / "scripts_spark"
PROGRAMS = ("run_job.py", "__spark_entry__.py", "bench.py", "bench_worker.py",
            "bench_extra.py", "scaling.py", "perfbench/*.py")

# Functions that no entry point calls but that stay, each with the test
# that needs it. An entry that becomes reached or is deleted fails the
# guard too, so this list can only shrink.
KEPT = {
    "plans/queries.py::token_budget_sample_scalable":
        "scale twin of the token_budget_sample query, pinned equal to it "
        "by tests/test_queries.py",
    "plans/queries.py::value_quantiles_approx":
        "scale twin of the value_quantiles query, pinned within its rank "
        "tolerance by tests/test_plans.py",
    "sources/catalog.py::completed_buckets":
        "assertion helper of the resume tests (tests/test_resume.py)",
}


def _names(nodes) -> set[str]:
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _is_oracle(mod: str, fn: str) -> bool:
    return mod.startswith("oracle/") or (
        mod == "functions/langmodel.py" and fn.endswith("_py")
    )


def _is_query(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "q"
        for d in fn.decorator_list
    )


def _walk() -> tuple[dict[tuple[str, str], set[str]], set[str]]:
    """({(module, function): names its body uses}, names the roots use)."""
    defs: dict[tuple[str, str], set[str]] = {}
    roots: set[str] = set()
    for pattern in PROGRAMS:
        for path in sorted(REPO.glob(pattern)):
            roots |= _names([ast.parse(path.read_text())])
    for path in sorted(ENGINE.rglob("*.py")):
        mod = path.relative_to(ENGINE).as_posix()
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                roots |= _names([node])
            elif _is_oracle(mod, node.name) or _is_query(node):
                roots |= _names([node])
            else:
                roots |= _names(node.decorator_list)  # run at import time
                defs[(mod, node.name)] = _names([node.args, *node.body])
    return defs, roots


def unreached() -> list[str]:
    """`module::function` of every engine function no root reaches."""
    defs, frontier = _walk()
    seen: set[str] = set()
    while frontier:
        seen |= frontier
        frontier = set().union(
            *(uses for (_, fn), uses in defs.items() if fn in frontier)
        ) - seen
    return sorted(f"{mod}::{fn}" for mod, fn in defs if fn not in seen)


def test_every_engine_function_is_reached():
    missing = unreached()
    dead = [f for f in missing if f not in KEPT]
    stale = [f for f in KEPT if f not in missing]
    assert not dead, (
        "engine functions that no entry point reaches (delete them, or "
        "call them from the engine):\n  " + "\n  ".join(dead)
    )
    assert not stale, f"KEPT entries that are now reached or gone: {stale}"
