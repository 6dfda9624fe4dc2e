"""The driver's registries agree with each other, checked without Spark.

`queries()` and `oracle_sql()` must name the same entries, `queries()`
must fit the driver's window, and every query that `bench.py` times or
excludes, or that `tools/plan_audit.py` audits, must exist. Both scripts
are read with `ast`, not imported: they edit `sys.path` and start Spark or
import the benchmark's own dependencies at module level."""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as entrymod

REPO = Path(__file__).resolve().parent.parent

# the driver gates only the first 50 entries of `queries()`
DRIVER_WINDOW = 50


def _bench_names(var: str) -> list[str]:
    tree = ast.parse((REPO / "bench.py").read_text())
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and node.targets[0].id == var
        ):
            return [elt.value for elt in node.value.elts]
    raise AssertionError(f"bench.py defines no {var}")


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_every_query_is_inside_the_driver_window():
    assert len(entrymod.queries()) <= DRIVER_WINDOW


def test_bench_names_only_registered_queries():
    queries = set(entrymod.queries())
    for var in ("HEADLINE", "VALUE_EXCLUDED"):
        names = _bench_names(var)
        assert names, var
        assert sorted(set(names) - queries) == [], var


def test_plan_audit_names_only_registered_queries():
    tree = ast.parse((REPO / "tools" / "plan_audit.py").read_text())
    names = [
        node.slice.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Name)
        and node.value.id == "qs"
        and isinstance(node.slice, ast.Constant)
    ]
    assert names
    assert sorted(set(names) - set(entrymod.queries())) == []
