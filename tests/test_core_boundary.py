"""The validation core runs in the JVM alone, and the package is only that
core.

A fresh interpreter validates the golden fixture (tests/test_engine_golden.py)
three ways — ``validate``, ``ResumableValidator.run`` and ``validate_stream``.
Afterwards no curation module (``operators*``, ``functions.arrays``) may have
been imported, and the executed plan of the golden violation relation may
hold no Python-evaluated node. A second check, without Spark, pins the
package's module list and the public names of the modules around the
core: a new operator family, helper or option has to change this file."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

PYTHON_NODES = (
    "MapInArrow",
    "PythonUDF",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandasWithState",
)

SCRIPT = r"""
import json, sys

from fs_schema_validator_spark.engine import ValidationEngine
from fs_schema_validator_spark.session import get_spark
from fs_schema_validator_spark.streaming.checkpoint import (
    ParquetManifestStore,
    ResumableValidator,
)
from fs_schema_validator_spark.streaming.stream import validate_stream
from tests.test_engine_golden import RULES, golden_inputs

tmp = sys.argv[1]
spark = get_spark(
    master="local[2]",
    app_name="fsv-core-boundary",
    extra_conf={"spark.sql.warehouse.dir": f"{tmp}/warehouse"},
)
seq, tables = golden_inputs(spark)
res = ValidationEngine(subject_col="doc_id").validate(seq, RULES, tables)
n_validate = res.n_violations
plan = res.violations._jdf.queryExecution().executedPlan().toString()
res.release()

store = ParquetManifestStore(spark, f"{tmp}/manifest")
run = ResumableValidator(
    ValidationEngine(subject_col="doc_id"), store, partition_col="source"
).run(seq, RULES, tables)
n_run = sum(r["n_violations"] for r in run.values())

seq.write.parquet(f"{tmp}/incoming")
stream = spark.readStream.schema(seq.schema).parquet(f"{tmp}/incoming")
seen = []
q = validate_stream(
    stream,
    RULES,
    tables,
    checkpoint_location=f"{tmp}/chk_validate",
    on_batch=lambda bid, df, k: seen.append(k),
)
q.awaitTermination(120)
spark.stop()

print(json.dumps({
    "modules": sorted(
        m for m in sys.modules
        if m.startswith("fs_schema_validator_spark.operators")
        or m == "fs_schema_validator_spark.functions.arrays"
    ),
    "plan": plan,
    "counts": [n_validate, n_run, sum(seen)],
}))
"""


def test_core_imports_no_curation_module_and_plans_no_python(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])

    # the three run modes really ran the golden fixture (17 violations)
    assert got["counts"] == [17, 17, 17]
    assert got["modules"] == []
    # the persisted relation's string carries the plan that computed it
    plan = got["plan"]
    assert "InMemoryRelation" in plan
    assert [node for node in PYTHON_NODES if node in plan] == [], plan


# the validation core, the CLI `profile` command's operator, and the
# `dedup.token_ngram_dup_stats` path that the `token_dedup` benchmark runs
PACKAGE_MODULES = [
    "__init__.py",
    "__main__.py",
    "compiler/__init__.py",
    "compiler/columns.py",
    "compiler/messages.py",
    "compiler/plan.py",
    "engine.py",
    "evaluator/__init__.py",
    "evaluator/errors.py",
    "evaluator/parser.py",
    "evaluator/values.py",
    "functions/__init__.py",
    "functions/arrays.py",
    "functions/cache.py",
    "functions/sketches.py",
    "operators/__init__.py",
    "operators/dedup.py",
    "operators/profile.py",
    "plans/__init__.py",
    "plans/cli.py",
    "rules/__init__.py",
    "rules/loader.py",
    "rules/model.py",
    "rules/spec.py",
    "session.py",
    "sources/__init__.py",
    "sources/synth.py",
    "sources/tables.py",
    "streaming/__init__.py",
    "streaming/checkpoint.py",
    "streaming/stream.py",
]


# public functions and classes of the modules around the core, in order
PUBLIC_NAMES = {
    "operators/dedup.py": ["token_ngram_dup_stats"],
    "functions/sketches.py": ["bucketize", "histogram", "drift"],
    "sources/tables.py": ["iceberg_available", "load_table", "current_snapshot_id"],
    "streaming/stream.py": ["validate_stream"],
}


def _top_level_defs(path: Path) -> dict[str, ast.FunctionDef | ast.ClassDef]:
    tree = ast.parse(path.read_text())
    return {
        node.name: node
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
    }


def test_package_is_the_validation_core_plus_the_token_dedup_path():
    pkg = REPO / "fs_schema_validator_spark"
    got = sorted(p.relative_to(pkg).as_posix() for p in pkg.rglob("*.py"))
    assert got == PACKAGE_MODULES

    for module, names in PUBLIC_NAMES.items():
        defs = _top_level_defs(pkg / module)
        assert [n for n in defs if not n.startswith("_")] == names, module

    # the hash polynomial, the dup threshold and the rate's digits are
    # module constants, not options
    dedup = _top_level_defs(pkg / "operators" / "dedup.py")["token_ngram_dup_stats"]
    assert [a.arg for a in dedup.args.args] == ["df", "k", "tokens_col", "id_col"]
    assert dedup.args.kwonlyargs == [] and dedup.args.vararg is None
