"""Checkpoint/resume + CLI contract tests."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from fs_schema_validator_spark.sources import synth
from fs_schema_validator_spark.engine import ValidationEngine
from fs_schema_validator_spark.streaming.checkpoint import (
    ParquetManifestStore,
    ResumableValidator,
    rules_fingerprint,
)

REPO = Path(__file__).resolve().parents[1]

RULES = """
schema:
  - type: not_empty
    column: tokens
  - type: expr
    id: ntok_consistency
    assert: "n_tok = size(tokens)"
    reason: "'mismatch'"
"""


def assert_summary_matches_manifest(df, rules, results, tables=None):
    """summary("source") and the checkpoint manifest share one attribution
    contract: the same (rows, violations) per group, where summary's null
    group is the manifest's "(global)" partition."""
    res = ValidationEngine(subject_col="doc_id").validate(df, rules, tables)
    summary = {
        "(global)" if r.source is None else r.source: (r.rows, r.violations)
        for r in res.summary("source").collect()
    }
    res.release()
    manifest = {
        p: (r["input_rows"], r["n_violations"]) for p, r in results.items()
    }
    assert summary == manifest


@pytest.fixture()
def validator(spark, tmp_path):
    store = ParquetManifestStore(spark, str(tmp_path / "manifest"))
    return ResumableValidator(
        ValidationEngine(subject_col="doc_id"), store, partition_col="source"
    )


def test_first_run_validates_all_partitions(spark, validator):
    seq = synth.corrupt_sequences(synth.gen_sequences(spark, 40), every=10)
    results = validator.run(seq, RULES, snapshot_id="snap1")
    # corruption mode 4 rewrites some sources to 'bogus' — a 5th partition
    assert sorted(results) == ["bogus", "books", "cc", "code", "wiki"]
    # corruption mode 0 (empty tokens) hits source cc (i=0); mode 1 wiki...
    assert results["cc"]["verdict"] == "FAIL"
    assert results["cc"]["n_violations"] > 0


def test_rerun_skips_validated_partitions(spark, validator):
    seq = synth.gen_sequences(spark, 40)
    first = validator.run(seq, RULES, snapshot_id="snapA")
    assert len(first) == 4
    second = validator.run(seq, RULES, snapshot_id="snapA")
    assert second == {}  # everything checkpointed
    assert validator.pending_partitions(seq, RULES, "snapA") == []


def test_new_snapshot_revalidates(spark, validator):
    seq = synth.gen_sequences(spark, 40)
    validator.run(seq, RULES, snapshot_id="snapA")
    pending = validator.pending_partitions(seq, RULES, snapshot_id="snapB")
    assert len(pending) == 4


def test_rule_change_revalidates(spark, validator):
    seq = synth.gen_sequences(spark, 40)
    validator.run(seq, RULES, snapshot_id="snapA")
    changed = RULES + "  - {type: not_empty, column: doc_id}\n"
    assert rules_fingerprint(changed) != rules_fingerprint(RULES)
    assert len(validator.pending_partitions(seq, changed, "snapA")) == 4


def test_engine_version_change_revalidates(spark, validator, monkeypatch):
    from fs_schema_validator_spark.streaming import checkpoint

    seq = synth.gen_sequences(spark, 40)
    validator.run(seq, RULES, snapshot_id="snapA")
    assert validator.pending_partitions(seq, RULES, "snapA") == []
    monkeypatch.setattr(checkpoint, "__version__", "0.1.0+next")
    assert len(validator.pending_partitions(seq, RULES, "snapA")) == 4


def test_manifest_records_lineage(spark, validator):
    seq = synth.gen_sequences(spark, 40)
    validator.run(seq, RULES, snapshot_id="snapZ")
    manifest = validator.store.read().collect()
    assert len(manifest) == 4
    row = manifest[0]
    assert row.rules_hash == rules_fingerprint(RULES)
    assert row.snapshot_id == "snapZ"
    assert row.input_rows == 10
    assert row.engine_version == "0.1.0"
    assert row.validated_at is not None


# ---------------------------------------------------------------------------
# CLI


def test_cli_exit_codes(spark, tmp_path, capfd):
    from fs_schema_validator_spark.plans.cli import main

    table = str(tmp_path / "seq")
    synth.corrupt_sequences(synth.gen_sequences(spark, 20), every=10).write.parquet(
        table
    )
    rules_ok = tmp_path / "ok.yaml"
    rules_ok.write_text("schema: [{type: not_empty, column: doc_id}]")
    rules_fail = tmp_path / "fail.yaml"
    rules_fail.write_text(RULES)
    rules_bad = tmp_path / "bad.yaml"
    rules_bad.write_text("schema: [{type: nonsense}]")

    assert main(["validate", "--rules", str(rules_ok), "--table", table]) == 0

    out_path = str(tmp_path / "violations")
    assert (
        main(
            [
                "validate",
                "--rules",
                str(rules_fail),
                "--table",
                table,
                "--output",
                out_path,
            ]
        )
        == 1
    )
    printed = capfd.readouterr().out
    assert "❗️ doc-" in printed and "cannot be empty" in printed
    written = spark.read.parquet(out_path)
    assert written.count() > 0

    assert main(["validate", "--rules", str(rules_bad), "--table", table]) == 127

    # the exit code is the verdict, not the printed rows: printing none
    # still fails, and a negative print limit is a usage error
    capfd.readouterr()
    fail = ["validate", "--rules", str(rules_fail), "--table", table]
    assert main(fail + ["--max-print", "0"]) == 1
    assert "❗️" not in capfd.readouterr().out
    assert main(fail + ["--max-print", "-1"]) == 2
    assert "--max-print" in capfd.readouterr().err

    # a --table or --aux that cannot be read is a usage error, not a
    # verdict: one stderr line naming the flag, no traceback
    missing = str(tmp_path / "no_such_path")
    ok = ["validate", "--rules", str(rules_ok)]
    assert main(ok + ["--table", missing]) == 2
    err = capfd.readouterr().err
    assert f"cannot read --table {missing}" in err and "PATH_NOT_FOUND" in err
    assert main(ok + ["--table", table, "--aux", f"dim_sources={missing}"]) == 2
    err = capfd.readouterr().err
    assert f"cannot read --aux dim_sources {missing}" in err

    # a rule naming a column the table lacks is an invalid spec, found
    # before Spark plans anything: our two stderr lines, no traceback, no
    # Spark ERROR record or JVM stack trace
    rules_nocol = tmp_path / "nocol.yaml"
    rules_nocol.write_text("schema: [{type: unique, keys: [no_such_col]}]")
    nocol = ["validate", "--rules", str(rules_nocol), "--table", table]
    assert main(nocol) == 127
    err = capfd.readouterr().err
    assert err.splitlines() == [
        "❗️ The provided schema is invalid!",
        "rule `r000.unique` (seq 0): column `no_such_col` does not exist",
    ]
    # the in-process JVM logs to the descriptors it started with, so the
    # JVM's own stderr is checked in a fresh CLI process
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    cli = subprocess.run(
        [sys.executable, "-m", "fs_schema_validator_spark", *nocol],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert cli.returncode == 127, cli.stderr[-4000:]
    noise = [
        line
        for line in cli.stderr.splitlines()
        if "ERROR" in line or line.lstrip().startswith("at ") or "Traceback" in line
    ]
    assert noise == [], cli.stderr[-4000:]


def test_cli_validates_a_catalog_table_by_name(spark, tmp_path, capsys):
    """--table and --aux take a session-catalog table name as well as a
    path: validating the table by name exits and prints exactly as
    validating its parquet path does."""
    from fs_schema_validator_spark.plans.cli import main

    table = str(tmp_path / "seqn")
    synth.corrupt_sequences(synth.gen_sequences(spark, 20), every=10).write.parquet(
        table
    )
    manifest = str(tmp_path / "manifestn")
    synth.gen_expected_manifest(spark, 20, extra=2).write.parquet(manifest)
    spark.read.parquet(table).createOrReplaceTempView("cli_seq")
    spark.read.parquet(manifest).createOrReplaceTempView("cli_manifest")
    rules = tmp_path / "n.yaml"
    rules.write_text(
        RULES
        + """  - type: completeness
    id: manifest_complete
    manifest: expected_manifest
    key: doc_id
"""
    )

    def run(table_ref, manifest_ref):
        code = main(
            ["validate", "--rules", str(rules), "--table", table_ref,
             "--aux", f"expected_manifest={manifest_ref}", "--show-valid"]
        )
        return code, capsys.readouterr().out

    by_path = run(table, manifest)
    try:
        by_name = run("cli_seq", "cli_manifest")
    finally:
        spark.catalog.dropTempView("cli_seq")
        spark.catalog.dropTempView("cli_manifest")
    assert by_path[0] == 1 and "does not exist" in by_path[1]
    assert by_name == by_path


def test_cli_binding_override(spark, tmp_path):
    from fs_schema_validator_spark.plans.cli import main

    table = str(tmp_path / "seq2")
    synth.gen_sequences(spark, 8).write.parquet(table)
    rules = tmp_path / "r.yaml"
    rules.write_text(
        """
bindings: {col: doc_id}
schema:
  - {type: not_empty, column: "{$col}"}
"""
    )
    # default binding passes; overriding to a column with empties would fail,
    # but here we just prove the -b path parses and applies
    assert (
        main(["validate", "--rules", str(rules), "--table", table, "-b", "col=doc_id"])
        == 0
    )
    assert (
        main(["validate", "--rules", str(rules), "--table", table, "-b", "col={}"])
        == 127
    )


def test_run_uses_constant_jobs_not_per_partition(spark, validator):
    """The single-pass run submits O(1) Spark jobs regardless of partition
    count (the old driver loop submitted 3+ per partition)."""
    seq = synth.gen_sequences(spark, 40)  # 4 source partitions
    sc = spark.sparkContext
    sc.setJobGroup("resumable-run", "single-pass checkpoint run")
    try:
        results = validator.run(seq, RULES, snapshot_id="snapJobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(results) == 4
    jobs = sc.statusTracker().getJobIdsForGroup("resumable-run")
    assert 0 < len(jobs) <= 10, jobs


def test_cli_reference_output_contract(spark, tmp_path, capsys, monkeypatch):
    """Output shape mirrors the reference CLI
    (/root/reference/fs_schema_validator/__main__.py:76-96): verbose echo
    + inspected count, sorted ✅ valid subjects, ❗️ failures with indented
    reasons — and $VALIDATION_SCHEMA_PATH/$VALIDATION_ROOT_DIR supply the
    defaults like the reference's envvar options."""
    from fs_schema_validator_spark.plans.cli import main

    table = str(tmp_path / "seq3")
    synth.corrupt_sequences(synth.gen_sequences(spark, 20), every=10).write.parquet(
        table
    )
    rules = tmp_path / "r.yaml"
    rules.write_text(RULES)
    monkeypatch.setenv("VALIDATION_SCHEMA_PATH", str(rules))
    monkeypatch.setenv("VALIDATION_ROOT_DIR", table)

    assert main(["validate", "--verbose", "--show-valid"]) == 1
    out = capsys.readouterr().out
    assert f"Schema path: {rules}" in out
    assert f"Root dir: {table}" in out
    assert "Inspected 20 rows." in out
    valid_lines = [l for l in out.splitlines() if l.startswith("✅ ")]
    fail_lines = [l for l in out.splitlines() if l.startswith("❗️ ")]
    assert valid_lines == sorted(valid_lines) and len(valid_lines) > 0
    assert fail_lines and any("     - " in l for l in out.splitlines())
    # valid subjects print before the failure block (reference ordering)
    assert out.index("✅ ") < out.index("❗️ ")


def test_run_records_orphan_violations_under_global(spark, tmp_path):
    """Completeness-missing subjects don't exist in the input, so their
    violations can't map to a partition: they land under '(global)'."""
    store = ParquetManifestStore(spark, str(tmp_path / "manifest_g"))
    v = ResumableValidator(
        ValidationEngine(subject_col="doc_id"), store, partition_col="source"
    )
    seq = synth.gen_sequences(spark, 20)
    manifest = synth.gen_expected_manifest(spark, 20, extra=3)
    rules = """
schema:
  - type: not_empty
    column: tokens
  - type: completeness
    id: manifest_complete
    manifest: expected_manifest
    key: doc_id
"""
    results = v.run(
        seq, rules, tables={"expected_manifest": manifest}, snapshot_id="sG"
    )
    assert "(global)" in results
    assert results["(global)"]["n_violations"] == 3  # the 3 extra keys
    assert results["(global)"]["input_rows"] == 0
    # real partitions still get their own rows
    assert {p for p in results if p != "(global)"} == {
        "cc", "wiki", "code", "books"
    }
    assert_summary_matches_manifest(
        seq, rules, results, tables={"expected_manifest": manifest}
    )


def test_cli_profile_subcommand(spark, tmp_path, capsys):
    from fs_schema_validator_spark.plans.cli import main

    table = str(tmp_path / "seqp")
    synth.gen_sequences(spark, 30).write.parquet(table)
    assert main(["profile", "--table", table, "--columns",
                 "doc_id,n_tok", "--exact"]) == 0
    out = capsys.readouterr().out
    assert "doc_id: rows=30 nulls=0 distinct=30" in out
    assert "n_tok: rows=30" in out

    assert main(["profile", "--table", "no_such_table"]) == 2
    err = capsys.readouterr().err
    assert "cannot read --table no_such_table" in err
    assert "TABLE_OR_VIEW_NOT_FOUND" in err


def test_run_counts_each_violation_exactly_once(spark, tmp_path):
    """A subject spanning partitions (itself an anomaly) must not inflate
    counts: per-partition n_violations sums to the true total, attributed
    to the subject's minimum partition."""
    from pyspark.sql import functions as F

    store = ParquetManifestStore(spark, str(tmp_path / "manifest_x"))
    v = ResumableValidator(
        ValidationEngine(subject_col="doc_id"), store, partition_col="source"
    )
    seq = synth.gen_sequences(spark, 20)
    # duplicate doc 3 into a different partition with an empty-tokens row
    spill = seq.filter(F.col("doc_id") == "doc-00000003").select(
        "doc_id",
        F.array().cast("array<int>").alias("tokens"),
        F.lit(0).alias("n_tok"),
        F.lit("wiki").alias("source"),
    )
    both = seq.select("doc_id", "tokens", "n_tok", "source").unionByName(spill)
    results = v.run(both, RULES, snapshot_id="sX")
    total = sum(r["n_violations"] for r in results.values())
    engine_total = (
        ValidationEngine(subject_col="doc_id").validate(both, RULES).violations.count()
    )
    assert total == engine_total
    assert_summary_matches_manifest(both, RULES, results)


def test_null_subject_violations_attributed_to_their_partition(spark, tmp_path):
    """A partition whose ONLY violating rows have a NULL subject must
    still FAIL (ADVICE r2): the attribution join renders subjects
    '<null>' exactly like the engine's violation surface — a bare cast
    would send these to '(global)' and record the partition as PASS."""
    store = ParquetManifestStore(spark, str(tmp_path / "manifest"))
    v = ResumableValidator(
        ValidationEngine(subject_col="doc_id"), store, partition_col="source"
    )
    df = spark.createDataFrame(
        [("d1", "good", [1]), (None, "nullbad", []), ("d2", "nullbad", [2])],
        "doc_id string, source string, tokens array<int>",
    )
    rules = "schema:\n  - {type: not_empty, column: tokens}\n"
    res = v.run(df, rules, snapshot_id="s1")
    assert res["good"]["verdict"] == "PASS"
    assert res["nullbad"]["verdict"] == "FAIL"
    assert res["nullbad"]["n_violations"] == 1
    assert "(global)" not in res
    assert_summary_matches_manifest(df, rules, res)


def test_corrupt_manifest_fails_loud(spark, tmp_path):
    """Only a missing manifest path means "first run": an unreadable
    manifest must raise, not silently re-validate every partition."""
    from pyspark.errors import AnalysisException
    from py4j.protocol import Py4JJavaError

    path = tmp_path / "manifest_corrupt"
    path.mkdir()
    (path / "part-0.parquet").write_bytes(b"not a parquet file")
    v = ResumableValidator(
        ValidationEngine(subject_col="doc_id"),
        ParquetManifestStore(spark, str(path)),
        partition_col="source",
    )
    with pytest.raises((Py4JJavaError, AnalysisException)):
        v.run(synth.gen_sequences(spark, 20), RULES, snapshot_id="s1")


def test_pyfiles_zip_imports_standalone(tmp_path):
    """The spark-submit --py-files artifact must be importable via
    zipimport with NO repo checkout on the path — exactly how executors
    load it. Builds the zip with the real packaging tool, then imports
    the package and compiles a rule spec from inside the zip in a clean
    subprocess."""
    import subprocess
    import sys
    from pathlib import Path

    tool = Path(__file__).resolve().parent.parent / "tools" / "package_pyfiles.py"
    build = subprocess.run(
        [sys.executable, str(tool), str(tmp_path)],
        capture_output=True,
        text=True,
    )
    assert build.returncode == 0, build.stderr
    zip_path = tmp_path / "fs_schema_validator_spark.zip"
    assert zip_path.exists()
    probe = (
        "import sys\n"
        f"sys.path.insert(0, {str(zip_path)!r})\n"
        "from fs_schema_validator_spark.rules.loader import RuleSet\n"
        "import fs_schema_validator_spark as _pkg\n"
        # the package must resolve FROM THE ZIP, not a fallback path
        f"assert {str(zip_path)!r} in _pkg.__file__, _pkg.__file__\n"
        "rs = RuleSet.from_yaml('''\n"
        "schema:\n"
        "  - {type: not_empty, id: t, column: tokens}\n"
        "''')\n"
        "assert len(rs.rules) == 1, rs.rules\n"
        "print('ZIPIMPORT-OK')\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        cwd="/tmp",
        env={"PATH": "/usr/bin:/bin", "PYTHONPATH": ""},
    )
    assert run.returncode == 0, run.stderr
    assert "ZIPIMPORT-OK" in run.stdout
