"""End-to-end engine goldens on the sequences table (FIXTURES.md §1).

n=10 rows; `corrupt_sequences(every=10)` gives row i corruption mode i for
i in 0..6, rows 7-9 pristine; row 7 is then duplicated. Every corruption
mode maps to an exact golden violation list, byte-stable, ordered by
(subject, rule_seq) — the engine analog of the reference's exact-golden
violation tests (tests/test_schema.py:25-133)."""

from __future__ import annotations

import pytest

from fs_schema_validator_spark.compiler import plan
from fs_schema_validator_spark.engine import ValidationEngine
from fs_schema_validator_spark.rules.model import ArrayEqualityRule
from fs_schema_validator_spark.sources import synth

RULES = r"""
bindings:
  mode: strict
  max_len: "512"
schema:
  - type: column_spec
    id: doc_id_format
    column: doc_id
    spec: {type: str, regex: "^doc-\\d{{8}}$"}
  - type: column_spec
    id: tokens_spec
    column: tokens
    spec: {type: array, items: {type: int, min: 0}}
  - type: expr
    id: ntok_consistency
    assert: "n_tok = size(tokens)"
    reason: "concat('n_tok mismatch: declared ', n_tok, ' got ', size(tokens))"
    if: $mode == strict
  - type: not_empty
    id: tokens_not_empty
    column: tokens
  - type: column_spec
    id: ntok_bounds
    column: n_tok
    spec: {type: int, min: 1, max: "{$max_len}"}
  - type: unique
    id: doc_id_unique
    keys: [doc_id]
  - type: referential
    id: source_known
    column: source
    dim: dim_sources
    dim_key: source
  - type: completeness
    id: manifest_complete
    manifest: expected_manifest
    key: doc_id
  - type: token_range
    id: tokens_in_vocab
    column: tokens
    group_col: source
    dim: dim_sources
    dim_key: source
    vocab_col: vocab_size
  - type: array_equality
    id: tokens_match_reference
    column: tokens
    reference: reference_tokens
    key: doc_id
"""

GOLDEN = [
    ("DOC_5", "doc_id_format", "`doc_id`: String should match pattern '^doc-\\d{8}$'"),
    ("doc-00000000", "tokens_not_empty", "`tokens`: cannot be empty"),
    ("doc-00000000", "ntok_bounds", "`n_tok`: Input should be greater than or equal to 1"),
    ("doc-00000000", "tokens_match_reference", "token mismatch at index 0"),
    ("doc-00000001", "ntok_consistency", "n_tok mismatch: declared 3 got 2"),
    ("doc-00000002", "tokens_spec", "`tokens.0`: Input should be greater than or equal to 0"),
    ("doc-00000002", "tokens_in_vocab", "token out of range for code at index 0"),
    ("doc-00000002", "tokens_match_reference", "token mismatch at index 0"),
    ("doc-00000003", "tokens_spec", "`tokens`: Field required"),
    ("doc-00000003", "ntok_consistency", "assertion failed: ntok_consistency"),
    ("doc-00000003", "tokens_match_reference", "token mismatch at index 0"),
    ("doc-00000004", "source_known", "unknown source"),
    ("doc-00000005", "manifest_complete", "does not exist"),
    ("doc-00000006", "tokens_match_reference", "token mismatch at index 6"),
    ("doc-00000007", "doc_id_unique", "duplicate key"),
    ("doc-00000010", "manifest_complete", "does not exist"),
    ("doc-00000011", "manifest_complete", "does not exist"),
]


def golden_inputs(spark):
    """(sequences table, aux tables) whose violations under RULES are GOLDEN."""
    n = 10
    seq = synth.with_duplicates(
        synth.corrupt_sequences(synth.gen_sequences(spark, n), every=10),
        every=101,
    )
    tables = {
        "dim_sources": synth.gen_dim_sources(spark),
        "reference_tokens": synth.gen_reference_tokens(spark, n),
        "expected_manifest": synth.gen_expected_manifest(spark, n, extra=2),
    }
    return seq, tables


def _validate_golden_table(spark):
    seq, tables = golden_inputs(spark)
    return ValidationEngine(subject_col="doc_id").validate(seq, RULES, tables)


@pytest.fixture(scope="module")
def result(spark):
    return _validate_golden_table(spark)


def test_exact_violation_goldens(result):
    got = [
        (r.subject, r.rule_id, r.reason)
        for r in result.sorted_violations().collect()
    ]
    assert got == GOLDEN


def _plan_nodes(node):
    """A physical plan's nodes, top down; an adaptive plan is walked through
    its current plan (before execution, the initial one)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _output(node) -> set[str]:
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


def _refetch_plan(spark) -> tuple[list, int]:
    """The nodes of the golden table's equality re-fetch plan, planned after
    the mismatched-key set is counted, as validate() plans it, and the size
    in bytes the planner sees for that cached key set."""
    seq, tables = golden_inputs(spark)
    compiled = ValidationEngine(subject_col="doc_id").compile(seq, RULES, tables)
    rule = next(
        r for r in compiled.ruleset.table_rules if isinstance(r, ArrayEqualityRule)
    )
    try:
        qe = compiled._table_violations(rule)._jdf.queryExecution()
        (key_set_bytes,) = {
            int(n.stats().sizeInBytes())
            for n in _plan_nodes(qe.optimizedPlan())
            if n.nodeName() == "InMemoryRelation" and _output(n) == {"doc_id"}
        }
        return list(_plan_nodes(qe.executedPlan())), key_set_bytes
    finally:
        compiled.release()


def _keyset_filtered_columns(nodes) -> set[str]:
    """Array columns of the scans that a broadcast of the cached key set
    filters directly: no join or exchange between the scan and the filter."""
    cols = set()
    for join in nodes:
        if join.nodeName() != "BroadcastHashJoin":
            continue
        build, probe = join.right(), join.left()
        if str(join.buildSide()) != "BuildRight":
            build, probe = probe, build
        leaves = [n.nodeName() for n in _plan_nodes(build) if not n.children().size()]
        if leaves != ["InMemoryTableScan"] or _output(build) != {"doc_id"}:
            continue
        names = [n.nodeName() for n in _plan_nodes(probe)]
        assert not any("Exchange" in n or "Join" in n for n in names), names
        cols |= _output(probe) & {"tokens", "_ref_arr"}
    return cols


def _shuffled_joins(nodes) -> int:
    return sum(n.nodeName() in ("SortMergeJoin", "ShuffledHashJoin") for n in nodes)


@pytest.mark.parametrize("tier", ["broadcast", "keyset", "shuffle"])
def test_equality_refetch_tiers_reproduce_goldens(spark, tier):
    """The equality re-fetch is one plan without join hints; Spark chooses
    each join from the counted key set's size against
    spark.sql.autoBroadcastJoinThreshold. Each strategy it can reach
    diagnoses the same mismatches:
      - broadcast (default settings): the key set is broadcast into both
        array scans and the filtered sides join by broadcast, so nothing
        shuffles;
      - keyset (threshold at the key set's size): the key set is still
        broadcast into both array scans, but the filtered sides shuffle;
      - shuffle (threshold -1): every join shuffles."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(conf)
    try:
        if tier == "keyset":
            spark.conf.set(conf, str(_refetch_plan(spark)[1]))
        elif tier == "shuffle":
            spark.conf.set(conf, "-1")
        nodes, _ = _refetch_plan(spark)
        res = _validate_golden_table(spark)
        got = [
            (r.subject, r.rule_id, r.reason) for r in res.sorted_violations().collect()
        ]
        res.release()
    finally:
        spark.conf.set(conf, default)
    assert got == GOLDEN
    names = [n.nodeName() for n in nodes]
    if tier == "shuffle":
        assert "BroadcastHashJoin" not in names, names
        assert _shuffled_joins(nodes) == 3, names
        return
    assert _keyset_filtered_columns(nodes) == {"tokens", "_ref_arr"}
    assert _shuffled_joins(nodes) == (tier == "keyset"), names
    assert ("Exchange" in names) == (tier == "keyset"), names


def test_release_unpersists_everything_validation_persisted(spark):
    """ValidationResult.release() alone — without
    functions.cache.release_all() — leaves no RDD the validation
    persisted: the fused projection and the equality screen's
    mismatch-key set go when validate() has materialised the violation
    relation, and release() frees that relation (streaming micro-batches
    and resumed runs call only release())."""

    def persisted() -> int:
        return int(spark.sparkContext._jsc.getPersistentRDDs().size())

    before = persisted()
    res = _validate_golden_table(spark)
    res.sorted_violations().collect()
    # validate() already released the plan's own caches: only the
    # materialised violation relation remains
    assert persisted() == before + 1
    res.release()
    assert persisted() == before


def test_failed_validate_leaves_nothing_persisted(spark, monkeypatch):
    """validate() materialises eagerly, so a rule failing at run time
    raises there — and neither the plan's caches nor the half-built
    violation relation stay persisted (no result exists to release them)."""
    built = []
    violations = plan.CompiledPlan.violations

    def spy(compiled):
        built.append(violations(compiled))
        return built[-1]

    monkeypatch.setattr(plan.CompiledPlan, "violations", spy)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    rules = """
schema:
  - {type: expr, id: boom, assert: "raise_error('boom') IS NULL", reason: "'x'"}
"""
    with pytest.raises(Exception, match="boom"):
        ValidationEngine(subject_col="doc_id").validate(
            synth.gen_sequences(spark, 10), rules
        )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    level = built[0].storageLevel
    assert not (level.useMemory or level.useDisk)


@pytest.mark.parametrize(
    "dtype, bad, ref, idx",
    [
        ("bigint", [2**53, None], [2**53 + 1, None], 0),
        ("double", [1.0, float("nan")], [1.0, None], 1),
    ],
    ids=["bigint", "double"],
)
def test_array_equality_compares_elements_exactly(spark, dtype, bad, ref, idx):
    """Elements compare in their own type and null-safely: 2^53 differs
    from 2^53 + 1 in an array that also holds a null, and NaN differs from
    a null element. (A float64 read of nullable integer arrays, with null
    as NaN, reported both rows equal.)"""
    t = float if dtype == "double" else int
    schema = f"doc_id string, tokens array<{dtype}>"
    df = spark.createDataFrame(
        [("a", bad), ("b", [t(1), t(2)]), ("c", [t(3)])], schema
    )
    reference = spark.createDataFrame(
        [("a", ref), ("b", [t(1), t(3)]), ("c", [t(3)])], schema
    )
    rules = """
schema:
  - type: array_equality
    id: tokens_match
    column: tokens
    reference: reference_tokens
    key: doc_id
"""
    res = ValidationEngine(subject_col="doc_id").validate(
        df, rules, {"reference_tokens": reference}
    )
    got = [(r.subject, r.rule_id, r.reason) for r in res.sorted_violations().collect()]
    res.release()
    assert got == [
        ("a", "tokens_match", f"token mismatch at index {idx}"),
        ("b", "tokens_match", "token mismatch at index 1"),
    ]


def test_verdict(result):
    assert result.okay() is False
    assert result.exit_code() == 1


def test_ok_subjects(result):
    ok = [r.subject for r in result.ok_subjects().collect()]
    assert ok == ["doc-00000008", "doc-00000009"]


def test_grouped_by_subject(result):
    grouped = {r.subject: r.reasons for r in result.grouped_by_subject().collect()}
    assert grouped["doc-00000002"] == [
        "`tokens.0`: Input should be greater than or equal to 0",
        "token out of range for code at index 0",
        "token mismatch at index 0",
    ]


def test_null_unique_key_is_reported_as_null_on_every_surface(spark, tmp_path):
    """Two rows with a null `doc_id` are a duplicate key. It is reported
    under '<null>', not '' (concat_ws skips a null key), so the null
    subject is not listed as valid, and the violation counts under the
    minimum group of its rows, in the summary and in the checkpoint
    manifest alike."""
    from fs_schema_validator_spark.streaming.checkpoint import (
        ParquetManifestStore,
        ResumableValidator,
    )

    df = spark.createDataFrame(
        [("a", "cc"), (None, "cc"), (None, "wiki"), ("b", "wiki")],
        "doc_id string, source string",
    )
    rules = "schema: [{type: unique, id: doc_id_unique, keys: [doc_id]}]"
    engine = ValidationEngine(subject_col="doc_id")
    res = engine.validate(df, rules)
    rows = [
        (r.subject, r.rule_id, r.reason) for r in res.sorted_violations().collect()
    ]
    assert rows == [("<null>", "doc_id_unique", "duplicate key")]
    assert [r.subject for r in res.ok_subjects().collect()] == ["a", "b"]
    summary = [tuple(r) for r in res.summary("source").collect()]
    assert summary == [("cc", 2, 1, 1, "FAIL"), ("wiki", 2, 0, 0, "PASS")]
    res.release()

    store = ParquetManifestStore(spark, str(tmp_path / "manifest"))
    run = ResumableValidator(engine, store, partition_col="source").run(df, rules)
    assert {p: s["n_violations"] for p, s in run.items()} == {"cc": 1, "wiki": 0}


def test_pristine_table_passes(spark):
    n = 16
    seq = synth.gen_sequences(spark, n)
    tables = {
        "dim_sources": synth.gen_dim_sources(spark),
        "reference_tokens": synth.gen_reference_tokens(spark, n),
        "expected_manifest": synth.gen_expected_manifest(spark, n),
    }
    res = ValidationEngine(subject_col="doc_id").validate(seq, RULES, tables)
    assert res.okay() is True
    assert res.exit_code() == 0
    # a clean table under the completeness and array_equality rules still
    # latches the full scan's metrics (cmd_validate --verbose reads them)
    assert res.scan_metrics() == {"rows_scanned": 16, "rows_with_row_violations": 0}


def test_surfaces_read_no_aux_table_after_validate(spark, tmp_path):
    """validate() materialises the violation relation once; every surface
    derives from it, so none re-runs a table rule — deleting the aux
    tables' files after validate() must not break any of them, and
    okay() runs no Spark job at all."""
    import shutil

    n = 10
    seq = synth.with_duplicates(
        synth.corrupt_sequences(synth.gen_sequences(spark, n), every=10),
        every=101,
    )
    aux = {
        "dim_sources": synth.gen_dim_sources(spark),
        "reference_tokens": synth.gen_reference_tokens(spark, n),
        "expected_manifest": synth.gen_expected_manifest(spark, n, extra=2),
    }
    tables = {}
    for name, df in aux.items():
        df.write.parquet(str(tmp_path / name))
        tables[name] = spark.read.parquet(str(tmp_path / name))
    res = ValidationEngine(subject_col="doc_id").validate(seq, RULES, tables)
    for name in aux:
        shutil.rmtree(tmp_path / name)

    sc = spark.sparkContext
    sc.setJobGroup("okay-after-validate", "okay() reads the latched count")
    try:
        assert res.okay() is False
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("okay-after-validate")) == 0
    got = [(r.subject, r.rule_id, r.reason) for r in res.sorted_violations().collect()]
    assert got == GOLDEN
    assert len(res.grouped_by_subject().collect()) == 11
    assert sum(r["violations"] for r in res.summary("source").collect()) == 17
    res.release()


@pytest.mark.parametrize(
    "metric, stat",
    [("psi", "PSI 3.1630"), ("ks", "KS 0.2500")],
    ids=["psi", "ks"],
)
def test_drift_flags_only_shifted_source(spark, metric, stat):
    """Only the shifted source drifts, with the exact reason: PSI is
    rendered unrounded, KS D is rounded to 4 digits first."""
    from pyspark.sql import functions as F

    n = 4096
    seq = synth.gen_sequences(spark, n).withColumn(
        "n_tok",
        F.when(
            F.col("source") == "code",
            F.least(F.col("n_tok") + 128, F.lit(512)),
        ).otherwise(F.col("n_tok")),
    )
    rules = f"""
schema:
  - type: drift_psi
    id: ntok_drift
    column: n_tok
    group_col: source
    ref: ref_distribution
    metric: {metric}
    buckets: 16
    lo: 0
    hi: 512
    threshold: 0.2
"""
    res = ValidationEngine(subject_col="doc_id").validate(
        seq, rules, {"ref_distribution": synth.gen_ref_distribution(spark)}
    )
    rows = [(r.subject, r.rule_id, r.reason) for r in res.violations.collect()]
    assert rows == [("code", "ntok_drift", f"distribution drift: {stat} > 0.2")]


@pytest.mark.parametrize(
    "metric, stats",
    [
        ("psi", {"<null>": "PSI 15.1899", "data_only": "PSI 12.4292", "ref_only": "PSI 11.0427"}),
        ("ks", {"<null>": "KS 0.7500", "data_only": "KS 1.0000", "ref_only": "KS 1.0000"}),
    ],
    ids=["psi", "ks"],
)
def test_drift_groups_on_one_side_only(spark, metric, stats):
    """The cells are the full outer join of the histogram and the
    reference: a group only in the reference is compared against an
    all-zero histogram, and a group only in the data against an all-zero
    reference. A null group is the group '<null>' on both sides, so the
    data's null-group rows (1/8 in each even bucket) meet the reference's
    (1/4 in buckets 0-3): KS 0.75 at bucket 3, PSI from all 10 cells. A
    group in both with the reference's exact shape passes."""
    rows = [(i, "both", (i % 16) * 32 + 1) for i in range(160)]
    rows += [(200 + i, "data_only", (i % 4) * 32 + 1) for i in range(40)]
    rows += [(300 + i, None, (i % 8) * 64 + 1) for i in range(40)]
    data = spark.createDataFrame(rows, "doc_id bigint, source string, n_tok int")
    ref = spark.createDataFrame(
        [(g, b, 1 / 16) for g in ("both", "ref_only") for b in range(16)]
        + [(None, b, 1 / 4) for b in range(4)],
        "source string, bucket int, p double",
    )
    rules = f"""
schema:
  - type: drift_psi
    id: ntok_drift
    column: n_tok
    group_col: source
    ref: ref_distribution
    metric: {metric}
    buckets: 16
    lo: 0
    hi: 512
    threshold: 0.2
"""
    res = ValidationEngine(subject_col="doc_id").validate(
        data, rules, {"ref_distribution": ref}
    )
    got = {r.subject: r.reason for r in res.violations.collect()}
    res.release()
    assert got == {
        g: f"distribution drift: {stat} > 0.2" for g, stat in stats.items()
    }


@pytest.mark.parametrize("metric", ["psi", "ks"])
def test_drift_ignores_null_values(spark, metric):
    """Nulls are not distribution mass: 160 uniform values plus 160 nulls
    match a uniform reference exactly (nulls counted in bucket 0 would
    read as drift)."""
    rows = [(i, "g", (i % 16) * 32 + 1) for i in range(160)]
    rows += [(1000 + i, "g", None) for i in range(160)]
    seq = spark.createDataFrame(rows, "doc_id bigint, source string, n_tok int")
    ref = spark.createDataFrame(
        [("g", b, 1 / 16) for b in range(16)], "source string, bucket int, p double"
    )
    rules = f"""
schema:
  - type: drift_psi
    id: ntok_drift
    column: n_tok
    group_col: source
    ref: ref_distribution
    metric: {metric}
    buckets: 16
    lo: 0
    hi: 512
    threshold: 0.2
"""
    res = ValidationEngine(subject_col="doc_id").validate(
        seq, rules, {"ref_distribution": ref}
    )
    assert res.violations.collect() == []


def test_drift_over_the_collect_cap_fails_loud(spark, monkeypatch):
    """Drift finishes on the driver, so a histogram too large to collect
    raises RuleSetError (and leaves nothing persisted) instead of
    exhausting the driver's memory."""
    from fs_schema_validator_spark.functions import sketches
    from fs_schema_validator_spark.rules.loader import RuleSetError

    monkeypatch.setattr(sketches, "_DRIFT_MAX_CELLS", 8)
    seq = synth.gen_sequences(spark, 64)
    rules = """
schema:
  - type: drift_psi
    id: ntok_drift
    column: n_tok
    group_col: source
    ref: ref_distribution
    buckets: 16
    lo: 0
    hi: 512
"""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuleSetError, match="more than 8"):
        ValidationEngine(subject_col="doc_id").validate(
            seq, rules, {"ref_distribution": synth.gen_ref_distribution(spark)}
        )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_empty_input_passes_all_rules(spark):
    from fs_schema_validator_spark.sources import synth

    seq = synth.gen_sequences(spark, 10).limit(0)
    rules = """
schema:
  - {type: not_empty, column: tokens}
  - {type: unique, keys: [doc_id]}
  - type: referential
    id: source_known
    column: source
    dim: dim_sources
    dim_key: source
"""
    res = ValidationEngine(subject_col="doc_id").validate(
        seq, rules, {"dim_sources": synth.gen_dim_sources(spark)}
    )
    assert res.violations.count() == 0
    assert res.okay() and res.exit_code() == 0


def test_all_null_column_splits_required_vs_empty(spark):
    """Null vs empty are DIFFERENT violations, as in the reference: a
    missing file is 'does not exist' (existence) while a zero-byte file is
    'cannot be empty' (/root/reference/fs_schema_validator/schemas/
    file.py:19-29). Here: null -> column_spec required ('Field required'),
    [] -> not_empty; not_empty alone ignores nulls."""
    from pyspark.sql import functions as F

    from fs_schema_validator_spark.sources import synth

    seq = synth.gen_sequences(spark, 20).withColumn(
        "tokens",
        F.when(F.col("doc_id").endswith("0"), F.array().cast("array<int>"))
        .when(F.col("doc_id").endswith("1"), F.lit(None).cast("array<int>")),
    )
    rules = """
schema:
  - {type: not_empty, column: tokens}
  - type: column_spec
    id: tokens_required
    column: tokens
    spec: {type: array, items: {type: int}}
"""
    res = ValidationEngine(subject_col="doc_id").validate(seq, rules)
    by_rule: dict[str, int] = {}
    for r in res.violations.collect():
        by_rule[r.rule_id] = by_rule.get(r.rule_id, 0) + 1
    # ids doc-00000000..19: 2 end in '0', 2 end in '1'
    assert by_rule["r000.not_empty"] == 2        # only the [] rows
    assert by_rule["tokens_required"] >= 2       # the null rows
    assert not res.okay() and res.exit_code() == 1


def test_scan_metrics_observed_without_second_pass(spark):
    from fs_schema_validator_spark.sources import synth

    seq = synth.corrupt_sequences(synth.gen_sequences(spark, 100), every=50)
    rules = """
schema:
  - {type: not_empty, column: tokens}
  - type: expr
    id: ntok_consistency
    assert: "n_tok = size(tokens)"
    reason: "'mismatch'"
"""
    res = ValidationEngine(subject_col="doc_id").validate(seq, rules)
    res.violations.count()  # materializes the fused pass
    m = res.scan_metrics()
    assert m["rows_scanned"] == 100
    # rows violating ANY row rule; corruption modes 0/1/3 of the every=50
    # cycle trip these rules -> 2 rows each... mode cycle: i%50 in {0,1,3}
    distinct_bad = (
        res.violations.select("subject").distinct().count()
    )
    assert m["rows_with_row_violations"] == distinct_bad > 0


def test_not_empty_and_json_spec_on_missing_column_are_violations(spark):
    """A typo'd column must emit 'does not exist' per subject, not crash
    the run (reference: missing-file reason, report.py:24-25)."""
    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    rules = """
schema:
  - {type: not_empty, column: typo_col}
  - type: json_spec
    column: also_missing
    spec: {type: object, attrs: {k: {type: int}}}
"""
    res = ValidationEngine(subject_col="doc_id").validate(df, rules)
    reasons = sorted(r.reason for r in res.violations.collect())
    assert reasons == [
        "`also_missing`: does not exist",
        "`typo_col`: does not exist",
    ]


def test_reserved_subject_column_collision_fails_loud(spark):
    """A data column literally named 'subject' (that is not the subject
    key) would be silently shadowed by the engine's output alias — the
    compiler rejects it instead."""
    from fs_schema_validator_spark.rules.loader import RuleSetError

    df = spark.createDataFrame(
        [(1, "a")], "doc_id bigint, subject string"
    )
    with pytest.raises(RuleSetError, match="reserved"):
        ValidationEngine(subject_col="doc_id").validate(
            df, "schema: [{type: not_empty, column: doc_id}]"
        )


def test_token_range_dim_with_duplicate_keys_does_not_multiply_rows(spark):
    """A versioned dim (two rows per key) must not duplicate fused rows —
    the max vocab wins and every other rule's counts stay exact."""
    df = spark.createDataFrame(
        [("d1", [1, 5], "en"), ("d2", [99], "en")],
        "doc_id string, tokens array<int>, source string",
    )
    dim = spark.createDataFrame(
        [("en", 10), ("en", 50)], "source string, vocab_size int"
    )
    rules = """
schema:
  - type: token_range
    id: vocab_check
    column: tokens
    group_col: source
    dim: dim
    dim_key: source
    vocab_col: vocab_size
  - {type: unique, id: uniq, keys: [doc_id]}
"""
    res = ValidationEngine(subject_col="doc_id").validate(df, rules, {"dim": dim})
    rows = res.violations.collect()
    # max vocab (50) wins: token 99 violates once; NO phantom duplicate-key
    # violations from join multiplication
    assert [(r.subject, r.rule_id) for r in rows] == [("d2", "vocab_check")]


REFERENTIAL_RULES = """
schema:
  - type: referential
    id: source_known
    column: source
    dim: dim
    dim_key: source
  - {type: unique, id: uniq, keys: [doc_id]}
"""


def _referential(spark, rows, schema):
    dim = spark.createDataFrame(
        [("en", 10), ("en", 50), ("de", 10)], "source string, vocab_size int"
    )
    df = spark.createDataFrame(rows, schema)
    res = ValidationEngine(subject_col="doc_id").validate(
        df, REFERENTIAL_RULES, {"dim": dim}
    )
    got = sorted(
        (r.subject, r.rule_id, r.reason) for r in res.violations.collect()
    )
    res.release()
    return got


def test_referential_dim_with_duplicate_keys_does_not_multiply_rows(spark):
    """A dim with two rows for one key must not duplicate rows: a known
    key passes once and every other rule's counts stay exact."""
    got = _referential(
        spark,
        [("d1", "en"), ("d2", "en"), ("d3", "xx")],
        "doc_id string, source string",
    )
    assert got == [("d3", "source_known", "unknown source")]


def test_referential_null_key_is_unknown(spark):
    """A null key matches no dim key, so it fails the rule."""
    got = _referential(
        spark, [("d1", "en"), ("d2", None)], "doc_id string, source string"
    )
    assert got == [("d2", "source_known", "unknown source")]


def test_referential_on_missing_column_is_a_violation(spark):
    """A referential column absent from the table fails every subject
    with 'does not exist', as the row rules do; it is neither a crash nor
    a silent pass."""
    got = _referential(spark, [("d1", 1), ("d2", 2)], "doc_id string, n int")
    assert got == [
        ("d1", "source_known", "`source`: does not exist"),
        ("d2", "source_known", "`source`: does not exist"),
    ]


@pytest.mark.parametrize(
    "rule",
    [
        "{type: unique, id: r, keys: [doc_id, no_such_col]}",
        "{type: token_range, id: r, column: no_such_col, group_col: source, "
        "dim: dim, dim_key: source, vocab_col: vocab_size}",
        "{type: array_equality, id: r, column: tokens, reference: dim, "
        "key: no_such_col, ref_column: tokens}",
        "{type: drift_psi, id: r, column: n_tok, group_col: no_such_col, ref: dim}",
        "{type: stats_threshold, id: r, column: no_such_col, group_col: source, "
        "assert: 'n > 0'}",
    ],
    ids=["unique", "token_range", "array_equality", "drift", "stats_threshold"],
)
def test_table_rule_on_missing_column_is_a_rule_set_error(spark, rule):
    """A table rule that cannot run without a column the input lacks is an
    invalid rule set: RuleSetError naming the rule and the column, raised
    while compiling, before any DataFrame is built over the input."""
    from fs_schema_validator_spark.rules.loader import RuleSetError

    df = spark.createDataFrame(
        [("d1", "en", 3, [1, 2, 3])],
        "doc_id string, source string, n_tok int, tokens array<int>",
    )
    with pytest.raises(RuleSetError, match=r"rule `r` \(seq 0\): column `no_such_col`"):
        ValidationEngine(subject_col="doc_id").compile(
            df, f"schema: [{rule}]", {"dim": df}
        )


def test_missing_subject_column_is_a_rule_set_error(spark):
    from fs_schema_validator_spark.rules.loader import RuleSetError

    df = spark.createDataFrame([("d1",)], "doc_id string")
    with pytest.raises(RuleSetError, match="subject column `id` does not exist"):
        ValidationEngine(subject_col="id").compile(
            df, "schema: [{type: not_empty, column: doc_id}]"
        )


def test_scan_metrics_with_row_only_ruleset_uses_the_observed_pass(spark):
    df = spark.createDataFrame(
        [(i, "x" if i % 2 else "") for i in range(10)],
        "doc_id bigint, text string",
    )
    res = ValidationEngine(subject_col="doc_id").validate(
        df, "schema: [{type: not_empty, column: text}]"
    )
    assert res.violations.count() == 5
    m = res.scan_metrics()
    assert m["rows_scanned"] == 10
    assert m["rows_with_row_violations"] == 5
