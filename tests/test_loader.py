"""Rule-set loading semantics: bindings, guards, expansion, overrides.

Pins the same compilation contract as the reference's schema tests
(/root/reference/tests/test_schema.py): `if:` gating both ways, Cartesian
expansion across fields, format-spec expansion, binding overrides winning,
and the escape hatch for literal braces."""

from __future__ import annotations

import re

import pytest

from fs_schema_validator_spark.evaluator import EnumVal, Str, UnboundSymbolError
from fs_schema_validator_spark.rules.loader import RuleSet, RuleSetError
from fs_schema_validator_spark.rules.model import ColumnSpecRule, NotEmptyRule
from fs_schema_validator_spark.rules import spec as S


def test_empty_schema():
    assert len(RuleSet.from_yaml("schema: []")) == 0


def test_if_gate_drops_rule():
    rs = RuleSet.from_yaml(
        """
bindings: {foo: bar}
schema:
  - {type: not_empty, column: tokens, if: $foo == foo}
"""
    )
    assert len(rs) == 0


def test_if_gate_keeps_rule_and_strips_key():
    rs = RuleSet.from_yaml(
        """
bindings: {foo: bar}
schema:
  - {type: not_empty, column: tokens, if: $foo == bar}
"""
    )
    assert rs.rules == [NotEmptyRule("r000.not_empty", 0, column="tokens")]


def test_enum_expansion_multiplies_rules_in_sorted_order():
    rs = RuleSet.from_yaml("schema: [{type: not_empty, column: '{n_tok|tokens|doc_id}'}]")
    assert [r.column for r in rs.rules] == ["doc_id", "n_tok", "tokens"]
    assert [r.seq for r in rs.rules] == [0, 1, 2]


def test_range_expansion_with_format_spec():
    rs = RuleSet.from_yaml("schema: [{type: not_empty, column: 'col_{0..2:02}'}]")
    assert [r.column for r in rs.rules] == ["col_00", "col_01", "col_02"]


def test_binding_expansion_and_override():
    yaml_text = """
bindings: {col: tokens}
schema:
  - {type: not_empty, column: "{$col}"}
"""
    assert RuleSet.from_yaml(yaml_text).rules[0].column == "tokens"
    # caller-supplied bindings win (CLI -b analog)
    rs = RuleSet.from_yaml(yaml_text, {"col": Str("n_tok")})
    assert rs.rules[0].column == "n_tok"
    # an enum override multiplies the rule
    rs = RuleSet.from_yaml(yaml_text, {"col": EnumVal({"a", "b"})})
    assert [r.column for r in rs.rules] == ["a", "b"]


def test_unbound_binding_is_a_hard_error_after_both_phases():
    # Schema-level expansion leaves unbound holes in for the rule-level
    # (inner_bindings) pass (reference: leave_unbound_vars_in=True at
    # __init__.py:135 then _expand_path at 94-103); a hole NEITHER phase
    # binds must not silently become literal text — a misspelled binding
    # inside a regex would validate garbage.
    with pytest.raises(RuleSetError, match=r"\$nope.*still unbound"):
        RuleSet.from_yaml("schema: [{type: not_empty, column: '{$nope}'}]")
    with pytest.raises(UnboundSymbolError):
        RuleSet.from_yaml("schema: [{type: not_empty, column: a, if: $nope == x}]")


def test_rule_level_inner_bindings_second_phase():
    """Two-phase expansion: `$fmt` is not a schema-level binding, so phase 1
    leaves it in; the rule's own inner_bindings resolve it (the engine
    analog of ImageSchema.inner_bindings(), schemas/image.py:33-36)."""
    rs = RuleSet.from_yaml(
        """
bindings: {col: source}
schema:
  - type: column_spec
    id: fmt_check
    column: "{$col}"
    inner_bindings: {fmt: "src"}
    spec: {type: str, regex: "^{$fmt}\\\\d{{3}}$"}
"""
    )
    rule = rs.rules[0]
    assert rule.column == "source"
    assert rule.spec.regex == r"^src\d{3}$"


def test_rule_own_fields_are_implicit_inner_bindings():
    """A rule's hole-free scalar fields bind implicitly: reason text can
    reference {$id} / {$column} without declaring anything."""
    rs = RuleSet.from_yaml(
        """
schema:
  - type: expr
    id: r1
    assert: "n_tok > 0"
    reason: "'assertion {$id} failed'"
  - type: column_spec
    id: r2
    column: "{$id}_col"
    spec: {type: str}
"""
    )
    assert rs.rules[0].reason_sql == "'assertion r1 failed'"
    assert rs.rules[1].column == "r2_col"


def test_inner_binding_must_be_single_variant():
    with pytest.raises(RuleSetError, match="exactly one variant"):
        RuleSet.from_yaml(
            """
schema:
  - type: not_empty
    inner_bindings: {col: [a, b]}
    column: "{$col}"
"""
        )


def test_nested_spec_expands_through_yaml_roundtrip():
    rs = RuleSet.from_yaml(
        """
bindings: {lo: "5"}
schema:
  - type: column_spec
    column: n_tok
    spec: {type: int, min: "{$lo}"}
"""
    )
    rule = rs.rules[0]
    assert isinstance(rule, ColumnSpecRule)
    assert rule.spec == S.IntSpec(min=5)


def test_nested_multi_variant_expansion_is_rejected():
    with pytest.raises(RuleSetError):
        RuleSet.from_yaml(
            """
schema:
  - type: column_spec
    column: n_tok
    spec: {type: int, min: "{1|2}"}
"""
        )


def test_escaped_braces_survive_into_regex():
    rs = RuleSet.from_yaml(
        r"""
schema:
  - type: column_spec
    column: doc_id
    spec: {type: str, regex: "^doc-\\d{{8}}$"}
"""
    )
    assert rs.rules[0].spec == S.StrSpec(regex=r"^doc-\d{8}$")


def test_rule_ids_default_and_override():
    rs = RuleSet.from_yaml(
        """
schema:
  - {type: not_empty, column: a}
  - {type: not_empty, column: b, id: my_rule}
"""
    )
    assert [r.rule_id for r in rs.rules] == ["r000.not_empty", "my_rule"]


def test_row_vs_table_rule_split():
    rs = RuleSet.from_yaml(
        """
schema:
  - {type: not_empty, column: a}
  - {type: unique, keys: [doc_id]}
  - {type: expr, assert: "1=1"}
"""
    )
    assert len(rs.row_rules) == 2
    assert len(rs.table_rules) == 1


def test_missing_schema_key_rejected():
    with pytest.raises(RuleSetError):
        RuleSet.from_yaml("bindings: {}")


def test_bad_binding_type_rejected():
    with pytest.raises(RuleSetError):
        RuleSet.from_yaml("bindings: {x: 3.5}\nschema: []")


def test_example_rule_specs_run_end_to_end(spark):
    from pathlib import Path

    from fs_schema_validator_spark.engine import ValidationEngine
    from fs_schema_validator_spark.sources import synth

    root = Path(__file__).resolve().parent.parent / "examples"
    seq = synth.corrupt_sequences(synth.gen_sequences(spark, 200), every=50)
    tables = {
        "dim_sources": synth.gen_dim_sources(spark),
        "ref_distribution": synth.gen_ref_distribution(spark),
    }
    for name in ("simple-rules.yaml", "complex-rules.yaml"):
        res = ValidationEngine(subject_col="doc_id").validate(
            seq, (root / name).read_text(), tables
        )
        rows = res.violations.collect()
        assert rows, f"{name}: expected violations on corrupted input"
        assert not res.okay()


def test_escaped_braces_survive_both_phases():
    """{{...}} escapes render literal {$x} text; phase 2 must NOT re-parse
    it as a hole (phase 1's unbound-hole collector is the source of
    truth), so escaped placeholder text loads verbatim."""
    rs = RuleSet.from_yaml(
        """
schema:
  - type: expr
    id: r1
    assert: "n_tok > 0"
    reason: "'use {{$idx}} placeholders'"
"""
    )
    assert rs.rules[0].reason_sql == "'use {$idx} placeholders'"


def test_hole_injected_via_binding_value_is_still_resolved_or_rejected():
    """Hole text arriving through a bound binding VALUE (not the raw
    field) must still go through phase 2: resolved if a rule-level
    binding exists, hard error if not — never silent literal text."""
    ok = RuleSet.from_yaml(
        """
bindings: {tpl: "assertion {$id} failed"}
schema:
  - type: expr
    id: r9
    assert: "1=1"
    reason: "'{$tpl}'"
"""
    )
    assert ok.rules[0].reason_sql == "'assertion r9 failed'"
    with pytest.raises(RuleSetError, match=r"\$nmae.*still unbound"):
        RuleSet.from_yaml(
            """
bindings: {tpl: "bad {$nmae}"}
schema:
  - type: expr
    id: r9
    assert: "1=1"
    reason: "'{$tpl}'"
"""
        )


def test_hyphenated_unbound_binding_is_rejected():
    """The phase-2 hole grammar mirrors the evaluator's symbol grammar
    (hyphens allowed), so {$my-var} cannot ship as literal text."""
    with pytest.raises(RuleSetError, match=r"my-var.*still unbound"):
        RuleSet.from_yaml("schema: [{type: not_empty, column: '{$my-var}'}]")


@pytest.mark.parametrize("field", ["buckets", "lo", "hi", "threshold"])
def test_non_numeric_rule_knob_is_a_rule_set_error(field):
    """A numeric rule knob that is not a number is an invalid rule spec
    naming the rule's seq, the field and the value, as a non-numeric `min`
    in a column spec is, not a bare ValueError."""
    spec = f"""
schema:
  - {{type: not_empty, column: a}}
  - {{type: drift_psi, column: n_tok, group_col: source, ref: h, {field}: many}}
"""
    with pytest.raises(
        RuleSetError, match=rf"\(seq 1\): cannot coerce `{field}`='many' to a number"
    ):
        RuleSet.from_yaml(spec)
    with pytest.raises(RuleSetError, match=r"cannot coerce `min`='abc'"):
        RuleSet.from_yaml(
            "schema: [{type: column_spec, column: a, spec: {type: int, min: abc}}]"
        )


# one typed example per rule kind and per spec class; the string twin of
# each is what template expansion leaves of it
RULE_EXAMPLES = {
    "column_spec": {"column": "n_tok", "spec": {"type": "int", "min": 1, "max": 512}},
    "row_spec": {
        "spec": {"type": "object", "attrs": {"n_tok": {"type": "int", "multiple_of": 2}}}
    },
    "json_spec": {"column": "doc", "spec": {"type": "float", "exclusive_max": 2.5}},
    "expr": {"id": "e", "assert": "n_tok > 0", "reason": "'bad n_tok'"},
    "not_empty": {"column": "tokens", "allow_empty": True},
    "unique": {"keys": ["doc_id", "source"]},
    "referential": {"column": "source", "dim": "dims", "dim_key": "source"},
    "completeness": {"manifest": "expected", "key": "doc_id"},
    "token_range": {
        "column": "tokens",
        "group_col": "source",
        "dim": "dims",
        "dim_key": "source",
        "vocab_col": "vocab_size",
    },
    "array_equality": {"column": "tokens", "reference": "ref_tokens", "key": "doc_id"},
    "drift_psi": {
        "column": "n_tok",
        "group_col": "source",
        "ref": "hist",
        "buckets": 8,
        "lo": 0.5,
        "hi": 512.0,
        "threshold": 0.1,
        "metric": "ks",
    },
    "stats_threshold": {"column": "n_tok", "group_col": "source", "assert": "avg > 1"},
}

SPEC_EXAMPLES = [
    {"type": "bool", "nullable": True},
    {"type": "int", "min": -3, "exclusive_max": 9, "multiple_of": 3},
    {"type": "float", "min": 0.5, "exclusive_min": 0, "max": 2},
    {"type": "str", "min_length": 1, "max_length": 8, "regex": "^a+$"},
    {"type": "array", "items": {"type": "int", "max": 7}, "min_items": 1, "max_items": 4},
    {"type": "fixed_array", "items": [{"type": "int", "min": 0}, {"type": "str"}]},
    {"type": "object", "attrs": {"a": {"type": "bool"}, "b": {"type": "float", "max": 1}}},
    {"type": "dict", "keys": {"type": "str", "max_length": 3}, "values": {"type": "int"}},
    {"type": "enum", "variants": [{"type": "int", "max": 2}, {"type": "literal", "value": "x"}]},
    # a literal admits a string, so its value is never re-typed
    {"type": "literal", "value": "7", "nullable": False},
]


def _as_strings(value):
    """`value` with every scalar leaf rendered as a string, as binding
    interpolation renders an expanded field."""
    if isinstance(value, dict):
        return {k: v if k == "type" else _as_strings(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_as_strings(v) for v in value]
    return str(value)


def test_every_rule_kind_decodes_from_expanded_strings():
    import yaml

    from fs_schema_validator_spark.rules.loader import _RULE_KINDS

    assert RULE_EXAMPLES.keys() == _RULE_KINDS.keys()
    typed = [{"type": kind, **fields} for kind, fields in RULE_EXAMPLES.items()]
    want = RuleSet.from_yaml(yaml.safe_dump({"schema": typed})).rules
    got = RuleSet.from_yaml(yaml.safe_dump({"schema": _as_strings(typed)})).rules
    assert [type(r) for r in want] == list(_RULE_KINDS.values())
    assert got == want


def test_every_spec_kind_decodes_from_expanded_strings():
    want = [S.parse_spec(raw) for raw in SPEC_EXAMPLES]
    assert {type(s) for s in want} == set(S._KIND_ALIASES.values())
    assert [S.parse_spec(_as_strings(raw)) for raw in SPEC_EXAMPLES] == want


@pytest.mark.parametrize(
    "knobs, error",
    [
        ("metric: KS", "metric must be psi or ks, got 'KS'"),
        ("metric: kss", "metric must be psi or ks, got 'kss'"),
        ("buckets: 0", "buckets must be >= 1, got 0"),
        ("lo: 5, hi: 5", "needs lo < hi, got lo=5 hi=5"),
        ("lo: 512, hi: 0", "needs lo < hi, got lo=512 hi=0"),
    ],
)
def test_bad_drift_config_is_a_rule_set_error(knobs, error):
    """A drift knob outside its domain fails the load; it must not compute
    PSI for an unknown metric, divide by zero or mirror the buckets."""
    with pytest.raises(RuleSetError, match=rf"\(seq 0\): drift {re.escape(error)}"):
        RuleSet.from_yaml(
            "schema: [{type: drift_psi, column: n_tok, group_col: source, "
            f"ref: h, {knobs}}}]"
        )


@pytest.mark.parametrize(
    "rule, error",
    [
        (
            "{type: drift_psi, column: n_tok, group_col: source, ref: h, buckets: 2.5}",
            "`buckets` must be int, got 2.5",
        ),
        (
            "{type: drift_psi, column: n_tok, group_col: source, ref: h, buckets: true}",
            "`buckets` must be int, got True",
        ),
        (
            "{type: drift_psi, column: n_tok, group_col: source, ref: h, lo: [0]}",
            "`lo` must be float, got [0]",
        ),
        ("{type: not_empty, column: 5}", "`column` must be str, got 5"),
        ("{type: not_empty, column: a, allow_empty: 0.0}", "`allow_empty` must be bool"),
        ("{type: not_empty, column: null}", "`column` must be str, got None"),
        ("{type: unique, keys: [doc_id, 3]}", "`keys` must be str, got 3"),
        ("{type: column_spec, column: a, spec: {type: int, min: [1]}}", "`min` must be int"),
        ("{type: column_spec, column: a, spec: {type: int, max: 1.5}}", "`max` must be int"),
        ("{type: column_spec, column: a, spec: {type: str, nullable: 1}}", "`nullable` must be bool"),
        ("{type: column_spec, column: a, spec: {type: literal, value: false}}", "`value` must be"),
    ],
)
def test_wrong_typed_rule_value_is_a_rule_set_error(rule, error):
    """A YAML value that is not a string must already be of its field's
    type; it must not reach the compiler as, say, 2.5 buckets."""
    with pytest.raises(RuleSetError, match=re.escape(error)):
        RuleSet.from_yaml(f"schema: [{rule}]")


def test_field_types_admit_ints_for_floats_and_null_for_optionals():
    rs = RuleSet.from_yaml(
        "schema: [{type: drift_psi, column: n_tok, group_col: source, ref: h, "
        "lo: 0, hi: 512, threshold: 1},"
        " {type: column_spec, column: a, spec: {type: float, min: 1, max: 2.5}},"
        " {type: column_spec, column: b, spec: {type: int, min: null, max: 9}}]"
    )
    drift, fspec, ispec = rs.rules
    assert (drift.lo, drift.hi, drift.threshold) == (0, 512, 1)
    assert (fspec.spec.min, fspec.spec.max) == (1, 2.5)
    assert (ispec.spec.min, ispec.spec.max) == (None, 9)


def test_unique_without_keys_is_a_rule_set_error():
    """An empty key list has no duplicates to find; it must not report one
    `duplicate key` violation with an empty subject."""
    with pytest.raises(RuleSetError, match="unique requires at least one key"):
        RuleSet.from_yaml("schema: [{type: unique, keys: []}]")


def test_expr_without_reason_keeps_no_sql_reason():
    """The static fallback reason is built by the compiler, not rendered
    into SQL text, so a rule id with a quote cannot break the reason."""
    rule = RuleSet.from_yaml(
        """schema: [{type: expr, id: "it's", assert: "n_tok > 0"}]"""
    ).rules[0]
    assert rule.reason_sql is None


def test_expr_rule_id_with_a_quote_validates(spark):
    from fs_schema_validator_spark.engine import ValidationEngine

    df = spark.createDataFrame([("a", 0), ("b", 1)], "doc_id string, n_tok int")
    res = ValidationEngine(subject_col="doc_id").validate(
        df, """schema: [{type: expr, id: "it's", assert: "n_tok > 0"}]"""
    )
    rows = [(r.subject, r.rule_id, r.reason) for r in res.violations.collect()]
    res.release()
    assert rows == [("a", "it's", "assertion failed: it's")]


@pytest.mark.parametrize(
    "rule, error",
    [
        (
            "{type: drift_psi, column: n_tok, group_col: source, ref: h, metric: KS}",
            "invalid `drift_psi` rule (seq 0): drift metric must be psi or ks, got 'KS'",
        ),
        (
            "{type: unique, keys: []}",
            "invalid `unique` rule (seq 0): unique requires at least one key column",
        ),
        (
            "{type: drift_psi, column: n_tok, group_col: source, ref: h, buckets: 2.5}",
            "invalid `drift_psi` rule (seq 0): `buckets` must be int, got 2.5",
        ),
        (
            "{type: not_empty, column: a, if: $nope == x}",
            "no value provided for binding `nope`",
        ),
        ("[", "while parsing a flow sequence"),
    ],
)
def test_cli_rejects_a_bad_rule_before_reading_the_table(tmp_path, capsys, rule, error):
    """An invalid rule spec is exit 127 with its message, found before
    Spark starts: the table (here absent, which would be exit 2) is never
    read."""
    from fs_schema_validator_spark.plans.cli import main

    rules = tmp_path / "rules.yaml"
    rules.write_text(f"schema: [{rule}]")
    table = str(tmp_path / "no_such_table")
    assert main(["validate", "--rules", str(rules), "--table", table]) == 127
    assert capsys.readouterr().err.splitlines()[:2] == [
        "❗️ The provided schema is invalid!",
        error,
    ]


def test_non_boolean_rule_knob_is_a_rule_set_error():
    """An expanded bool knob must read as a boolean: "maybe" is not False."""
    rs = RuleSet.from_yaml(
        "schema: [{type: not_empty, column: a, allow_empty: 'yes'}]"
    )
    assert rs.rules[0].allow_empty is True
    with pytest.raises(
        RuleSetError, match=r"cannot coerce `allow_empty`='maybe' to a boolean"
    ):
        RuleSet.from_yaml(
            "schema: [{type: not_empty, column: a, allow_empty: 'maybe'}]"
        )


@pytest.mark.parametrize("key", ["foo", "seq", "rule_id", "assert_sql", "reason_sql"])
def test_unknown_rule_key_is_a_rule_set_error(key):
    """A key that names no YAML field of the rule fails the load, also
    where it names a rule field set by the loader or renamed from YAML."""
    with pytest.raises(RuleSetError, match=rf"unknown keys \['{key}'\]"):
        RuleSet.from_yaml(f"schema: [{{type: expr, assert: '1=1', {key}: x}}]")
