"""The reference's JSON-document corpus, pinned on VARIANT validation.

Same rich fixture spec and the same (mutation → expected reason) table as
/root/reference/tests/test_json.py:155-302 — including every strict-typing
case ("1" is not an int, 1 is not a bool, 2 is not 5.5) — evaluated over a
DataFrame with one JSON document per case, all in one Spark pass.
The reference asserts membership (`reason in errors`); here each document's
reasons are pinned exactly, so an extra or duplicated reason fails."""

from __future__ import annotations

import json

import pytest

from fs_schema_validator_spark.engine import ValidationEngine
from fs_schema_validator_spark.rules.loader import RuleSet
from fs_schema_validator_spark.rules.model import JsonSpecRule
from fs_schema_validator_spark.rules.spec import parse_spec

FIXTURE_SPEC = {
    "type": "object",
    "attrs": {
        "bool": {"type": "bool"},
        "int": {"type": "int", "min": 0, "max": 10, "multiple_of": 2},
        "int_exclusive": {"type": "int", "exclusive_min": 0, "exclusive_max": 10},
        "float": {"type": "float", "min": 0, "max": 10, "multiple_of": 2.0},
        "float_exclusive": {"type": "float", "exclusive_min": 0, "exclusive_max": 10},
        "str": {"type": "str", "min_length": 1, "max_length": 10, "regex": r"^#(\d+)$"},
        "array": {
            "type": "array",
            "min_items": 1,
            "max_items": 10,
            "items": {"type": "int"},
        },
        "tuple": {
            "type": "fixed_array",
            "items": [{"type": "int"}, {"type": "str"}, {"type": "float"}],
        },
        "nested": {"type": "object", "attrs": {"float": {"type": "float"}}},
        "dict_": {"type": "dict", "keys": {"type": "string"}, "values": {"type": "int"}},
        "enum": {"type": "enum", "variants": [{"type": "int"}, {"type": "str"}]},
        "literal_str": {"type": "literal", "value": "foo"},
        "literal_int": {"type": "literal", "value": 5},
        "literal_float": {"type": "literal", "value": 5.5},
        "enum2": {
            "type": "enum",
            "variants": [
                {"type": "literal", "value": "foo"},
                {"type": "literal", "value": "bar"},
            ],
        },
    },
}

# (document, expected reason) — the reference's parametrized corpus.
CASES: list[tuple[dict, str]] = [
    ({}, "`bool`: Field required"),
    ({}, "`int`: Field required"),
    ({}, "`int_exclusive`: Field required"),
    ({}, "`float`: Field required"),
    ({}, "`float_exclusive`: Field required"),
    ({}, "`str`: Field required"),
    ({}, "`array`: Field required"),
    ({}, "`tuple`: Field required"),
    ({}, "`nested`: Field required"),
    ({"bool": 1}, "`bool`: Input should be a valid boolean"),
    ({"int": "1"}, "`int`: Input should be a valid integer"),
    ({"int": 3}, "`int`: Input should be a multiple of 2"),
    ({"int": 12}, "`int`: Input should be less than or equal to 10"),
    ({"int_exclusive": 11}, "`int_exclusive`: Input should be less than 10"),
    ({"float": "1"}, "`float`: Input should be a valid number"),
    ({"float": 3.0}, "`float`: Input should be a multiple of 2"),
    ({"float": 12.0}, "`float`: Input should be less than or equal to 10"),
    ({"float_exclusive": 11.0}, "`float_exclusive`: Input should be less than 10"),
    ({"str": 1}, "`str`: Input should be a valid string"),
    ({"str": ""}, "`str`: String should have at least 1 character"),
    ({"str": "1"}, "`str`: String should match pattern '^#(\\d+)$'"),
    ({"str": "111111111111"}, "`str`: String should have at most 10 characters"),
    ({"array": "1"}, "`array`: Input should be a valid array"),
    ({"array": []}, "`array`: List should have at least 1 item after validation, not 0"),
    ({"array": ["5"]}, "`array.0`: Input should be a valid integer"),
    (
        {"array": list(range(100))},
        "`array`: List should have at most 10 items after validation, not 100",
    ),
    ({"tuple": []}, "`tuple.0`: Field required"),
    ({"tuple": ["1", "2", 3.0]}, "`tuple.0`: Input should be a valid integer"),
    ({"nested": {}}, "`nested.float`: Field required"),
    ({"nested": {"float": "2"}}, "`nested.float`: Input should be a valid number"),
    ({"dict_": {"foo": "bar"}}, "`dict_.foo`: Input should be a valid integer"),
    ({"enum": 9.8}, "`enum.int`: Input should be a valid integer"),
    ({"enum": 9.8}, "`enum.str`: Input should be a valid string"),
    ({"literal_str": 9.8}, "`literal_str`: Input should be 'foo'"),
    ({"literal_int": 9.8}, "`literal_int`: Input should be 5"),
    ({"literal_float": 2}, "`literal_float`: Input should be 5.5"),
    ({"enum2": "baz"}, "`enum2`: Input should be 'foo'"),
    ({"enum2": "baz"}, "`enum2`: Input should be 'bar'"),
]


# Reasons a case's document commits beyond its own CASES entry.
SECONDARY: dict[int, list[str]] = {
    19: ["`str`: String should match pattern '^#(\\d+)$'"],
    21: ["`str`: String should match pattern '^#(\\d+)$'"],
    26: ["`tuple.1`: Field required", "`tuple.2`: Field required"],
}


def _expected_reasons(idx: int) -> list[str]:
    """Every reason case `idx`'s document commits: "Field required" for each
    attribute it lacks, every CASES reason for the same document, and its
    SECONDARY reasons — each exactly once."""
    doc = CASES[idx][0]
    missing = [f"`{name}`: Field required" for name in FIXTURE_SPEC["attrs"] if name not in doc]
    same_doc = [reason for d, reason in CASES if d == doc]
    return sorted(set(missing + same_doc + SECONDARY.get(idx, [])))


@pytest.fixture(scope="module")
def corpus_errors(spark):
    rows = [
        (str(i), json.dumps(doc)) for i, (doc, _) in enumerate(CASES)
    ]
    rows.append(("valid", json.dumps({
        "bool": True, "int": 4, "int_exclusive": 5, "float": 4.0,
        "float_exclusive": 5.0, "str": "#123", "array": [1, 2],
        "tuple": [1, "x", 1.5], "nested": {"float": 2.5},
        "dict_": {"k": 1}, "enum": 7, "literal_str": "foo",
        "literal_int": 5, "literal_float": 5.5, "enum2": "bar",
    })))
    rows.append(("not_json", "{nope"))
    df = spark.createDataFrame(rows, "case string, doc string")
    rules = RuleSet([JsonSpecRule("doc", 0, column="doc", spec=parse_spec(FIXTURE_SPEC))])
    res = ValidationEngine(subject_col="case").validate(df, rules)
    out: dict[str, list[str]] = {}
    for r in res.sorted_violations().collect():
        out.setdefault(r.subject, []).append(r.reason)
    return out


@pytest.mark.parametrize(
    "idx", range(len(CASES)), ids=[f"case{i}" for i in range(len(CASES))]
)
def test_reference_corpus(corpus_errors, idx):
    assert sorted(corpus_errors.get(str(idx), [])) == _expected_reasons(idx)


def test_fully_valid_document_has_no_errors(corpus_errors):
    assert "valid" not in corpus_errors


def test_unparseable_document(corpus_errors):
    assert corpus_errors["not_json"] == ["root object: Invalid JSON"]


def test_root_level_array_paths_have_no_leading_dot(spark):
    """Reference joins pydantic loc tuples with '.', so a ROOT element's
    path is bare ('0'), never '.0' (schemas/json.py:249-261)."""
    from fs_schema_validator_spark.engine import ValidationEngine

    df = spark.createDataFrame(
        [(1, '["x", 2]')], "doc_id bigint, payload string"
    )
    rules = """
schema:
  - type: json_spec
    id: arr
    column: payload
    spec: {type: array, items: {type: int}}
"""
    res = ValidationEngine(subject_col="doc_id").validate(df, rules)
    reasons = {r.reason for r in res.violations.collect()}
    assert "`0`: Input should be a valid integer" in reasons
    assert not any(r.startswith("`.") for r in reasons)



def test_dict_key_spec_matches_typed_map(spark):
    """A JSON dict's keys are checked as strings, exactly as a typed
    map<string, ...>'s keys: only the key that is not the literal fails."""
    spec = "{type: dict, keys: {type: literal, value: a}, values: {type: int}}"
    json_df = spark.createDataFrame([(1, '{"a": 1, "b": 2}')], "id int, m string")
    typed_df = spark.createDataFrame([(1, {"a": 1, "b": 2})], "id int, m map<string,int>")
    got = {}
    for kind, df in (("json_spec", json_df), ("column_spec", typed_df)):
        rules = f"schema:\n  - {{type: {kind}, id: m, column: m, spec: {spec}}}\n"
        res = ValidationEngine(subject_col="id").validate(df, rules)
        got[kind] = [r.reason for r in res.violations.collect()]
    assert got == {
        "json_spec": ["`b`: Input should be 'a'"],
        "column_spec": ["`m.b`: Input should be 'a'"],
    }
