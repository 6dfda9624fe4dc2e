"""Value-constraint goldens: one mutated column per case-row, exact reasons.

The case table mirrors the reference's parametrized failure-reason corpus
(/root/reference/tests/test_json.py:155-219) re-expressed over typed table
columns: every case is one row in a single DataFrame (one fused Spark pass
for the whole corpus), each mutating exactly one column away from a fully
valid default row. Type-strictness cases, which in a table are declared-type
properties, get their own tiny DataFrames with the "wrong" column type.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from fs_schema_validator_spark.engine import ValidationEngine
from fs_schema_validator_spark.rules.loader import RuleSet
from fs_schema_validator_spark.rules.model import ColumnSpecRule
from fs_schema_validator_spark.rules.spec import parse_spec

SPECS: dict[str, dict] = {
    "bool_c": {"type": "bool"},
    "int_c": {"type": "int", "min": 0, "max": 10, "multiple_of": 2},
    "intx_c": {"type": "int", "exclusive_min": 0, "exclusive_max": 10},
    "float_c": {"type": "float", "min": 0, "max": 10, "multiple_of": 2.0},
    "floatx_c": {"type": "float", "exclusive_min": 0, "exclusive_max": 10},
    "str_c": {"type": "str", "min_length": 1, "max_length": 10, "regex": r"^#(\d+)$"},
    "arr_c": {
        "type": "array",
        "min_items": 1,
        "max_items": 10,
        "items": {"type": "int", "min": 0},
    },
    "tup_c": {
        "type": "fixed_array",
        "items": [{"type": "int"}, {"type": "str"}, {"type": "float"}],
    },
    "tup_arr": {"type": "tuple", "items": [{"type": "int"}, {"type": "int"}]},
    "nested": {"type": "object", "attrs": {"float": {"type": "float"}}},
    "dict_c": {
        "type": "dict",
        "keys": {"type": "str"},
        "values": {"type": "int", "min": 0},
    },
    "enum_c": {
        "type": "enum",
        "variants": [{"type": "int"}, {"type": "str", "max_length": 3}],
    },
    "lit_str": {"type": "literal", "value": "foo"},
    "lit_int": {"type": "literal", "value": 5},
    "lit_float": {"type": "literal", "value": 5.5},
    "enum2": {
        "type": "enum",
        "variants": [
            {"type": "literal", "value": "foo"},
            {"type": "literal", "value": "bar"},
        ],
    },
}

SCHEMA = T.StructType(
    [
        T.StructField("case", T.StringType(), False),
        T.StructField("bool_c", T.BooleanType(), True),
        T.StructField("int_c", T.IntegerType(), True),
        T.StructField("intx_c", T.IntegerType(), True),
        T.StructField("float_c", T.DoubleType(), True),
        T.StructField("floatx_c", T.DoubleType(), True),
        T.StructField("str_c", T.StringType(), True),
        T.StructField("arr_c", T.ArrayType(T.IntegerType(), True), True),
        T.StructField(
            "tup_c",
            T.StructType(
                [
                    T.StructField("f0", T.IntegerType(), True),
                    T.StructField("f1", T.StringType(), True),
                    T.StructField("f2", T.DoubleType(), True),
                ]
            ),
            True,
        ),
        T.StructField("tup_arr", T.ArrayType(T.LongType(), True), True),
        T.StructField(
            "nested",
            T.StructType([T.StructField("float", T.DoubleType(), True)]),
            True,
        ),
        T.StructField("dict_c", T.MapType(T.StringType(), T.IntegerType(), True), True),
        T.StructField("enum_c", T.StringType(), True),
        T.StructField("lit_str", T.StringType(), True),
        T.StructField("lit_int", T.LongType(), True),
        T.StructField("lit_float", T.DoubleType(), True),
        T.StructField("enum2", T.StringType(), True),
    ]
)

DEFAULTS = {
    "bool_c": True,
    "int_c": 4,
    "intx_c": 5,
    "float_c": 4.0,
    "floatx_c": 5.0,
    "str_c": "#123",
    "arr_c": [1, 2],
    "tup_c": (1, "x", 1.5),
    "tup_arr": [1, 2],
    "nested": (2.5,),
    "dict_c": {"k": 1},
    "enum_c": "abc",
    "lit_str": "foo",
    "lit_int": 5,
    "lit_float": 5.5,
    "enum2": "bar",
}

# case name -> (column overrides, expected reasons)
CASES: dict[str, tuple[dict, list[str]]] = {
    "ok": ({}, []),
    "bool_req": ({"bool_c": None}, ["`bool_c`: Field required"]),
    "int_mult": ({"int_c": 3}, ["`int_c`: Input should be a multiple of 2"]),
    "int_max": ({"int_c": 12}, ["`int_c`: Input should be less than or equal to 10"]),
    "int_min": (
        {"int_c": -2},
        ["`int_c`: Input should be greater than or equal to 0"],
    ),
    "intx_hi": ({"intx_c": 11}, ["`intx_c`: Input should be less than 10"]),
    "intx_lo": ({"intx_c": 0}, ["`intx_c`: Input should be greater than 0"]),
    "float_mult": ({"float_c": 3.0}, ["`float_c`: Input should be a multiple of 2"]),
    "float_max": (
        {"float_c": 12.0},
        ["`float_c`: Input should be less than or equal to 10"],
    ),
    "floatx_hi": ({"floatx_c": 11.0}, ["`floatx_c`: Input should be less than 10"]),
    "str_empty": (
        {"str_c": ""},
        [
            "`str_c`: String should have at least 1 character",
            "`str_c`: String should match pattern '^#(\\d+)$'",
        ],
    ),
    "str_pattern": (
        {"str_c": "1"},
        ["`str_c`: String should match pattern '^#(\\d+)$'"],
    ),
    "str_long": (
        {"str_c": "111111111111"},
        [
            "`str_c`: String should have at most 10 characters",
            "`str_c`: String should match pattern '^#(\\d+)$'",
        ],
    ),
    "arr_min": (
        {"arr_c": []},
        ["`arr_c`: List should have at least 1 item after validation, not 0"],
    ),
    "arr_elem": (
        {"arr_c": [5, -1]},
        ["`arr_c.1`: Input should be greater than or equal to 0"],
    ),
    "arr_max": (
        {"arr_c": list(range(100))},
        ["`arr_c`: List should have at most 10 items after validation, not 100"],
    ),
    "arr_null_elem": ({"arr_c": [1, None]}, ["`arr_c.1`: Field required"]),
    "tup_struct_req": ({"tup_c": (None, "x", 1.5)}, ["`tup_c.0`: Field required"]),
    "tup_arr_short": (
        {"tup_arr": []},
        ["`tup_arr.0`: Field required", "`tup_arr.1`: Field required"],
    ),
    "tup_arr_long": (
        {"tup_arr": [1, 2, 3]},
        ["`tup_arr`: Tuple should have at most 2 items"],
    ),
    "nested_req": ({"nested": (None,)}, ["`nested.float`: Field required"]),
    "nested_null": ({"nested": None}, ["`nested`: Field required"]),
    "dict_val_min": (
        {"dict_c": {"kk": -5}},
        ["`dict_c.kk`: Input should be greater than or equal to 0"],
    ),
    "dict_val_null": ({"dict_c": {"kk": None}}, ["`dict_c.kk`: Field required"]),
    "enum_all_fail": (
        {"enum_c": "abcd"},
        [
            "`enum_c.int`: Input should be a valid integer",
            "`enum_c.str`: String should have at most 3 characters",
        ],
    ),
    "lit_str_bad": ({"lit_str": "baz"}, ["`lit_str`: Input should be 'foo'"]),
    "lit_int_bad": ({"lit_int": 7}, ["`lit_int`: Input should be 5"]),
    "lit_float_bad": ({"lit_float": 2.0}, ["`lit_float`: Input should be 5.5"]),
    "enum2_bad": (
        {"enum2": "baz"},
        ["`enum2`: Input should be 'foo'", "`enum2`: Input should be 'bar'"],
    ),
}


@pytest.fixture(scope="module")
def corpus_violations(spark):
    rows = []
    for name, (overrides, _) in CASES.items():
        row = {**DEFAULTS, **overrides}
        rows.append(tuple([name] + [row[c] for c in DEFAULTS]))
    df = spark.createDataFrame(rows, SCHEMA)
    rules = RuleSet(
        [
            ColumnSpecRule(col, seq, column=col, spec=parse_spec(spec))
            for seq, (col, spec) in enumerate(SPECS.items())
        ]
    )
    engine = ValidationEngine(subject_col="case")
    result = engine.validate(df, rules)
    collected = result.sorted_violations().collect()
    by_case: dict[str, list[str]] = {}
    for r in collected:
        by_case.setdefault(r.subject, []).append(r.reason)
    return by_case


@pytest.mark.parametrize("case", list(CASES))
def test_case(corpus_violations, case):
    _, expected = CASES[case]
    assert corpus_violations.get(case, []) == expected


def test_no_unexpected_subjects(corpus_violations):
    expected_failing = {c for c, (_, reasons) in CASES.items() if reasons}
    assert set(corpus_violations) == expected_failing


# ---------------------------------------------------------------------------
# declared-type strictness: the column's Spark type IS the value type


@pytest.mark.parametrize(
    ("coltype", "value", "spec", "reason"),
    [
        ("string", "1", {"type": "int"}, "Input should be a valid integer"),
        ("int", 1, {"type": "bool"}, "Input should be a valid boolean"),
        ("int", 3, {"type": "float"}, "Input should be a valid number"),
        ("bigint", 1, {"type": "str"}, "Input should be a valid string"),
        ("string", "x", {"type": "array", "items": {"type": "int"}},
         "Input should be a valid array"),
        ("double", 1.5, {"type": "int"}, "Input should be a valid integer"),
        ("int", 2, {"type": "literal", "value": 5.5}, "Input should be 5.5"),
        ("string", "s", {"type": "object", "attrs": {}},
         "Input should be a valid dictionary"),
    ],
)
def test_strict_declared_type(spark, coltype, value, spec, reason):
    df = spark.createDataFrame([("r1", value)], f"case string, c {coltype}")
    rules = RuleSet([ColumnSpecRule("c", 0, column="c", spec=parse_spec(spec))])
    got = (
        ValidationEngine(subject_col="case")
        .validate(df, rules)
        .sorted_violations()
        .collect()
    )
    assert [r.reason for r in got] == [f"`c`: {reason}"]


def test_row_spec_tuple_paths_have_no_leading_dot(spark):
    """A row is the root, so its tuple positions render bare ('1'), like a
    root-level JSON array's elements — never '.1'."""
    df = spark.createDataFrame([(1, "x", 3)], "id int, s string, n int")
    rules = """
schema:
  - type: row_spec
    id: r
    spec: {type: fixed_array, items: [{type: int}, {type: int}, {type: str}]}
"""
    got = ValidationEngine(subject_col="id").validate(df, rules).violations.collect()
    assert sorted(r.reason for r in got) == [
        "`1`: Input should be a valid integer",
        "`2`: Input should be a valid string",
    ]
