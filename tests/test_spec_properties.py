"""Randomized differential tests for the spec compiler.

Random (spec, value) cases are evaluated in ONE batched DataFrame per
spec (hundreds of rows each) and compared against an independent
pure-Python implementation of the strict validation semantics
(pydantic-style ge/gt/le/lt/multiple_of/length/regex/nullable — the
reference's constraint model, /root/reference/fs_schema_validator/
schemas/json.py:39-149). Seeded RNG keeps runs reproducible.

Each test runs in both value models: ``typed`` checks a column of the
declared Spark type, ``json`` checks the same values as JSON text through
``json_column_violations``; the oracle is the same for both.
"""

from __future__ import annotations

import json
import random
import re

import pytest
from pyspark.sql import functions as F

from fs_schema_validator_spark.compiler.columns import compile_checker, json_column_violations
from fs_schema_validator_spark.rules import spec as S

MODELS = pytest.mark.parametrize("model", ["typed", "json"])


def _violates_int(spec: S.IntSpec, v) -> bool:
    if v is None:
        return not spec.nullable
    if spec.min is not None and v < spec.min:
        return True
    if spec.exclusive_min is not None and v <= spec.exclusive_min:
        return True
    if spec.max is not None and v > spec.max:
        return True
    if spec.exclusive_max is not None and v >= spec.exclusive_max:
        return True
    if spec.multiple_of is not None and v % spec.multiple_of != 0:
        return True
    return False


def _violates_str(spec: S.StrSpec, v) -> bool:
    if v is None:
        return not spec.nullable
    if spec.min_length is not None and len(v) < spec.min_length:
        return True
    if spec.max_length is not None and len(v) > spec.max_length:
        return True
    if spec.regex is not None and not re.search(spec.regex, v):
        return True
    return False


def _run_cases(spark, model: str, dtype: str, spec, values):
    if model == "json":
        df = spark.createDataFrame(
            [(i, json.dumps(v)) for i, v in enumerate(values)], "i int, v string"
        )
        errs = json_column_violations(F.col("v"), spec)
    else:
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], f"i int, v {dtype}"
        )
        checker = compile_checker(spec, df.schema["v"].dataType)
        errs = checker(F.col("v"), F.lit("v"))
    out = df.select("i", F.size(errs).alias("n_viol"))
    return {r.i: r.n_viol > 0 for r in out.collect()}


@MODELS
def test_int_spec_random_differential(spark, model):
    rng = random.Random(1234)
    for trial in range(8):
        lo = rng.choice([None, rng.randint(-50, 0)])
        hi = rng.choice([None, rng.randint(1, 80)])
        spec = S.IntSpec(
            min=lo if rng.random() < 0.5 else None,
            exclusive_min=lo if rng.random() < 0.3 else None,
            max=hi if rng.random() < 0.5 else None,
            exclusive_max=hi if rng.random() < 0.3 else None,
            multiple_of=rng.choice([None, 2, 3, 7]),
            nullable=rng.random() < 0.5,
        )
        values = [rng.randint(-100, 130) for _ in range(150)]
        # boundary values and nulls are the interesting cases
        for b in (lo, hi):
            if b is not None:
                values += [b - 1, b, b + 1]
        values += [None] * 5
        got = _run_cases(spark, model, "long", spec, values)
        for i, v in enumerate(values):
            want = _violates_int(spec, v)
            assert got[i] == want, f"trial {trial}: {spec} value={v}"


@MODELS
def test_str_spec_random_differential(spark, model):
    rng = random.Random(99)
    alphabet = "abc19 _-"
    for trial in range(6):
        spec = S.StrSpec(
            min_length=rng.choice([None, 0, 2, 5]),
            max_length=rng.choice([None, 4, 8]),
            regex=rng.choice([None, r"^[a-c]+$", r"\d", r"^a.*9$"]),
            nullable=rng.random() < 0.5,
        )
        values = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 10)))
            for _ in range(120)
        ] + [None] * 4
        got = _run_cases(spark, model, "string", spec, values)
        for i, v in enumerate(values):
            want = _violates_str(spec, v)
            assert got[i] == want, f"trial {trial}: {spec} value={v!r}"


@MODELS
def test_array_spec_random_differential(spark, model):
    rng = random.Random(7)
    for trial in range(6):
        item = S.IntSpec(min=0, max=100, nullable=rng.random() < 0.5)
        spec = S.ArraySpec(
            items=item,
            min_items=rng.choice([None, 1, 3]),
            max_items=rng.choice([None, 5, 8]),
            nullable=rng.random() < 0.5,
        )
        values = []
        for _ in range(100):
            n = rng.randint(0, 10)
            row = [
                rng.choice([None, rng.randint(-20, 120)]) for _ in range(n)
            ]
            values.append(row)
        values += [None] * 4

        def want_violation(v):
            if v is None:
                return not spec.nullable
            if spec.min_items is not None and len(v) < spec.min_items:
                return True
            if spec.max_items is not None and len(v) > spec.max_items:
                return True
            return any(_violates_int(item, e) for e in v)

        got = _run_cases(spark, model, "array<long>", spec, values)
        for i, v in enumerate(values):
            assert got[i] == want_violation(v), f"trial {trial}: {spec} {v}"
