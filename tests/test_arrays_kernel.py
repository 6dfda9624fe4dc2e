"""Unit tests for the array kernels.

The first-mismatch cases evaluate the native expression
``compiler.plan.first_mismatch_index`` (the array-equality diagnosis) over
small DataFrames; the rest test the token-window Arrow kernel of
``functions.arrays`` and its ``mapInArrow`` wrapper."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from fs_schema_validator_spark.compiler.plan import first_mismatch_index


def _k(spark, a, b, dtype="int"):
    """first_mismatch_index over rows (a[i], b[i]), in row order."""
    df = spark.createDataFrame(
        list(enumerate(zip(a, b))),
        f"i int, ab struct<a:array<{dtype}>, b:array<{dtype}>>",
    )
    got = df.select(
        "i", first_mismatch_index(F.col("ab.a"), F.col("ab.b")).alias("m")
    ).collect()
    return [r.m for r in sorted(got, key=lambda r: r.i)]


def test_equal_rows(spark):
    assert _k(spark, [[1, 2, 3], [], [7]], [[1, 2, 3], [], [7]]) == [-1, -1, -1]


def test_first_mismatch_positions(spark):
    assert _k(spark, [[1, 2, 3], [5], [1, 2, 3]], [[1, 9, 3], [4], [1, 2, 9]]) == [
        1,
        0,
        2,
    ]


def test_multiple_mismatches_reports_first(spark):
    assert _k(spark, [[1, 2, 3]], [[9, 9, 9]]) == [0]


def test_length_mismatch_reports_boundary(spark):
    assert _k(spark, [[1, 2], [1, 2, 3], []], [[1, 2, 3], [1], [1]]) == [2, 1, 0]


def test_null_rows(spark):
    assert _k(spark, [None, None], [None, [1]]) == [-1, 0]
    assert _k(spark, [[1]], [None]) == [0]


def test_mixed_batch(spark):
    a = [[1, 2, 3], [4, 5], None, [], [9, 9]]
    b = [[1, 2, 3], [4, 6], None, [], [9]]
    assert _k(spark, a, b) == [-1, 1, -1, -1, 1]


def test_float_nan_equality(spark):
    nan = float("nan")
    assert _k(spark, [[1.0, nan]], [[1.0, nan]], dtype="double") == [-1]


def test_large_random_agreement_with_naive(spark):
    rng = np.random.default_rng(42)
    a_rows, b_rows = [], []
    for _ in range(500):
        n = int(rng.integers(0, 20))
        row = rng.integers(0, 50, n).tolist()
        if rng.random() < 0.5:
            other = list(row)
            if other and rng.random() < 0.7:
                j = int(rng.integers(0, len(other)))
                other[j] += 1
            elif rng.random() < 0.5:
                other.append(1)
        else:
            other = row
        a_rows.append(row)
        b_rows.append(other)

    def naive(x, y):
        for j in range(min(len(x), len(y))):
            if x[j] != y[j]:
                return j
        return -1 if len(x) == len(y) else min(len(x), len(y))

    expected = [naive(x, y) for x, y in zip(a_rows, b_rows)]
    assert _k(spark, a_rows, b_rows) == expected


def test_spark_operator_screens_equal_rows(spark):
    df = spark.createDataFrame(
        [
            ("a", [1, 2, 3], [1, 2, 3]),
            ("b", [1, 2, 3], [1, 9, 3]),
            ("c", [], [7]),
            ("d", None, [1]),
        ],
        "k string, x array<int>, y array<int>",
    )
    mism = df.select(
        "k", first_mismatch_index(F.col("x"), F.col("y")).alias("mismatch_idx")
    ).filter(F.col("mismatch_idx") >= 0)
    got = {r.k: r.mismatch_idx for r in mism.collect()}
    # row "a" has equal arrays and is dropped, as the engine drops it
    assert got == {"b": 1, "c": 0, "d": 0}


def _naive_token_windows(toks, k=8, base=1000003, mod=2147483647, seed=7):
    if toks is None or any(t is None for t in toks):
        return None
    out = []
    for j in range(len(toks) - k + 1):
        h = seed
        for t in toks[j : j + k]:
            h = (h * base + (t % mod)) % mod
        out.append(h)
    return out


def test_token_window_hash_kernel_matches_naive_fold():
    from fs_schema_validator_spark.functions.arrays import (
        token_window_hash_kernel,
    )

    rows = [
        [],                       # empty -> empty window list
        [5],                      # shorter than k
        list(range(7)),           # exactly k-1
        list(range(8)),           # exactly k: one window
        [(i * 31 + 7) % 50304 for i in range(40)],
        [0] * 16,                 # constant run: identical windows
        None,                     # null list -> null row
        [1, None, 3, 4, 5, 6, 7, 8, 9],   # child null -> null row
        [65535, -1, 2, 3, 4, 5, 6, 7, 8], # negative token: floor-mod
    ]
    got = token_window_hash_kernel(
        pa.array(rows, type=pa.list_(pa.int32())), k=8
    ).to_pylist()
    for i, r in enumerate(rows):
        assert got[i] == _naive_token_windows(r), r
    # the constant run's windows are all identical
    assert len(set(got[5])) == 1 and len(got[5]) == 9


def test_token_window_hash_kernel_sliced_array():
    from fs_schema_validator_spark.functions.arrays import (
        token_window_hash_kernel,
    )

    rows = [list(range(j, j + 12)) for j in range(5)]
    full = pa.array(rows, type=pa.list_(pa.int32()))
    sliced = full.slice(2, 2)
    w_full = token_window_hash_kernel(full, k=4).to_pylist()
    w_sl = token_window_hash_kernel(sliced, k=4).to_pylist()
    assert w_sl == w_full[2:4]


def test_token_window_hashes_arrow_spark_roundtrip(spark):
    """The Spark wrapper carries the kernel's per-row contract through
    mapInArrow: one (doc, hash, multiplicity) row per distinct window of
    a full row, matching the direct fold, and one sentinel (doc, -1, 0)
    row for a null, short or child-null row."""
    from collections import Counter

    from fs_schema_validator_spark.functions.arrays import (
        token_window_pair_counts_arrow,
    )

    rows = [
        ("a", list(range(9))),
        ("b", None),
        ("c", [1, 2]),
        ("d", [4, None, 6, 7, 8, 9, 10, 11, 12]),
        ("e", [5] * 10),  # one window hash, three times
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {}
    for r in token_window_pair_counts_arrow(df, "tokens", k=8).collect():
        got.setdefault(r.doc_id, {})[r.h] = r.k_cnt
    for doc_id, toks in rows:
        wins = _naive_token_windows(toks, k=8)
        want = dict(Counter(wins)) if wins else {-1: 0}
        assert got[doc_id] == want, doc_id
    assert list(got["e"].values()) == [3]
