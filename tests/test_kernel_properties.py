"""Hypothesis property tests for the round-2 Arrow kernels: each kernel is
checked against a direct Python re-implementation of its specification on
randomized inputs (no Spark session needed — pure pyarrow/NumPy)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from fs_schema_validator_spark.functions.arrays import (
    minhash_mix_mod_kernel,
    simhash_kernel,
)
from fs_schema_validator_spark.operators.dedup import (
    MH31_MOD,
    minhash31_constants,
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.integers(min_value=0, max_value=(1 << 60) - 1), max_size=20
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_simhash_kernel_property(rows):
    got = simhash_kernel(pa.array(rows, type=pa.list_(pa.int64())), bits=60)
    for i, hs in enumerate(rows):
        if not hs:
            assert got[i] == 0
            continue
        want = 0
        for b in range(60):
            if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0:
                want |= 1 << b
        assert got[i] == want


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.integers(min_value=0, max_value=MH31_MOD - 1), max_size=15
            ),
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_minhash_mod_kernel_property(rows, num_perm):
    consts = minhash31_constants(num_perm)
    sig = minhash_mix_mod_kernel(
        pa.array(rows, type=pa.list_(pa.int64())), consts, MH31_MOD
    )
    for i, hs in enumerate(rows):
        for p, (a, b) in enumerate(consts):
            if not hs:
                assert sig[i][p] == MH31_MOD  # sentinel for empty rows
            else:
                assert sig[i][p] == min((a * x + b) % MH31_MOD for x in hs)


def test_minhash_constants_are_deterministic_and_valid():
    c1 = minhash31_constants(64)
    c2 = minhash31_constants(64)
    assert c1 == c2
    assert all(1 <= a < MH31_MOD and 0 <= b < MH31_MOD for a, b in c1)
    assert len({a for a, _ in c1}) > 60  # no degenerate repeats


def test_list_kernels_honor_sliced_arrays():
    """Sliced ListArrays share the full child values buffer; every kernel
    must bound its segments to the slice (regression: the final reduceat
    segment absorbed values from rows past the slice)."""
    from fs_schema_validator_spark.operators.dedup import (
        minhash31_constants,
    )

    consts = minhash31_constants(4)
    rows = [[1, 2, 3], [4, 5], [6, 7, 8], [9], [10, 11]]
    full = pa.array(rows, type=pa.list_(pa.int64()))
    sliced = full.slice(1, 3)

    mm_full = minhash_mix_mod_kernel(full, consts, MH31_MOD)
    mm_sl = minhash_mix_mod_kernel(sliced, consts, MH31_MOD)
    assert mm_sl.tolist() == mm_full[1:4].tolist()

    sh_full = simhash_kernel(full, bits=8)
    sh_sl = simhash_kernel(sliced, bits=8)
    assert sh_sl.tolist() == sh_full[1:4].tolist()

    # the reviewer's executed counterexamples, pinned
    a = pa.array([[1, 2, 3], [4, 5], [6, 7, 8], [0, 0]], type=pa.list_(pa.int64()))
    got = minhash_mix_mod_kernel(a.slice(1, 2), consts, MH31_MOD)
    want = minhash_mix_mod_kernel(
        pa.array([[4, 5], [6, 7, 8]], type=pa.list_(pa.int64())), consts, MH31_MOD
    )
    assert got.tolist() == want.tolist()
    b = pa.array([[3], [0], [1, 1, 1]], type=pa.list_(pa.int64()))
    assert simhash_kernel(b.slice(0, 2), bits=4).tolist() == [3, 0]


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.one_of(
            st.none(),
            st.lists(st.integers(0, 2**40), min_size=0, max_size=8),
        ),
        min_size=1,
        max_size=24,
    ),
    offset=st.integers(0, 4),
)
def test_degenerate_rows_mask_property(rows, offset):
    """_degenerate_rows masks exactly the null/empty rows, also on SLICED
    arrays (a slice shifts offsets; a naive mask would misalign)."""
    from fs_schema_validator_spark.functions.arrays import _degenerate_rows

    arr = pa.array(rows, type=pa.list_(pa.int64()))
    off = min(offset, len(arr) - 1)
    sliced = arr.slice(off)
    got = _degenerate_rows(sliced)
    expect = np.array(
        [(r is None or len(r) == 0) for r in rows[off:]], dtype=bool
    )
    assert (got == expect).all()


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.none(),
                    st.integers(min_value=-(1 << 31), max_value=(1 << 31) - 1),
                ),
                max_size=24,
            ),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_token_window_hash_kernel_property(rows, k):
    """Every k-window hash equals the direct fold; null rows and rows
    containing null tokens -> null output; short rows -> empty; negative
    tokens fold through Python floor-mod (the kernel's documented
    semantics)."""
    from fs_schema_validator_spark.functions.arrays import (
        token_window_hash_kernel,
    )

    mod, base, seed = 2147483647, 1000003, 7
    got = token_window_hash_kernel(
        pa.array(rows, type=pa.list_(pa.int32())), k=k
    ).to_pylist()
    for i, r in enumerate(rows):
        if r is None or any(t is None for t in r):
            assert got[i] is None, (i, r)
            continue
        want = []
        for j in range(len(r) - k + 1):
            h = seed
            for t in r[j : j + k]:
                h = (h * base + (t % mod)) % mod
            want.append(h)
        assert got[i] == want, (i, r, k)

