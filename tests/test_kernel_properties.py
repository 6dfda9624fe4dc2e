"""Property tests for the token-window Arrow kernel: it is checked against
a direct Python re-implementation of its specification on randomized
inputs, and on sliced ListArrays (no Spark session needed — pure
pyarrow/NumPy)."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st


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


def test_list_kernels_honor_sliced_arrays():
    """Sliced ListArrays share the full child values buffer; `_list_views`
    and the window-hash kernel must bound every row to the slice, also
    when a null token sits in a row just past the slice (the NaN mask is
    taken over the truncated values, so it must not reach that row)."""
    import numpy as np

    from fs_schema_validator_spark.functions.arrays import (
        _list_views,
        token_window_hash_kernel,
    )

    rows = [
        [1, None, 3, 4],
        [4, 5, 6, 7, 8],
        None,
        [6, 7, 8, 9],
        [9, None],
        [10, 11, 12, 13, 14],
    ]
    full = pa.array(rows, type=pa.list_(pa.int32()))
    for off, n in ((1, 3), (1, 1), (3, 1), (2, 4)):
        sliced = full.slice(off, n)
        fresh = pa.array(rows[off : off + n], type=pa.list_(pa.int32()))
        got, want = _list_views(sliced), _list_views(fresh)
        for g, w in zip(got, want):
            np.testing.assert_array_equal(
                np.asarray(g, dtype=float), np.asarray(w, dtype=float)
            )
        for k in (1, 2, 4):
            w_full = token_window_hash_kernel(full, k=k).to_pylist()
            assert token_window_hash_kernel(sliced, k=k).to_pylist() == (
                w_full[off : off + n]
            ), (off, n, k)


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(st.none(), st.integers(0, 2**20)),
                min_size=0,
                max_size=8,
            ),
        ),
        min_size=1,
        max_size=24,
    ),
    offset=st.integers(0, 4),
    k=st.integers(1, 4),
)
def test_degenerate_rows_mask_property(rows, offset, k):
    """The window-hash kernel's degenerate-row contract holds on SLICED
    arrays (a slice shifts offsets; a naive mask would misalign): a null
    row or a row holding a null token -> null output row, a valid row
    shorter than k -> empty, any other row -> len - k + 1 windows."""
    from fs_schema_validator_spark.functions.arrays import (
        token_window_hash_kernel,
    )

    arr = pa.array(rows, type=pa.list_(pa.int64()))
    off = min(offset, len(arr) - 1)
    got = token_window_hash_kernel(arr.slice(off), k=k)
    assert len(got) == len(rows) - off
    for g, r in zip(got.to_pylist(), rows[off:]):
        if r is None or any(t is None for t in r):
            assert g is None, r
        else:
            assert len(g) == max(len(r) - k + 1, 0), (r, g)
