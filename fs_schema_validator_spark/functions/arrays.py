"""The vectorized Arrow kernel behind ``operators.dedup.token_ngram_dup_stats``.

``token_window_hash_kernel`` hashes every k-token window of a list<int>
column over the Arrow ListArray's offsets/values buffers as NumPy views
(zero-copy for non-null primitive values) — never Python lists, never
per-row loops. ``token_window_pair_counts_arrow`` runs it inside
``mapInArrow`` and pre-aggregates to per-(document, hash) counts; it is the
package's only Python path.

The validation core uses none of this. Its array-equality diagnosis (the
first mismatching token index) is a native expression,
``compiler.plan.first_mismatch_index``, so validating crosses into Python
nowhere.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The window hash's polynomial: base, modulus (a 31-bit prime, so a hash
# packs beside a row ordinal into one uint64 sort key) and seed.
HASH_BASE = 1000003
HASH_MOD = 2147483647
HASH_SEED = 7


def _list_views(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Return (starts, lengths, values, validity) NumPy views of a ListArray.

    `values` is truncated to the logical span [offsets[0], offsets[-1]) and
    `starts` rebased to it: a SLICED ListArray shares the full child values
    buffer, and a segment reduction (reduceat) whose final segment ran to
    the end of the child would absorb values belonging to rows past the
    slice (and leading values before it would shift every segment)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    starts, lengths = offsets[:-1], offsets[1:] - offsets[:-1]
    try:
        values = arr.values.to_numpy(zero_copy_only=True)
    except pa.ArrowInvalid:
        # values buffer has nulls (containsNull arrays) — one copy, still
        # vectorized; NaN sentinel keeps comparisons well-defined.
        values = arr.values.to_numpy(zero_copy_only=False)
    if len(offsets):
        values = values[offsets[0] : offsets[-1]]
        starts = starts - offsets[0]
    if arr.null_count:
        validity = np.asarray(arr.is_valid())
    else:
        validity = np.ones(len(arr), dtype=bool)
    return starts, lengths, values, validity


def token_window_hash_kernel(tokens: pa.Array, k: int) -> pa.ListArray:
    """All k-token polynomial window hashes per row of a list<int> column.

    win[i][j] = (seed*base^k + sum_t tok[i][j+t] * base^(k-1-t)) % mod, with
    base, mod and seed the module's HASH_BASE, HASH_MOD and HASH_SEED —
    the Rabin-Karp k-gram fingerprint over TOKEN values. Token-level dedup
    needs every window, not only the minimum, so coverage can be
    attributed back to positions.

    One vectorized pass, no per-window refold: k shifted products over the
    flat token buffer, from the closed form
    h = seed*base^k + sum(tok_j * base^(k-1-j)) (mod m).
    Negative tokens take Python/NumPy floor-mod semantics — an SQL replay
    must spell ((t % m) + m) % m if its %% truncates (DuckDB does).

    Per-row degradation, never batch corruption: a null list -> null
    output row; a list shorter than k -> empty list; a list CONTAINING
    null tokens -> null output row (the value is undefined — those rows
    are a validation finding, surfaced by the F3-family rules, not a
    hashable sequence)."""
    starts, lengths, values, validity = _list_views(tokens)
    n = len(starts)
    m = np.uint64(HASH_MOD)
    rowok = validity.copy()
    if n and values.dtype.kind == "f":
        # child nulls decoded as NaN (see _list_views): invalidate rows
        # whose span contains any NaN, then hash the rest from zeros
        nanmask = np.isnan(values)
        if nanmask.any() and lengths.sum():
            row_of_all = np.repeat(np.arange(n), lengths)
            bad = np.zeros(n, dtype=bool)
            np.logical_or.at(bad, row_of_all[nanmask[: len(row_of_all)]], True)
            rowok &= ~bad
        values = np.nan_to_num(values)
    # floor-mod in int64 first: int32 -1 reinterpreted as uint64 would be
    # 2^64-1, and numpy's % on signed ints already floors like Python
    flat = (values.astype(np.int64) % np.int64(HASH_MOD)).astype(np.uint64)

    P = np.empty(k + 1, dtype=np.uint64)
    P[0] = 1
    b64 = np.uint64(HASH_BASE % HASH_MOD)
    for j in range(1, k + 1):
        P[j] = P[j - 1] * b64 % m
    seed64 = np.uint64(HASH_SEED % HASH_MOD)

    n_wins = np.where(rowok, np.maximum(lengths - k + 1, 0), 0)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(n_wins, out=offsets[1:])
    total = int(lengths.sum())
    if total < k or not n_wins.any():
        child = np.empty(0, dtype=np.int64)
    else:
        nwg = total - k + 1
        W = np.zeros(nwg, dtype=np.uint64)
        for j in range(k):
            # each term < mod < 2^31; k terms sum < k*2^31 — no overflow
            W += flat[j : j + nwg] * P[k - 1 - j] % m
        kh = (seed64 * P[k] % m + W) % m
        row_of = np.repeat(np.arange(n), lengths)[:nwg]
        pos = np.arange(nwg) - starts[row_of]
        wmask = (pos <= lengths[row_of] - k) & rowok[row_of]
        child = kh[wmask].astype(np.int64)
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int64()).cast(pa.int32()),
        pa.array(child, type=pa.int64()),
        mask=pa.array(~rowok),
    )


def token_window_pair_counts_arrow(
    df: DataFrame, tokens_col: str, id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """(id, h, k_cnt) — one row per (document, DISTINCT k-window hash),
    with k_cnt the within-document multiplicity. Rows with no windows
    (null/child-null/short token lists) emit one sentinel row
    (id, -1, 0) so EVERY input row is represented — consumers restore
    zero-window docs without a join back to the source (real hashes are
    always >= 0, so filtering h >= 0 recovers the pure pair stream).

    This is the dedup-shaped form of the per-row window hashes: the
    per-(doc, hash) aggregation happens INSIDE the Arrow kernel
    (mapInArrow re-batches, so the operator emits pair rows directly),
    which removes the widest shuffle of the naive plan — a groupBy over
    every single window occurrence. Distinct-doc counts downstream are
    then a plain count per hash, because each doc contributes each hash
    at most once (a doc_id duplicated across input ROWS contributes once
    per row — each row is a document instance, so exact full-row
    duplicates flag each other)."""
    id_field = df.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, h bigint, k_cnt bigint"
    )
    src = df.select(F.col(id_col), F.col(tokens_col).alias("_t"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            wins = token_window_hash_kernel(batch.column("_t"), k)
            off = wins.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            lens = np.diff(off)
            child = wins.values.to_numpy(zero_copy_only=False).astype(
                np.uint64
            )
            row_of = np.repeat(np.arange(len(lens)), lens)
            key = (row_of.astype(np.uint64) << np.uint64(32)) | child
            uk, counts = np.unique(key, return_counts=True)
            rows = (uk >> np.uint64(32)).astype(np.int64)
            hs = (uk & np.uint64(0xFFFFFFFF)).astype(np.int64)
            counts = counts.astype(np.int64)
            zero_rows = np.nonzero(lens == 0)[0]
            if len(zero_rows):
                rows = np.concatenate([rows, zero_rows])
                hs = np.concatenate(
                    [hs, np.full(len(zero_rows), -1, dtype=np.int64)]
                )
                counts = np.concatenate(
                    [counts, np.zeros(len(zero_rows), dtype=np.int64)]
                )
            ids = batch.column(id_col).take(pa.array(rows, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(hs, type=pa.int64()),
                    pa.array(counts, type=pa.int64()),
                ],
                names=[id_col, "h", "k_cnt"],
            )

    return src.mapInArrow(compute, out_schema)

