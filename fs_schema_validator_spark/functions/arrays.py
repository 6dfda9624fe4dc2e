"""Vectorized Arrow kernels for the curation operators (``operators/``).

Each kernel runs inside ``mapInArrow`` over the Arrow ListArray's
offsets/values buffers as NumPy views (zero-copy for non-null primitive
values) — never Python lists, never per-row loops: MinHash and SimHash
signatures, token-window hashes, and span dedup.

The validation core uses none of them. Its array-equality diagnosis (the
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


def minhash_mix_kernel(
    h: pa.Array, num_perm: int, seed: int = 0x9E3779B97F4A7C15
) -> np.ndarray:
    """(rows, num_perm) MinHash signature matrix from per-row base-hash lists.

    Permutation p is the universal-hash mix ``A_p * x + B_p`` over uint64
    (wrap-around); constants come from a splitmix64 stream of `seed`. The
    min per row/permutation is np.minimum.reduceat over the flat values —
    one vectorized pass per permutation, no per-row Python."""
    starts, lengths, values, validity = _list_views(h)
    n = len(lengths)
    flat = values.astype(np.uint64, copy=False)
    # row segment boundaries for reduceat (empty/invalid rows handled after)
    seg = starts.astype(np.int64)
    out = np.full((n, num_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
    nonempty = (lengths > 0) & validity
    if nonempty.any():
        # splitmix64 constant stream (Python ints mod 2^64 — no overflow traps)
        mask = (1 << 64) - 1
        consts = []
        state = seed & mask
        for _ in range(2 * num_perm):
            state = (state + 0x9E3779B97F4A7C15) & mask
            z = state
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
            consts.append(np.uint64(z ^ (z >> 31)))
        seg_ne = seg[nonempty]
        with np.errstate(over="ignore"):
            for p in range(num_perm):
                a = consts[2 * p] | np.uint64(1)  # odd multiplier
                b = consts[2 * p + 1]
                mixed = flat * a + b
                out[nonempty, p] = np.minimum.reduceat(mixed, seg_ne)
    return out.astype(np.int64)


def minhash_signatures_from_hashes(
    df: DataFrame, hash_col: str, id_col: str = "doc_id", num_perm: int = 64
) -> DataFrame:
    """(id, sig array<bigint>) — Arrow-batched NumPy MinHash over a column of
    pre-hashed shingles (hash the strings JVM-side with xxhash64 first)."""
    id_field = df.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, sig array<bigint>"
    src = df.select(F.col(id_col), F.col(hash_col).alias("_h"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            h = batch.column("_h")
            sig = minhash_mix_kernel(h, num_perm)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    pa.array(
                        list(sig),
                        type=pa.list_(pa.int64()),
                        mask=_degenerate_rows(h),
                    ),
                ],
                names=[id_col, "sig"],
            )

    return src.mapInArrow(compute, out_schema)


def _degenerate_rows(h: pa.Array) -> np.ndarray:
    """Bool mask of null / empty hash-list rows.

    These rows have no hashes to minimize over, so the kernels would emit
    an identical all-sentinel signature for every one of them — and
    identical signatures collide in EVERY LSH band, pairing all such docs
    with each other. The signature wrappers emit NULL sig rows instead;
    banding drops them, and the driver's SQL oracle excludes null-text
    docs to match (DuckDB's join would otherwise pair sig=[NULL..] keys).

    Note the empty branch is defensive for DIRECT kernel callers feeding
    arbitrary hash columns: the engine's own shingle builders never
    produce an empty list — empty TEXT yields a one-element sentinel
    shingle, so empty-string docs keep a valid signature and pair with
    each other (they are exact dups) identically in both engines."""
    if isinstance(h, pa.ChunkedArray):
        h = h.combine_chunks()
    _, lengths, _, validity = _list_views(h)
    return ~validity | (lengths == 0)


def minhash_mix_mod_kernel(
    h: pa.Array, constants: list[tuple[int, int]], modulus: int
) -> np.ndarray:
    """(rows, P) MinHash signature matrix via the modular universal hash
    ``(a_p * x + b_p) mod modulus`` — the engine-portable mix.

    With modulus = 2^31-1 and 31-bit constants every product stays under
    2^62, so the whole mix runs in uint64 with no wrap-around tricks, and
    DuckDB can replay it in plain BIGINT math (the driver's oracle does).
    Same vectorized shape as minhash_mix_kernel: one elementwise mix + one
    np.minimum.reduceat per permutation. Empty/null rows emit `modulus`
    (an impossible minimum — residues are < modulus)."""
    starts, lengths, values, validity = _list_views(h)
    n = len(lengths)
    m = np.uint64(modulus)
    flat = values.astype(np.uint64, copy=False) % m
    out = np.full((n, len(constants)), modulus, dtype=np.uint64)
    nonempty = (lengths > 0) & validity
    if nonempty.any():
        seg = starts[nonempty].astype(np.int64)
        for p, (a, b) in enumerate(constants):
            mixed = (np.uint64(a) * flat + np.uint64(b)) % m
            out[nonempty, p] = np.minimum.reduceat(mixed, seg)
    return out.astype(np.int64)


def minhash_signatures_from_hashes_mod(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    constants: list[tuple[int, int]],
    modulus: int,
) -> DataFrame:
    """(id, sig array<bigint>) — Arrow-batched portable MinHash (mod-2^31-1
    universal hash) over a column of pre-hashed shingles."""
    id_field = df.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, sig array<bigint>"
    src = df.select(F.col(id_col), F.col(hash_col).alias("_h"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            h = batch.column("_h")
            sig = minhash_mix_mod_kernel(h, constants, modulus)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    pa.array(
                        list(sig),
                        type=pa.list_(pa.int64()),
                        mask=_degenerate_rows(h),
                    ),
                ],
                names=[id_col, "sig"],
            )

    return src.mapInArrow(compute, out_schema)


def token_window_hash_kernel(
    tokens: pa.Array,
    k: int,
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
) -> pa.ListArray:
    """All k-token polynomial window hashes per row of a list<int> column.

    win[i][j] = (seed*base^k + sum_t tok[i][j+t] * base^(k-1-t)) % mod —
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
    m = np.uint64(mod)
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
    flat = (values.astype(np.int64) % np.int64(mod)).astype(np.uint64)

    P = np.empty(k + 1, dtype=np.uint64)
    P[0] = 1
    b64 = np.uint64(base % mod)
    for j in range(1, k + 1):
        P[j] = P[j - 1] * b64 % m
    seed64 = np.uint64(seed % mod)

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


def token_window_hashes_arrow(
    df: DataFrame,
    tokens_col: str,
    id_col: str = "doc_id",
    k: int = 8,
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
) -> DataFrame:
    """(id, wins array<bigint>) — every k-token window hash per row."""
    id_field = df.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, wins array<bigint>"
    )
    src = df.select(F.col(id_col), F.col(tokens_col).alias("_t"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            wins = token_window_hash_kernel(
                batch.column("_t"), k, base, mod, seed
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), wins], names=[id_col, "wins"]
            )

    return src.mapInArrow(compute, out_schema)


def token_window_pair_counts_arrow(
    df: DataFrame,
    tokens_col: str,
    id_col: str = "doc_id",
    k: int = 8,
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
) -> DataFrame:
    """(id, h, k_cnt) — one row per (document, DISTINCT k-window hash),
    with k_cnt the within-document multiplicity. Rows with no windows
    (null/child-null/short token lists) emit one sentinel row
    (id, -1, 0) so EVERY input row is represented — consumers restore
    zero-window docs without a join back to the source (real hashes are
    always >= 0, so filtering h >= 0 recovers the pure pair stream).

    This is the dedup-shaped form of token_window_hashes_arrow: the
    per-(doc, hash) aggregation happens INSIDE the Arrow kernel
    (mapInArrow re-batches, so the operator emits pair rows directly),
    which removes the widest shuffle of the naive plan — a groupBy over
    every single window occurrence. Distinct-doc counts downstream are
    then a plain count per hash, because each doc contributes each hash
    at most once (a doc_id duplicated across input ROWS contributes once
    per row — each row is a document instance, so exact full-row
    duplicates flag each other). Requires mod <= 2^32 (row ordinal and
    hash pack into one uint64 sort key)."""
    if mod > 1 << 32:
        raise ValueError("token_window_pair_counts_arrow requires mod <= 2^32")
    id_field = df.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, h bigint, k_cnt bigint"
    )
    src = df.select(F.col(id_col), F.col(tokens_col).alias("_t"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            wins = token_window_hash_kernel(
                batch.column("_t"), k, base, mod, seed
            )
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


def token_span_dedup_kernel(
    tokens: pa.Array,
    dup_hs: pa.Array,
    k: int,
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
) -> tuple[pa.ListArray, np.ndarray]:
    """(tokens_clean, n_removed) — cut every token position covered by a
    duplicated k-window.

    `dup_hs` is the per-row list of this document's window hashes that
    are globally duplicated (computed upstream from the pair-count
    aggregate). The kernel recomputes the row's window hashes
    (token_window_hash_kernel — same closed form, bit-identical), marks
    each window whose hash is in the row's dup set, takes the union of
    the covered token ranges [j, j+k) (overlapping spans merge via a
    +1/-1 boundary-delta cumsum — no per-span loop), and emits the
    tokens OUTSIDE the union plus the removed-position count.

    Per-row degradation: a null token list -> (null, 0); a list shorter
    than k or containing null tokens -> no windows, passthrough
    unchanged with 0 removed (child nulls are preserved — they are a
    validation finding for the F3 family, not this operator's to
    scrub); a null/empty dup set -> passthrough."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    wins = token_window_hash_kernel(tokens, k, base, mod, seed)

    offsets = tokens.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    t_starts = offsets[:-1] - (offsets[0] if len(offsets) else 0)
    t_lens = offsets[1:] - offsets[:-1]
    child = tokens.values
    if len(offsets):
        child = child.slice(offsets[0], offsets[-1] - offsets[0])
    if tokens.null_count:
        t_ok = np.asarray(tokens.is_valid())
    else:
        t_ok = np.ones(len(tokens), dtype=bool)
    n = len(t_starts)

    ws, wl, wv, _ = _list_views(wins)
    ds, dl, dv, d_ok = _list_views(dup_hs)
    dl = np.where(d_ok, dl, 0)

    row_of_tok = np.repeat(np.arange(n), t_lens)
    # tokens belonging to NULL rows never reach the output child, even if
    # a malformed writer gave the null row a nonzero offset extent
    keep = t_ok[row_of_tok]

    total_w = int(wl.sum())
    if total_w and dl.sum():
        w_row = np.repeat(np.arange(n), wl)
        d_row = np.repeat(np.arange(n), dl)
        # pack (row, hash) into one uint64 key: hashes are < mod <= 2^31
        W = (w_row.astype(np.uint64) << np.uint64(32)) | wv.astype(
            np.uint64
        )
        total_d = int(dl.sum())
        d_cum = np.cumsum(dl) - dl
        d_pos = np.arange(total_d) - np.repeat(d_cum, dl)
        d_flat = dv[np.repeat(ds, dl) + d_pos]
        if d_flat.dtype.kind == "f":  # defensive: child nulls -> NaN
            d_flat = np.nan_to_num(d_flat, nan=-1.0)
        d_flat = d_flat.astype(np.int64)
        good_d = (d_flat >= 0) & (d_flat < np.int64(mod))
        D = (d_row[good_d].astype(np.uint64) << np.uint64(32)) | d_flat[
            good_d
        ].astype(np.uint64)
        hit = np.isin(W, D)
        hit_idx = np.nonzero(hit)[0]
        if len(hit_idx):
            rows_h = w_row[hit_idx]
            pos_h = hit_idx - ws[rows_h]
            # window j covers tokens [j, j+k); j+k <= row length by
            # construction, so a span never crosses a row boundary and
            # one global cumsum merges overlaps within every row at once
            flat_start = t_starts[rows_h] + pos_h
            delta = np.zeros(int(t_lens.sum()) + 1, dtype=np.int64)
            np.add.at(delta, flat_start, 1)
            np.add.at(delta, flat_start + k, -1)
            covered = np.cumsum(delta[:-1]) > 0
            keep &= ~covered

    kept_per_row = np.bincount(
        row_of_tok[keep], minlength=n
    ).astype(np.int64)
    n_removed = np.where(t_ok, t_lens - kept_per_row, 0).astype(np.int32)
    new_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(kept_per_row, out=new_offsets[1:])
    clean = pa.ListArray.from_arrays(
        pa.array(new_offsets, type=pa.int64()).cast(pa.int32()),
        child.filter(pa.array(keep)) if n else child,
        mask=pa.array(~t_ok),
    )
    return clean, n_removed


def token_span_dedup_arrow(
    df: DataFrame,
    tokens_col: str,
    dup_col: str,
    id_col: str = "doc_id",
    k: int = 8,
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
    passthrough: "list[str] | None" = None,
) -> DataFrame:
    """(id, tokens_clean, n_removed, *passthrough) — mapInArrow wrapper
    over token_span_dedup_kernel; `dup_col` carries each row's globally
    duplicated window hashes (array<bigint>, null when none).
    `passthrough` columns ride the kernel untouched, so a downstream
    consumer (the packer's group/order columns) never needs an id-keyed
    join-back against the corpus to recover them."""
    passthrough = passthrough or []
    id_field = df.schema[id_col]
    tok_field = df.schema[tokens_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, "
        f"tokens_clean {tok_field.dataType.simpleString()}, n_removed int"
    )
    for c in passthrough:
        out_schema += f", {c} {df.schema[c].dataType.simpleString()}"
    src = df.select(
        F.col(id_col),
        F.col(tokens_col).alias("_t"),
        F.col(dup_col).alias("_d"),
        *[F.col(c) for c in passthrough],
    )

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            clean, nrem = token_span_dedup_kernel(
                batch.column("_t"), batch.column("_d"), k, base, mod, seed
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    clean,
                    pa.array(nrem, type=pa.int32()),
                ]
                + [batch.column(c) for c in passthrough],
                names=[id_col, "tokens_clean", "n_removed"] + passthrough,
            )

    return src.mapInArrow(compute, out_schema)


def simhash_kernel(h: pa.Array, bits: int = 60) -> np.ndarray:
    """(rows,) SimHash signatures from per-row word-hash lists.

    Bit b of a row's signature is 1 iff more of its hashes have bit b set
    than unset (strict majority; ties -> 0). One vectorized pass per bit:
    extract the bit column from the flat values, segment-sum with
    np.add.reduceat, compare against half the row length. Replaces the
    pure-expression form that evaluated `bits` interpreted F.aggregate
    lambdas per row (HOF lambdas don't codegen, so that form ran far
    slower than an Arrow kernel).
    Empty/null rows get signature 0."""
    starts, lengths, values, validity = _list_views(h)
    n = len(lengths)
    flat = values.astype(np.uint64, copy=False)
    lengths = np.where(validity, lengths, 0)
    nonempty = lengths > 0
    sig = np.zeros(n, dtype=np.uint64)
    if nonempty.any():
        seg = starts[nonempty]
        ln = lengths[nonempty].astype(np.uint64)
        acc = np.zeros(len(seg), dtype=np.uint64)
        for b in range(bits):
            ones = np.add.reduceat((flat >> np.uint64(b)) & np.uint64(1), seg)
            acc |= (2 * ones > ln).astype(np.uint64) << np.uint64(b)
        sig[nonempty] = acc
    return sig.astype(np.int64)


def simhash_from_hashes(
    df: DataFrame, hash_col: str, id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """(id, simhash bigint) — Arrow-batched NumPy SimHash over a column of
    per-word hashes (compute the word hashes JVM-side first)."""
    id_field = df.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, simhash bigint"
    src = df.select(F.col(id_col), F.col(hash_col).alias("_h"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            sig = simhash_kernel(batch.column("_h"), bits)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), pa.array(sig, type=pa.int64())],
                names=[id_col, "simhash"],
            )

    return src.mapInArrow(compute, out_schema)
