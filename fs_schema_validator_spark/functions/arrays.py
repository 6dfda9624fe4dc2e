"""Vectorized Arrow kernels for the curation operators (``operators/``).

Each kernel runs inside ``mapInArrow`` (or a grouped ``applyInArrow``)
over the Arrow ListArray's offsets/values buffers as NumPy views
(zero-copy for non-null primitive values) — never Python lists, never
per-row loops: MinHash and SimHash signatures, rolling and token-window
hashes, span dedup, and the IVF/PQ/cosine scorers of the similarity
joins.

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


def _fixed_dim_matrix(
    arr: pa.Array, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """(matrix rows×dim float64, good mask) from a list column of vectors.

    Rows that are null or whose length differs from `dim` are masked out
    (zero-filled in the matrix) instead of silently gathering values from
    neighboring rows or running off the end of the flat buffer —
    wrong-dimension embeddings occur in real data (this engine ships
    `embedding_dim_violations` for exactly that), so the kernels must
    degrade per-row, not corrupt the batch. Strict equality, not >=: a
    LONGER vector is as wrong-dimension as a shorter one — truncating it
    to the first `dim` components would hand it a signature/cell the
    SQL oracles (which guard len(embedding) = dim exactly) never see,
    and downstream consumers that re-read the raw vector (e.g. the
    SemDeDup cell kernel) would receive ragged data."""
    starts, lengths, values, validity = _list_views(arr)
    good = validity & (lengths == dim)
    flat = values.astype(np.float64, copy=False)
    mat = np.zeros((len(starts), dim), dtype=np.float64)
    if good.any():
        mat[good] = flat[starts[good][:, None] + np.arange(dim)]
    return mat, good


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


def _utf8_views(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(starts, byte_lengths, data, validity) NumPy views of a string array."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    bufs = arr.buffers()
    off_dt = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(bufs[1], dtype=off_dt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    starts, lengths = offsets[:-1], offsets[1:] - offsets[:-1]
    if arr.null_count:
        validity = np.asarray(arr.is_valid())
    else:
        validity = np.ones(len(arr), dtype=bool)
    return starts, lengths, data, validity


def rolling_hash_kernel(
    texts: pa.Array,
    k: int,
    base: int = 31,
    mod: int = 2147483647,
    seed: int = 7,
) -> tuple[np.ndarray, np.ndarray]:
    """(whole, min_kgram) polynomial rolling hashes per string row.

    whole[i]     = fold h -> (h*base + code) % mod over all codepoints,
                   starting from `seed` (the Rabin-Karp document hash).
    min_kgram[i] = min over all k-codepoint windows of the same fold
                   (winnowing-style fingerprint); rows shorter than k fall
                   back to `whole`.

    True O(n) vectorization — no per-window refold: the closed form
    h = seed*base^n + sum(code_j * base^(n-1-j)) (mod m) turns the whole-doc
    hash into one aligned-powers product + segment sum, and the k-gram
    hashes into k shifted vector products. This replaces the pure-SQL form
    that re-folded every k-gram with an interpreted HOF `aggregate` over a
    per-character `slice` — O(n*k) interpreted ops per row, the hottest
    loop of the near-dup screen at corpus scale.

    Codepoints: ASCII batches take the zero-copy byte path (byte == code-
    point); a batch containing any multibyte UTF-8 decodes per row (the
    rare path — kept for correctness parity with Spark/DuckDB `ascii()`
    semantics on BMP text).
    """
    starts, blens, data, validity = _utf8_views(texts)
    n = len(blens)
    m = np.uint64(mod)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    lo, hi = int(starts[0]), int(starts[-1] + blens[-1])
    region = data[lo:hi]
    if len(region) and (region >= 0x80).any():
        codes_list = []
        for i in range(n):
            if not validity[i]:
                codes_list.append(np.empty(0, dtype=np.uint64))
                continue
            raw = data[starts[i] : starts[i] + blens[i]].tobytes()
            s = raw.decode("utf-8")
            codes_list.append(
                np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
                    np.uint64
                )
            )
        clens = np.array([len(c) for c in codes_list], dtype=np.int64)
        flat = (
            np.concatenate(codes_list)
            if clens.sum()
            else np.empty(0, dtype=np.uint64)
        )
    elif validity.all():
        clens = blens
        flat = region.astype(np.uint64)
    else:
        keep = np.repeat(validity, blens)
        clens = np.where(validity, blens, 0)
        flat = region[keep].astype(np.uint64)

    total = int(clens.sum())
    rstart = np.zeros(n, dtype=np.int64)
    np.cumsum(clens[:-1], out=rstart[1:])
    maxlen = int(clens.max()) if n else 0
    # powers of `base` mod `mod` (base*P < 2^36 — no overflow)
    P = np.empty(max(maxlen, k) + 2, dtype=np.uint64)
    P[0] = 1
    b64 = np.uint64(base)
    for j in range(1, len(P)):
        P[j] = P[j - 1] * b64 % m

    seed64 = np.uint64(seed % mod)
    whole = np.full(n, seed64, dtype=np.uint64)
    mink = whole.copy()
    nonempty = clens > 0
    if total == 0:
        return whole.astype(np.int64), mink.astype(np.int64)

    row_of = np.repeat(np.arange(n), clens)
    pos = np.arange(total) - rstart[row_of]
    expo = clens[row_of] - 1 - pos
    # terms < mod^2 < 2^62; per-term mod keeps the segment sum < len*2^31
    terms = (flat % m) * P[expo] % m
    sums = np.add.reduceat(terms, rstart[nonempty])
    whole[nonempty] = (P[clens[nonempty]] * seed64 % m + sums) % m
    mink = whole.copy()

    if total >= k and (clens >= k).any():
        nw = total - k + 1
        fm = flat % m
        W = np.zeros(nw, dtype=np.uint64)
        for j in range(k):
            W += fm[j : j + nw] * P[k - 1 - j] % m  # k terms, each < mod
        kh = (seed64 * P[k] % m + W) % m
        BIG = np.uint64(1) << np.uint64(62)
        kh_full = np.full(total, BIG, dtype=np.uint64)
        valid_w = pos[:nw] <= (clens[row_of[:nw]] - k)
        np.copyto(kh_full[:nw], kh, where=valid_w)
        mins = np.minimum.reduceat(kh_full, rstart[nonempty])
        tmp = np.full(n, BIG, dtype=np.uint64)
        tmp[nonempty] = mins
        mink = np.where(clens >= k, tmp, whole)
    return whole.astype(np.int64), mink.astype(np.int64)


def rolling_hashes_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    k: int = 8,
    base: int = 31,
    mod: int = 2147483647,
    seed: int = 7,
) -> DataFrame:
    """(id, rhash, min_kgram_hash) via the vectorized rolling-hash kernel."""
    id_field = df.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, "
        "rhash bigint, min_kgram_hash bigint"
    )
    src = df.select(F.col(id_col), F.col(text_col).alias("_t"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            whole, mk = rolling_hash_kernel(
                batch.column("_t"), k, base, mod, seed
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    pa.array(whole, type=pa.int64()),
                    pa.array(mk, type=pa.int64()),
                ],
                names=[id_col, "rhash", "min_kgram_hash"],
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
    the Rabin-Karp k-gram fingerprint over TOKEN values (the text-side
    sibling is rolling_hash_kernel's min_kgram, which keeps only the
    minimum; token-level dedup needs every window so coverage can be
    attributed back to positions).

    One vectorized pass, no per-window refold: k shifted products over the
    flat token buffer (the same closed form rolling_hash_kernel uses).
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
    lambdas per row (HOF lambdas don't codegen — measured ~100x slower
    than Arrow kernels on this container, see hyperplane_band_chunks_arrow).
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


def hyperplane_band_chunks_arrow(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, chunks array<bigint>) random-hyperplane LSH band keys via one
    BLAS matmul per Arrow batch: rows×dim @ dim×n_planes, sign bits packed
    per band (n_planes/bands bits each) into bigint chunks.

    The pure-expression alternative (zip_with+aggregate per plane) does not
    enter whole-stage codegen, so it evaluates interpreted at ~0.7 ms/row
    for 16 planes × 64 dims; this kernel measures ~100x faster and is the
    scale path for signature computation. Emitting per-band chunks (rather
    than one packed signature) lets n_planes exceed 64.

    Null or short (< dim) vectors yield a NULL chunks row (downstream
    explode drops them from banding) rather than reading stray values."""
    dim = len(planes[0])
    n_planes = len(planes)
    bits_per_band = n_planes // bands
    pl = np.asarray(planes, dtype=np.float64).T  # dim × n_planes
    weights = (1 << np.arange(bits_per_band, dtype=np.int64)).astype(np.int64)
    id_field = df.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, chunks array<bigint>"
    src = df.select(F.col(id_col), F.col(vec_col).alias("_v"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            mat, good = _fixed_dim_matrix(batch.column("_v"), dim)
            bits = ((mat @ pl) >= 0.0).astype(np.int64)
            chunks = bits.reshape(len(mat), bands, bits_per_band) @ weights
            out = [list(row) if ok else None for row, ok in zip(chunks, good)]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    pa.array(out, type=pa.list_(pa.int64())),
                ],
                names=[id_col, "chunks"],
            )

    return src.mapInArrow(compute, out_schema)


def ivf_probe_cells_arrow(
    df: DataFrame,
    centroids: "np.ndarray",
    probes: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cell) — the top-`probes` cells of EVERY row by cosine to the
    centroids, `probes` output rows per eligible input row. This is the
    batch-query side of an IVF kNN join: where ivf_assign_arrow gives
    each corpus vector its ONE home cell, this gives each QUERY vector
    the cells it must search. Per-row ordering matches the single-query
    probe contract exactly (sim DESC, cell ASC — a stable argsort of
    -sims keeps ascending cell order on ties). Ineligible rows (null /
    wrong-dim / zero-norm / non-finite) emit nothing.

    ``keep_vec=True`` passes the raw vector through as ``_v`` — the
    cogrouped cell scorer consumes (id, cell, _v) directly, so the
    query lineage never needs an id-keyed join-back to refetch its own
    vectors (mapInArrow can carry payload columns for free)."""
    cn = centroids.astype(np.float64)
    cnorm = np.linalg.norm(cn, axis=1, keepdims=True)
    cnorm[cnorm == 0] = 1.0
    cn = cn / cnorm
    dim = cn.shape[1]
    p = min(probes, cn.shape[0])
    id_field = df.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, cell int"
    if keep_vec:
        vec_field = df.schema[vec_col]
        out_schema += f", _v {vec_field.dataType.simpleString()}"
    src = df.select(F.col(id_col), F.col(vec_col).alias("_v"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # shared cosine-family eligibility contract — do not inline
            # (a contract change in the helper must reach this kernel)
            un, good = _unit_rows_masked(batch.column("_v"), dim)
            if not good.any():
                continue
            u = un[good]
            order = np.argsort(-(u @ cn.T), axis=1, kind="stable")
            cells = order[:, :p].astype(np.int32)
            take = pa.array(np.repeat(np.nonzero(good)[0], p))
            ids = batch.column(id_col).take(take)
            cols = [ids, pa.array(cells.ravel())]
            names = [id_col, "cell"]
            if keep_vec:
                cols.append(batch.column("_v").take(take))
                names.append("_v")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return src.mapInArrow(compute, out_schema)


def ivf_assign_arrow(
    df: DataFrame,
    centroids: "np.ndarray",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cell) IVF coarse-quantizer assignment: argmax cosine against the
    centroid matrix, one BLAS matmul per Arrow batch (rows×dim @
    dim×n_centroids on L2-normalized operands).

    The centroid matrix is tiny (n_centroids × dim) and ships to workers
    inside the serialized kernel closure — the moral equivalent of a
    broadcast variable. Null/short/zero-norm vectors get a NULL cell
    (excluded from every probe) instead of a garbage assignment — a zero
    vector has no direction, so cosine against it is undefined; treating
    it as ineligible keeps the kernel, the pairs strategy, and the SQL
    oracles on one contract instead of three (0 vs NaN vs null).

    ``keep_vec=True`` passes the raw vector through as ``_v`` so the
    cogrouped cell scorer shuffles (id, cell, vec) straight into its
    cell — no id-keyed join-back against the corpus to refetch
    vectors."""
    cn = centroids.astype(np.float64)
    cnorm = np.linalg.norm(cn, axis=1, keepdims=True)
    cnorm[cnorm == 0] = 1.0  # a zero centroid must not NaN-poison argmax
    cn = cn / cnorm
    dim = cn.shape[1]
    id_field = df.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, cell int"
    if keep_vec:
        vec_field = df.schema[vec_col]
        out_schema += f", _v {vec_field.dataType.simpleString()}"
    src = df.select(F.col(id_col), F.col(vec_col).alias("_v"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            mat, good = _fixed_dim_matrix(batch.column("_v"), dim)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            # finite-positive, not just positive: an Inf element gives an
            # Inf norm whose unit row carries NaN (inf/inf) — poison for argmax
            good &= np.isfinite(norms.ravel()) & (norms.ravel() > 0.0)
            norms[norms == 0] = 1.0
            cell = np.argmax((mat / norms) @ cn.T, axis=1).astype(np.int32)
            out = pa.array(
                np.ma.masked_array(cell, mask=~good), type=pa.int32()
            )
            cols = [batch.column(id_col), out]
            names = [id_col, "cell"]
            if keep_vec:
                cols.append(batch.column("_v"))
                names.append("_v")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return src.mapInArrow(compute, out_schema)


def ivf_partial_sums_arrow(
    df: DataFrame,
    centroids: "np.ndarray",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, cnt, sums array<double>) PER-ARROW-BATCH partial sums for a
    Lloyd k-means update: each batch assigns its vectors to the nearest
    centroid (same normalized-dot matmul as ivf_assign_arrow) and emits at
    most n_centroids rows of (count, vector-sum) — the map-side combine
    that makes a k-means iteration one narrow pass regardless of corpus
    size (output is O(batches × n_centroids), never O(rows)). Null/short
    vectors are skipped."""
    cn = centroids.astype(np.float64)
    src = df.select(F.col(vec_col).alias("_v"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cells, cnt, sums = ivf_partial_sums_kernel(
                batch.column("_v"), cn
            )
            if not len(cells):
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cells),
                    pa.array(cnt),
                    pa.array(list(sums), type=pa.list_(pa.float64())),
                ],
                names=["cell", "cnt", "sums"],
            )

    return src.mapInArrow(compute, "cell int, cnt bigint, sums array<double>")


def ivf_partial_sums_kernel(
    arr: pa.Array, centroids: "np.ndarray"
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
    """(live_cells int32, counts int64, sums rows×dim) for one Arrow batch:
    nearest-centroid assignment by normalized dot, skipping null/short
    AND zero-norm rows (same ineligibility contract as ivf_assign_arrow —
    a directionless vector must not vote in a cosine quantizer); zero-norm
    centroids are guarded (a NaN row would win every argmax and collapse
    assignments into one dead cell)."""
    cn = centroids.astype(np.float64)
    cnorm = np.linalg.norm(cn, axis=1, keepdims=True)
    cnorm[cnorm == 0] = 1.0
    cn = cn / cnorm
    dim = cn.shape[1]
    n_cent = cn.shape[0]
    mat, good = _fixed_dim_matrix(arr, dim)
    _n = np.linalg.norm(mat, axis=1)
    good &= np.isfinite(_n) & (_n > 0.0)
    empty = np.array([], dtype=np.int32)
    if not good.any():
        return empty, np.array([], dtype=np.int64), np.zeros((0, dim))
    mat = mat[good]
    # surviving norms are finite-positive by the mask above — reuse them
    norms = _n[good][:, None]
    cell = np.argmax((mat / norms) @ cn.T, axis=1)
    cnt = np.bincount(cell, minlength=n_cent).astype(np.int64)
    sums = np.zeros((n_cent, dim), dtype=np.float64)
    np.add.at(sums, cell, mat)
    live = cnt > 0
    return np.nonzero(live)[0].astype(np.int32), cnt[live], sums[live]


# --------------------------------------------------------------------------
# Product quantization (PQ) kernels — the vector family's memory/shuffle
# diet: a 64-dim float vector (256 B) becomes m uint8 codeword ids (m B),
# so candidate scoring shuffles shrink ~dim*4/m-fold and the ADC scan is a
# table lookup per subspace instead of a dot product.


def _unit_rows_masked(
    arr: pa.Array, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """(unit-row matrix rows×dim, good mask) — the shared eligibility
    contract of the cosine-family kernels: null / wrong-dimension /
    zero-norm rows are masked out (PQ for cosine operates on the unit
    sphere, where squared L2 is monotone in cosine: |q−v|² = 2 − 2cosθ)."""
    mat, good = _fixed_dim_matrix(arr, dim)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    good = good & np.isfinite(norms.ravel()) & (norms.ravel() > 0.0)
    norms[norms == 0] = 1.0
    return mat / norms, good


def _binary_views(
    arr: pa.Array,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(starts, lengths, data uint8, validity) views of a BinaryArray —
    the _list_views sibling for `binary` columns (Arrow cannot cast
    binary to list<uint8>, so the offsets/data buffers are read
    directly, honoring a possible array-level slice offset)."""
    _, buf_offsets, buf_data = arr.buffers()
    offsets = np.frombuffer(buf_offsets, dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(buf_data, dtype=np.uint8)
    starts, lengths = offsets[:-1], np.diff(offsets)
    if arr.null_count:
        validity = np.asarray(arr.is_valid())
    else:
        validity = np.ones(len(arr), dtype=bool)
    return starts, lengths, data, validity


def _pq_assign(u: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """rows×m argmin-L2 codeword assignment of unit rows against
    (m, ks, sub_dim) codebooks; ties go to the lowest codeword id
    (np.argmin picks the first minimum, mirroring the SQL replay's
    ORDER BY dist, cell)."""
    m, ks, sub = codebooks.shape
    codes = np.empty((len(u), m), dtype=np.int64)
    for s in range(m):
        us = u[:, s * sub : (s + 1) * sub]
        d = ((us[:, None, :] - codebooks[s][None, :, :]) ** 2).sum(-1)
        codes[:, s] = np.argmin(d, axis=1)
    return codes


def pq_encode_arrow(
    df: DataFrame,
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes binary) — each eligible vector encoded as m uint8
    codeword ids (one byte per subspace); null / wrong-dimension /
    zero-norm vectors get NULL codes. The codebook tensor (m × ks ×
    sub_dim, ks ≤ 256) ships inside the kernel closure like the IVF
    centroid matrix."""
    cb = codebooks.astype(np.float64)
    m, ks, sub = cb.shape
    if ks > 256:
        raise ValueError(f"ks must fit a byte, got {ks}")
    dim = m * sub
    id_field = df.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, codes binary"
    src = df.select(F.col(id_col), F.col(vec_col).alias("_v"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            u, good = _unit_rows_masked(batch.column("_v"), dim)
            codes = _pq_assign(u, cb).astype(np.uint8)
            out = [
                row.tobytes() if ok else None
                for row, ok in zip(codes, good)
            ]
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), pa.array(out, type=pa.binary())],
                names=[id_col, "codes"],
            )

    return src.mapInArrow(compute, out_schema)


def ivf_pq_index_arrow(
    df: DataFrame,
    centroids: "np.ndarray",
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell int, codes binary) — the standing-index build pass:
    coarse IVF assignment AND PQ encoding of every eligible vector in
    ONE Arrow sweep over the corpus (running ivf_assign_arrow and
    pq_encode_arrow separately would scan twice and join two full-corpus
    streams on the id — a shuffle the index build never needs).
    Ineligible (null / wrong-dimension / zero-norm) rows get NULL
    cell+codes; both models ship in the kernel closure.

    Also emits `qerr double` — the row's quantization error
    ‖u − recon(codes)‖, computed in the same sweep (the residual is
    already in hand at encode time). This is the per-row bound that
    makes CODE-level screens exact-safe: for unit a, b with
    reconstructions ra, rb, cos(a,b) ≤ ra·rb + |ra|·eb + ea·|rb| +
    ea·eb, every term computable from codes + qerr — so a pair screen
    over m-byte codes can prove "cosine below threshold" without ever
    touching the vectors (semantic_dedup_pq)."""
    cn = centroids.astype(np.float64)
    cnorm = np.linalg.norm(cn, axis=1, keepdims=True)
    cnorm[cnorm == 0] = 1.0
    cn = cn / cnorm
    cb = codebooks.astype(np.float64)
    m, ks, sub = cb.shape
    if ks > 256:
        raise ValueError(f"ks must fit a byte, got {ks}")
    dim = cn.shape[1]
    if m * sub != dim:
        # fail fast: _pq_assign would silently encode only the first
        # m*sub dims while eligibility used the centroid dim, producing
        # codes pq_encode_arrow (dim = m*sub) would never emit
        raise ValueError(
            f"codebooks cover {m * sub} dims but centroids have {dim}"
        )
    id_field = df.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, cell int, "
        "codes binary, qerr double"
    )
    src = df.select(F.col(id_col), F.col(vec_col).alias("_v"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            u, good = _unit_rows_masked(batch.column("_v"), dim)
            cell = np.argmax(u @ cn.T, axis=1).astype(np.int32)
            codes = _pq_assign(u, cb).astype(np.uint8)
            recon = np.concatenate(
                [cb[s, codes[:, s]] for s in range(m)], axis=1
            )
            qerr = np.linalg.norm(u - recon, axis=1)
            out_cell = pa.array(
                np.ma.masked_array(cell, mask=~good), type=pa.int32()
            )
            out_codes = [
                row.tobytes() if ok else None
                for row, ok in zip(codes, good)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    out_cell,
                    pa.array(out_codes, type=pa.binary()),
                    pa.array(
                        np.ma.masked_array(qerr, mask=~good),
                        type=pa.float64(),
                    ),
                ],
                names=[id_col, "cell", "codes", "qerr"],
            )

    return src.mapInArrow(compute, out_schema)


def pq_partial_sums_arrow(
    df: DataFrame,
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sub, cell, cnt, sums array<double>) per-batch partial sums for a
    per-subspace Lloyd update — ALL m subspaces in one Arrow pass over
    the corpus (output is O(batches × m × ks) rows, never O(rows)); the
    ivf_partial_sums_arrow pattern lifted to the PQ training loop.
    Ineligible (null/wrong-dim/zero-norm) rows are skipped."""
    cb = codebooks.astype(np.float64)
    m, ks, sub = cb.shape
    dim = m * sub
    src = df.select(F.col(vec_col).alias("_v"))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            u, good = _unit_rows_masked(batch.column("_v"), dim)
            if not good.any():
                continue
            u = u[good]
            codes = _pq_assign(u, cb)
            subs, cells, cnts, sums = [], [], [], []
            for s in range(m):
                cnt = np.bincount(codes[:, s], minlength=ks).astype(np.int64)
                acc = np.zeros((ks, sub), dtype=np.float64)
                np.add.at(acc, codes[:, s], u[:, s * sub : (s + 1) * sub])
                live = np.nonzero(cnt > 0)[0]
                subs.append(np.full(len(live), s, dtype=np.int32))
                cells.append(live.astype(np.int32))
                cnts.append(cnt[live])
                sums.extend(list(acc[live]))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(subs)),
                    pa.array(np.concatenate(cells)),
                    pa.array(np.concatenate(cnts)),
                    pa.array(sums, type=pa.list_(pa.float64())),
                ],
                names=["sub", "cell", "cnt", "sums"],
            )

    return src.mapInArrow(
        compute, "sub int, cell int, cnt bigint, sums array<double>"
    )


def pq_adc_scores_arrow(
    codes_df: DataFrame,
    lut: "np.ndarray",
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """(id, adist double) asymmetric-distance scores: the query is
    expanded once into an (m, ks) lookup table of per-subspace squared
    distances, and each stored code row costs m table lookups — no
    vector is touched at query time. NULL-codes rows get NULL adist."""
    lt = lut.astype(np.float64)
    m = lt.shape[0]
    id_field = codes_df.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, adist double"
    src = codes_df.select(F.col(id_col), F.col(codes_col).alias("_c"))
    sub_idx = np.arange(m)

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            arr = batch.column("_c")
            if isinstance(arr, pa.ChunkedArray):  # pragma: no cover
                arr = arr.combine_chunks()
            starts, lengths, values, validity = _binary_views(arr)
            good = validity & (lengths == m)
            adist = np.full(len(starts), np.nan)
            if good.any():
                codes = values[starts[good][:, None] + sub_idx].astype(
                    np.int64
                )
                adist[good] = lt[sub_idx[None, :], codes].sum(axis=1)
            out = pa.array(
                np.ma.masked_array(adist, mask=~good), type=pa.float64()
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), out], names=[id_col, "adist"]
            )

    return src.mapInArrow(compute, out_schema)


def pairwise_cosine_arrow(
    pairs_df: DataFrame,
    dim: int,
    qvec_col: str,
    cvec_col: str,
    query_id_col: str,
    id_col: str,
) -> DataFrame:
    """(qid, id, cos double) exact cosine for CANDIDATE PAIRS: each row
    carries a query vector and a corpus vector and one vectorized pass
    computes ``dot(q, c) / (|q| * |c|)`` per batch.

    Role: the exact scorer for streams that ALREADY carry both vectors
    per row — the rerank stages (shortlists of O(Q·refine·k)) of
    pq_knn_join and semantic_dedup_pq. It is NOT the corpus-wide
    hot path: measured (CHANGES.md, pairwise-cosine probe), shipping
    2×dim×4 B of vectors per candidate through the shuffle and Arrow
    IPC costs more than the interpreted HOF lambdas it replaces (kernel
    compute is 1.6 µs/row; the payload is the hot term), which is why
    the kNN joins score candidates with the cogrouped cell scorer
    (cell_cosine_pairs_arrow — vectors cross the wire once per cell,
    not once per pair). Semantics mirror the HOF
    expression: a null / wrong-dimension vector on either side → NULL
    (zip_with length-pads with null), and non-finite arithmetic
    propagates as IEEE values. One deliberate divergence: a zero norm
    product → NULL here, where the ANSI-mode HOF division would abort
    the whole job with DIVIDE_BY_ZERO — degrading the one bad pair
    beats killing a corpus-wide stage, and the kNN joins' upstream
    eligibility masks (ivf_assign/probe) make both branches
    unreachable anyway. The output is UNROUNDED — callers apply
    ``F.round`` Spark-side so the oracle rounding contract
    (half-away-from-zero) is untouched. Upstream candidate generation
    (ivf_assign/probe) already drops ineligible vectors, so the masked
    classes never reach this kernel in the kNN joins; the mask is
    defense in depth, not a semantic fork.
    """
    q_field = pairs_df.schema[query_id_col]
    id_field = pairs_df.schema[id_col]
    out_schema = (
        f"{query_id_col} {q_field.dataType.simpleString()}, "
        f"{id_col} {id_field.dataType.simpleString()}, cos double"
    )
    src = pairs_df.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col(qvec_col).alias("_qv"),
        F.col(cvec_col).alias("_cv"),
    )

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            qm, qgood = _fixed_dim_matrix(batch.column("_qv"), dim)
            cm, cgood = _fixed_dim_matrix(batch.column("_cv"), dim)
            good = qgood & cgood
            cos = np.full(len(qm), np.nan)
            if good.any():
                q = qm[good]
                c = cm[good]
                denom = np.linalg.norm(q, axis=1) * np.linalg.norm(c, axis=1)
                dot = np.einsum("ij,ij->i", q, c)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos[good] = dot / denom
                # zero divisor → NULL (see docstring: ANSI Spark would
                # abort the job here; degrade per-row instead)
                zero = np.zeros(len(qm), dtype=bool)
                zero[good] = denom == 0.0
                good = good & ~zero
            out = pa.array(
                np.ma.masked_array(cos, mask=~good), type=pa.float64()
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(query_id_col), batch.column(id_col), out],
                names=[query_id_col, id_col, "cos"],
            )

    return src.mapInArrow(compute, out_schema)


def cell_cosine_pairs_arrow(
    q_cells: DataFrame,
    c_cells: DataFrame,
    dim: int,
    query_id_col: str,
    id_col: str,
    corpus_blocks: int = 1,
    per_cell_topk: "int | None" = None,
    round_digits: "int | None" = None,
) -> DataFrame:
    """(qid, id, cos double) — (query, corpus) cosine pairs within each
    IVF cell, scored as one BLAS block matmul per cell: the
    candidate-generation AND scoring stage of the batch kNN join fused
    into a single cogroup.

    ``per_cell_topk`` keeps only each query's top-k WITHIN the cell
    block, by (cos DESC, id ASC) — the distributed top-k identity (the
    global top-k is contained in the union of per-cell top-ks, for any
    cell/block partitioning), so the emitted stream shrinks from
    O(candidates) to O(queries × probes × k) while the downstream
    global window returns the identical rows. Tie order requires
    ranking the SAME value the final window ranks, so ``round_digits``
    must be set with it: cos is rounded in-kernel with the portable
    half-away-from-zero formula (sign·floor(|x|·s + 0.5)/s — bit-equal
    to Spark's F.round and DuckDB's round; np.round would be
    half-to-even) and callers must NOT re-round. Ties on rounded cos
    resolve id-ascending via a stable argsort over an id-sorted corpus
    block.

    Inputs are the keep_vec outputs of ivf_probe_cells_arrow /
    ivf_assign_arrow: (id, cell, _v). Why cogroup instead of the
    equi-join + per-pair scoring the round-4 engine used: a per-pair
    scorer — HOF lambda or Arrow kernel — materializes both vectors on
    EVERY candidate row, so the shuffle and the Python IPC pay
    dim×4 bytes × candidates (measured: the Arrow pair kernel's compute
    is 1.6 µs/row but shipping 2×256 B per pair makes it NET SLOWER
    than the interpreted HOF expression). Here each corpus vector
    crosses the wire once per home cell and each query vector once per
    probe, the per-cell score block is one unit-normalized matmul
    (rows ship as float32; the kernel widens to float64), and only the
    (qid, id, cos) triple — ~24 B — is emitted per pair. At
    10^12-vector scale that is the difference between shuffling
    candidates × 512 B and corpus × 260 B.

    ``corpus_blocks`` bounds hot-cell tasks: the corpus side is salted
    into ``pmod(xxhash64(id), blocks)`` sub-blocks and queries are
    replicated to every block, so one giant cell becomes `blocks`
    bounded tasks (queries × cell_members output is unchanged —
    identical result, more parallelism). Eligibility (null / wrong-dim
    / zero-norm) was enforced upstream by the assign/probe kernels;
    this kernel re-masks defensively because its vectors arrive via a
    shuffle, not a trusted lineage."""
    q_field = q_cells.schema[query_id_col]
    id_field = c_cells.schema[id_col]
    out_schema = (
        f"{query_id_col} {q_field.dataType.simpleString()}, "
        f"{id_col} {id_field.dataType.simpleString()}, cos double"
    )
    if per_cell_topk is not None and round_digits is None:
        raise ValueError(
            "per_cell_topk requires round_digits: truncation must rank "
            "the same rounded value the global window ranks, or ties "
            "cut the wrong id"
        )
    keys = ["cell"]
    if corpus_blocks > 1:
        c_cells = c_cells.withColumn(
            "_blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(corpus_blocks))
        )
        q_cells = q_cells.withColumn(
            "_blk",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(corpus_blocks - 1).cast("long"),
                )
            ),
        )
        keys = ["cell", "_blk"]
    chunk = 4096

    def score(left: pa.Table, right: pa.Table) -> pa.Table:
        empty = pa.table(
            {
                query_id_col: pa.array(
                    [], type=left.schema.field(query_id_col).type
                ),
                id_col: pa.array([], type=right.schema.field(id_col).type),
                "cos": pa.array([], type=pa.float64()),
            }
        )
        if left.num_rows == 0 or right.num_rows == 0:
            return empty
        uq, gq = _unit_rows_masked(left.column("_v").combine_chunks(), dim)
        uc, gc = _unit_rows_masked(right.column("_v").combine_chunks(), dim)
        qi = np.nonzero(gq)[0]
        ci = np.nonzero(gc)[0]
        if not len(qi) or not len(ci):
            return empty
        uq, uc = uq[qi], uc[ci]
        qids = left.column(query_id_col).combine_chunks()
        cids = right.column(id_col).combine_chunks()
        if per_cell_topk is not None:
            # id-ascending corpus order makes the stable argsort below
            # resolve rounded-cos ties id-ascending — the window's
            # (cos DESC, id ASC) contract (UTF-8 byte order == code
            # point order for strings, so numpy agrees with Spark)
            o = np.argsort(
                cids.to_numpy(zero_copy_only=False)[ci], kind="stable"
            )
            ci, uc = ci[o], uc[o]
        out_q, out_c, out_s = [], [], []
        # chunk the query side so the score block stays bounded
        # (chunk × cell_members float64; corpus_blocks bounds the
        # members term on hot cells)
        for lo in range(0, len(qi), chunk):
            qs = slice(lo, lo + chunk)
            s = uq[qs] @ uc.T
            nq = s.shape[0]
            if round_digits is not None:
                scale = 10.0 ** round_digits
                s = np.sign(s) * np.floor(np.abs(s) * scale + 0.5) / scale
            if per_cell_topk is not None and s.shape[1] > per_cell_topk:
                order = np.argsort(-s, axis=1, kind="stable")[
                    :, :per_cell_topk
                ]
                rows = np.repeat(np.arange(nq), order.shape[1])
                cols = order.ravel()
                out_q.append(qids.take(pa.array(qi[qs][rows])))
                out_c.append(cids.take(pa.array(ci[cols])))
                out_s.append(pa.array(s[rows, cols], type=pa.float64()))
                continue
            out_q.append(
                qids.take(pa.array(np.repeat(qi[qs], len(ci))))
            )
            out_c.append(cids.take(pa.array(np.tile(ci, nq))))
            out_s.append(pa.array(s.ravel(), type=pa.float64()))
        return pa.table(
            {
                query_id_col: pa.concat_arrays(
                    [a.combine_chunks() if isinstance(a, pa.ChunkedArray)
                     else a for a in out_q]
                ),
                id_col: pa.concat_arrays(
                    [a.combine_chunks() if isinstance(a, pa.ChunkedArray)
                     else a for a in out_c]
                ),
                "cos": pa.concat_arrays(out_s),
            }
        )

    return (
        q_cells.groupBy(*keys)
        .cogroup(c_cells.groupBy(*keys))
        .applyInArrow(score, out_schema)
    )


def cell_pq_adc_topk_arrow(
    q_cells: DataFrame,
    codes_cells: DataFrame,
    codebooks: "np.ndarray",
    topk: int,
    query_id_col: str,
    id_col: str,
    codes_col: str = "codes",
    corpus_blocks: int = 1,
) -> DataFrame:
    """(qid, id, adist double) — each query's per-cell ADC top-k against
    a cell's PQ codes, as ONE cogroup: the standing-index analog of
    cell_cosine_pairs_arrow(per_cell_topk=...).

    Per cell, every query's (m, ks) lookup table is built ONCE from its
    unit vector (so the query vector crosses the wire `probes` times,
    never once per candidate — the per-pair kernel shipped dim×4 bytes
    of query vector on EVERY candidate row), codes gather against the
    LUTs in one vectorized pass, and only the (adist ASC, id ASC) top-k
    per query is emitted — O(queries × probes × k) rows out of
    O(candidates) scored. fp association orders are kept bit-equal to
    the single-query LUT path (lut .sum(-1) over the sub axis; per-pair
    partials as a contiguous (nq, nc, m) .sum(axis=2)) so the shortlist
    boundary never flips a last-ulp tie against the SQL replay.
    Ineligible queries and malformed code rows are dropped (the
    upstream probe/encode kernels already exclude them)."""
    cb = codebooks.astype(np.float64)
    m, ks, sub = cb.shape
    dim = m * sub
    q_field = q_cells.schema[query_id_col]
    id_field = codes_cells.schema[id_col]
    out_schema = (
        f"{query_id_col} {q_field.dataType.simpleString()}, "
        f"{id_col} {id_field.dataType.simpleString()}, adist double"
    )
    left_src = q_cells.select("cell", F.col(query_id_col), F.col("_v"))
    right_src = codes_cells.select(
        "cell", F.col(id_col), F.col(codes_col).alias("_c")
    )
    keys = ["cell"]
    if corpus_blocks > 1:
        # hot-cell salting, same contract as cell_cosine_pairs_arrow:
        # the per-(cell, block) top-k unions to a superset of the
        # per-cell top-k for ANY id partitioning, so results are
        # identical while one giant cell becomes `blocks` bounded tasks
        right_src = right_src.withColumn(
            "_blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(corpus_blocks))
        )
        left_src = left_src.withColumn(
            "_blk",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(corpus_blocks - 1).cast("long"),
                )
            ),
        )
        keys = ["cell", "_blk"]
    sub_idx = np.arange(m)

    def score(left: pa.Table, right: pa.Table) -> pa.Table:
        empty = pa.table(
            {
                query_id_col: pa.array(
                    [], type=left.schema.field(query_id_col).type
                ),
                id_col: pa.array([], type=right.schema.field(id_col).type),
                "adist": pa.array([], type=pa.float64()),
            }
        )
        if left.num_rows == 0 or right.num_rows == 0:
            return empty
        uq, gq = _unit_rows_masked(left.column("_v").combine_chunks(), dim)
        carr = right.column("_c").combine_chunks()
        starts, lengths, values, validity = _binary_views(carr)
        qi = np.nonzero(gq)[0]
        ci = np.nonzero(validity & (lengths == m))[0]
        if not len(qi) or not len(ci):
            return empty
        qids = left.column(query_id_col).combine_chunks()
        cids = right.column(id_col).combine_chunks()
        # id-ascending corpus order → stable argsort resolves adist
        # ties id-ascending (the ORDER BY adist, id contract)
        o = np.argsort(cids.to_numpy(zero_copy_only=False)[ci], kind="stable")
        ci = ci[o]
        codes = values[starts[ci][:, None] + sub_idx].astype(np.int64)
        uq = uq[qi]
        nc = len(ci)
        kk = min(topk, nc)
        out_q, out_c, out_s = [], [], []
        # bound BOTH per-chunk blocks to ~64 MB: the (chunk, nc, m)
        # partials AND the (chunk, m, ks) LUTs — LUTs are built per
        # chunk, not for the whole cell up front (a hot cell probed by
        # 10^6 queries would otherwise allocate nq·m·ks·8 B ≈ tens of
        # GB in one task before the loop even starts)
        chunk = max(1, int(8_000_000 / max(nc * m, m * ks, 1)))
        for lo in range(0, len(qi), chunk):
            qs = slice(lo, lo + chunk)
            nqc = min(chunk, len(qi) - lo)
            # this chunk's LUTs: (nqc, m, ks)
            lc = ((uq[qs].reshape(nqc, m, 1, sub) - cb[None]) ** 2).sum(-1)
            parts = np.empty((nqc, nc, m))
            for s in range(m):
                parts[:, :, s] = lc[:, s][:, codes[:, s]]
            adist = parts.sum(axis=2)
            order = np.argsort(adist, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(nqc), kk)
            cols = order.ravel()
            out_q.append(qids.take(pa.array(qi[qs][rows])))
            out_c.append(cids.take(pa.array(ci[cols])))
            out_s.append(pa.array(adist[rows, cols], type=pa.float64()))
        return pa.table(
            {
                query_id_col: pa.concat_arrays(
                    [a.combine_chunks() if isinstance(a, pa.ChunkedArray)
                     else a for a in out_q]
                ),
                id_col: pa.concat_arrays(
                    [a.combine_chunks() if isinstance(a, pa.ChunkedArray)
                     else a for a in out_c]
                ),
                "adist": pa.concat_arrays(out_s),
            }
        )

    return (
        left_src.groupBy(*keys)
        .cogroup(right_src.groupBy(*keys))
        .applyInArrow(score, out_schema)
    )


def pq_code_screen_pairs_arrow(
    codes_cells: DataFrame,
    codebooks: "np.ndarray",
    threshold: float,
    digits: int,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    err_col: str = "qerr",
    block: int = 256,
) -> DataFrame:
    """(id_a, id_b, certain boolean) — the SemDeDup within-cell screen
    run on m-BYTE PQ codes + the per-row quantization error, never on
    vectors. For unit rows a, b with reconstructions ra, rb and errors
    ea = ‖a − ra‖: ra·rb − x ≤ cos(a,b) ≤ ra·rb + x where
    x = |ra|·eb + ea·|rb| + ea·eb — every term computable from the
    codes (codeword dot tables ship in the closure) and the stored
    qerr. Per cell (rows id-sorted, keep-first orientation a < b),
    blockwise over the same O(m²) SemDeDup flop budget:

      * upper bound < threshold − slack  → pair PROVEN clean: dropped
        without ever touching a vector;
      * lower bound ≥ threshold + slack → b PROVEN dup: ONE
        (null, id_b, certain=true) row, no verify;
      * otherwise → (id_a, id_b, certain=false) candidate for the
        exact-cosine verify.

    `slack` covers the round-to-`digits` contract (round(cos) ≥ t ⟺
    cos ≥ t − 0.5·10⁻ᵈ) plus a 1e-9 guard for the bound arithmetic's
    own fp error, so the final flag set is EXACTLY the all-pairs
    kernel's. Null/malformed rows never reach this kernel (the index
    build excluded them)."""
    cb = codebooks.astype(np.float64)
    m, ks, sub = cb.shape
    # per-subspace codeword dot tables: (m, ks, ks), ≤ 4 MB at ks=256
    cdots = np.stack([cb[s] @ cb[s].T for s in range(m)])
    rnorm_sq_tab = np.stack([np.diag(cdots[s]) for s in range(m)])
    id_field = codes_cells.schema[id_col]
    id_t = id_field.dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, certain boolean"
    # round(cos) >= t  <=>  round(cos) >= (smallest GRID point >= t)
    #                  <=>  cos >= that grid point - 0.5 * 10^-digits.
    # The ceil matters for OFF-grid thresholds (t = 0.951234, digits=5:
    # the dup condition is cos >= 0.951235, not t - 0.5e-5 = 0.951229 —
    # skipping it would let the lower-bound proof flag pairs the exact
    # kernel rejects); the -1e-9 guards fp like 0.95124*1e5 landing at
    # 95124.00000000001 and ceiling to the NEXT grid point.
    import math

    scale = 10.0 ** digits
    t_eff = math.ceil(threshold * scale - 1e-9) / scale - 0.5 / scale
    eps = 1e-9
    src = codes_cells.select(
        "cell",
        F.col(id_col),
        F.col(codes_col).alias("_c"),
        F.col(err_col).alias("_e"),
    )
    sub_idx = np.arange(m)

    def screen(table: pa.Table) -> pa.Table:
        ids_arr = table.column(id_col).combine_chunks()
        carr = table.column("_c").combine_chunks()
        starts, lengths, values, validity = _binary_views(carr)
        errs = table.column("_e").to_numpy(zero_copy_only=False)
        ok = validity & (lengths == m) & np.isfinite(errs)
        idx = np.nonzero(ok)[0]
        empty = pa.table(
            {
                "id_a": pa.array([], type=ids_arr.type),
                "id_b": pa.array([], type=ids_arr.type),
                "certain": pa.array([], type=pa.bool_()),
            }
        )
        if len(idx) < 2:
            return empty
        ids_np = ids_arr.to_numpy(zero_copy_only=False)[idx]
        order = np.argsort(ids_np, kind="stable")
        idx = idx[order]
        codes = values[starts[idx][:, None] + sub_idx].astype(np.int64)
        e = errs[idx]
        rn = np.sqrt(
            np.maximum(rnorm_sq_tab[sub_idx[:, None], codes.T].sum(0), 0.0)
        )
        n = len(idx)
        out_a, out_b, out_c = [], [], []
        certain = np.zeros(n, dtype=bool)
        for lo in range(1, n, block):
            hi = min(lo + block, n)
            rdot = np.zeros((hi - lo, hi))
            for s in range(m):
                rdot += cdots[s][codes[lo:hi, s][:, None],
                                 codes[:hi, s][None, :]]
            x = (
                rn[lo:hi, None] * e[None, :hi]
                + e[lo:hi, None] * rn[None, :hi]
                + e[lo:hi, None] * e[None, :hi]
            )
            upper = rdot + x
            lower = rdot - x
            # each b index is visited exactly once across blocks (lo
            # strides by `block`), so no cross-block skip logic exists
            for kk in range(hi - lo):
                b = lo + kk
                if (lower[kk, :b] >= t_eff + eps).any():
                    certain[b] = True
                    continue
                cand_a = np.nonzero(upper[kk, :b] >= t_eff - eps)[0]
                if len(cand_a):
                    out_a.append(ids_arr.take(pa.array(idx[cand_a])))
                    out_b.append(
                        ids_arr.take(pa.array(np.full(len(cand_a), idx[b])))
                    )
                    out_c.append(
                        pa.array(np.zeros(len(cand_a), dtype=bool))
                    )
        cb_idx = np.nonzero(certain)[0]
        if len(cb_idx):
            out_a.append(pa.nulls(len(cb_idx), type=ids_arr.type))
            out_b.append(ids_arr.take(pa.array(idx[cb_idx])))
            out_c.append(pa.array(np.ones(len(cb_idx), dtype=bool)))
        if not out_b:
            return empty
        fix = (
            lambda a: a.combine_chunks()
            if isinstance(a, pa.ChunkedArray)
            else a
        )
        return pa.table(
            {
                "id_a": pa.concat_arrays([fix(a) for a in out_a]),
                "id_b": pa.concat_arrays([fix(a) for a in out_b]),
                "certain": pa.concat_arrays(out_c),
            }
        )

    return src.groupBy("cell").applyInArrow(screen, out_schema)
