"""Similarity search over embedding columns.

* ``cosine_scores`` — brute-force cosine against one query vector as a pure
  JVM expression (zip_with/aggregate): the exact baseline. One scan, no
  shuffle, trivially data-parallel — at 10^12 rows this is scan-bound.
* ``topk_cosine`` — exact top-k via per-partition top-k then global merge
  (orderBy+limit lets Catalyst run TakeOrderedAndProject — no full sort).
* ``lsh_bucketed_topk`` — the scale path: random-hyperplane LSH buckets
  (sign bits of fixed pseudo-random projections), search only the query's
  bucket (and optionally neighboring probes). Signatures come from one
  BLAS matmul per Arrow batch; bucketing is a groupBy-free filter on
  equality.
* ``semantic_dedup`` / ``semantic_dedup_pq`` — SemDeDup within IVF cells,
  scored per cell with BLAS (vectors) or screened from standing-index
  codes.
* ``ivf_knn_join`` / ``pq_knn_join`` — batch kNN joins: one cogroup on
  the cell id scores every query's candidates per cell, so vectors cross
  the wire once per cell, never once per candidate pair.

Each operator has one scoring path. None scores per candidate pair:
shipping both vectors on every candidate row costs more than the
arithmetic (BENCH/BASELINE.md, "Batch-kNN scoring strategies").
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_scores(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 5,
) -> DataFrame:
    """(id, cos) cosine similarity of every row against `query` (rounded for
    engine-portable comparison)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return df.select(F.col(id_col), F.round(cos, digits).alias("cos"))


def topk_cosine(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine; deterministic tie-break on id."""
    scored = cosine_scores(df, query, vec_col, id_col)
    return scored.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# LSH (random hyperplane) — the 100 TB path


def _projection_matrix(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy dependency in
    the plan; tiny driver-side constant folded into the expression)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 128,
    bands: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    digits: int = 5,
    max_bucket: int | None = 512,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: multi-band
    random-hyperplane LSH proposes candidates, exact cosine (double math)
    verifies them.

    A pair is a candidate if ANY of the `bands` (n_planes/bands)-bit band
    keys matches. Defaults (8 bands × 16 bits) make random collisions
    negligible — an orthogonal pair matches a 16-bit band with p = 2^-16,
    so expected false candidates ≈ N²·bands/2^17 — while a near-identical
    pair (cos ≥ 0.999, plane-flip prob θ/π ≈ 0.014) matches a band with
    p = (1−θ/π)^16 ≈ 0.79 and ALL-band miss probability (1−0.79)^8 ≈ 3e-6.
    The earlier 4-bit-band layout collapsed 2k vectors into 16 buckets and
    generated 540k candidate pairs; this layout generates ~hundreds.
    Candidates come from one groupBy per band key — shuffle keys are
    (band, chunk) ints, no self-join — and the exact score join touches
    only candidate participants.

    Band keys come from one BLAS matmul per Arrow batch (see
    hyperplane_band_chunks_arrow); the HOF expression form does not
    codegen and runs ~100x slower."""
    from ..functions.arrays import hyperplane_band_chunks_arrow
    from ..functions.cache import track
    from .dedup import bucket_pairs

    planes = _projection_matrix(dim, n_planes, seed)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sigs = hyperplane_band_chunks_arrow(df, planes, bands, vec_col, id_col)
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(F.col("chunks")).alias("band", "chunk"),
    )
    cand = track(
        # bucket-wise pair expansion with the hot-bucket cap (exact-dup
        # embedding clusters collide in every band; see bucket_pairs);
        # consumed twice (participant ids + the score join), so cached —
        # release with functions.cache.release_all() after the action
        bucket_pairs(
            banded, ["band", "chunk"], id_col, "id_a", "id_b", max_bucket
        ).cache()
    )
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    participants = df.join(F.broadcast(ids), id_col, "left_semi")
    left = participants.select(
        F.col(id_col).alias("id_a"), v.alias("va")
    )
    right = participants.select(
        F.col(id_col).alias("id_b"), v.alias("vb")
    )
    scored = cand.join(left, "id_a").join(right, "id_b")
    cos = _dot(F.col("va"), F.col("vb")) / (
        _norm(F.col("va")) * _norm(F.col("vb"))
    )
    return (
        scored.select("id_a", "id_b", F.round(cos, digits).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def lsh_bucketed_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    probes: int = 9,
) -> DataFrame:
    """Approximate top-k: score only rows in the query's LSH bucket plus
    its `probes-1` Hamming-distance-1 neighbor buckets (multi-probe LSH —
    a vector just across one hyperplane lands one bit-flip away, so
    probing neighbors recovers most of the recall lost to quantization at
    ~probes/2^n_planes of the corpus scanned).

    With B = 2^n_planes buckets the candidate set is ~N·probes/B;
    partition pruning applies if the table is written bucketed by the
    signature (the intended layout at scale): the IN-list filter on the
    bucket id prunes file groups before the scan.

    Signatures come from the BLAS matmul kernel
    (hyperplane_band_chunks_arrow, bands=1 — one packed sig per row;
    the HOF expression form doesn't codegen, ~100x slower) with a
    broadcast semi-join from the probed bucket ids back to the table;
    at scale the bucketed-layout pruning replaces that join entirely.

    When probes >= n_planes + 1 the probe set is exactly the Hamming<=1
    ball around the query's signature — the form the DuckDB oracle
    replays with bit_count(xor(sig, qsig)) <= 1."""
    from ..functions.arrays import hyperplane_band_chunks_arrow

    dim = len(query)
    planes = _projection_matrix(dim, n_planes, seed)
    # probe order: flip the planes the query is closest to first
    probe_sigs = _probe_sigs(query, planes, probes)
    sigs = hyperplane_band_chunks_arrow(df, planes, 1, vec_col, id_col)
    in_bucket = sigs.filter(
        F.element_at(F.col("chunks"), 1).isin(probe_sigs)
    ).select(id_col)
    candidates = df.join(F.broadcast(in_bucket), id_col, "left_semi")
    return topk_cosine(candidates, query, k, vec_col, id_col)


def _probe_sigs(query: list[float], planes: list[list[float]], probes: int) -> list[int]:
    """Query signature + the `probes-1` lowest-margin one-bit flips —
    shared by the in-flight (lsh_bucketed_topk) and materialized-index
    (topk_from_index) paths so the two can never diverge."""
    qsig = 0
    margins = []
    for i, plane in enumerate(planes):
        d = sum(a * b for a, b in zip(query, plane))
        margins.append((abs(d), i))
        if d >= 0:
            qsig |= 1 << i
    return [qsig] + [
        qsig ^ (1 << i) for _, i in sorted(margins)[: max(0, probes - 1)]
    ]


def write_ann_index(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    table: str = "fsv_ann_index",
    buckets: int = 32,
) -> str:
    """Materialize the LSH-bucketed ANN layout: vectors + their packed
    hyperplane signature, written as a table BUCKETED BY the signature.

    This is the storage half of the `lsh_bucketed_topk` docstring's scale
    claim, made real: a probe's `_sig IN (...)` filter prunes buckets at
    the SCAN (the executed plan shows `SelectedBucketsCount: p of N`), so
    a query touches ~probes/2^n_planes of the files instead of filtering
    after a full scan. Signatures come from the BLAS kernel; the Iceberg
    equivalent is a `bucket(N, _sig)` partition transform."""
    from ..functions.arrays import hyperplane_band_chunks_arrow
    from ..sources.tables import write_bucketed

    planes = _projection_matrix(dim, n_planes, seed)
    sigs = hyperplane_band_chunks_arrow(df, planes, 1, vec_col, id_col).select(
        id_col, F.element_at(F.col("chunks"), 1).alias("_sig")
    )
    indexed = df.join(sigs, id_col)
    write_bucketed(indexed, table, ["_sig"], buckets=buckets, sort=False)
    return table


def topk_from_index(
    spark,
    table: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    probes: int = 9,
) -> DataFrame:
    """Approximate top-k against a `write_ann_index` table: the probe-set
    IN filter on `_sig` hits the bucketed layout, so only the probed
    buckets' files are scanned (`SelectedBucketsCount: p out of N` in the
    executed plan).

    Note: Spark's DisableUnnecessaryBucketedScan planner rule drops the
    bucketed scan for plans with no distribution requirement — which also
    drops FILE pruning and leaves only row-group filter pushdown. Probe
    queries are exactly the case where pruning matters, so this flag is
    pinned off FOR THE SESSION and deliberately not restored: it must
    still be set when the returned (lazy) DataFrame is planned at action
    time — after this function returns — so a save/restore here would
    silently lose the pruning. A cluster deployment sets it once in
    spark-submit conf; a session mixing probe queries with plans that
    benefit from auto-disabled bucketed scans resets it manually."""
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    planes = _projection_matrix(len(query), n_planes, seed)
    probe_sigs = _probe_sigs(query, planes, probes)
    candidates = spark.table(table).filter(F.col("_sig").isin(probe_sigs))
    return topk_cosine(candidates, query, k, vec_col, id_col)


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_centroids: int = 16,
    probes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Centroids are a deterministic sample (the first `n_centroids` rows by
    id — at production scale, k-means trained offline and stored); every
    vector is assigned to its nearest centroid by one Arrow matmul
    (ivf_assign_arrow), and the query scans only the `probes` cells whose
    centroids are closest to it — ~probes/n_centroids of the corpus, with
    partition pruning if the table is written partitioned by cell.

    The deterministic-sample quantizer keeps the operator reproducible
    (testable against exact top-k); swap the centroid source for trained
    means without touching the plan."""
    centroids = _collect_seed_matrix(df, n_centroids, vec_col, id_col)
    return _probe_topk(df, centroids, query, k, probes, vec_col, id_col)


def seed_centroids(
    df: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "np.ndarray":
    """Public wrapper for the deterministic id-ordered seed quantizer
    (the reproducible default `ivf_topk` / `semantic_dedup` use); at
    production scale prefer train_centroids_kmeans."""
    return _collect_seed_matrix(df, n_centroids, vec_col, id_col)


def _collect_seed_matrix(
    df: DataFrame, n_centroids: int, vec_col: str, id_col: str
) -> "np.ndarray":
    """Deterministic id-ordered seed centroids; null, wrong-dimension,
    and ZERO-NORM vectors are skipped (they occur in real data — the
    engine ships embedding_dim_violations for exactly that, and the
    Arrow kernels degrade per-row; the driver-side sample must too).
    The zero-norm exclusion is load-bearing for oracle parity: a zero
    centroid scores cosine 0 in the kernels (guarded norm) but NULL in
    a SQL replay (dp/0), so the shared _SEED_WINDOW_SQL contract keeps
    one out of the window on both sides. Null/NaN/Inf ELEMENTS are
    excluded for the same reason with opposite polarity: np.asarray
    turns a None element into a NaN centroid row whose scores poison
    every argmax engine-side, while DuckDB's sum() silently skips null
    terms and scores the same centroid normally; an Inf element gives
    an Inf norm whose unit row carries NaN (inf/inf) with the same
    asymmetry.

    Cost note: the exists()/isnan lambdas are HOFs (interpreted, no
    codegen), but this is a once-per-TRAINING seed scan, not a query
    path — pq_topk_from_index reads frozen models from the index
    sidecar and never runs it; a 10^12-row deployment persists the
    coarse centroids the same way."""
    import numpy as np

    rows = (
        # null ids are excluded, not just null vectors: Spark sorts
        # nulls FIRST ascending (DuckDB/ANSI default is last), so a
        # null-id row would silently shift the id-ordered window
        df.filter(
            F.col(vec_col).isNotNull()
            & F.col(id_col).isNotNull()
            & F.exists(F.col(vec_col), lambda x: x != F.lit(0))
            & ~F.exists(
                F.col(vec_col),
                lambda x: x.isNull()
                | F.isnan(x)
                | (F.abs(x) == F.lit(float("inf"))),
            )
        )
        .orderBy(F.col(id_col))
        .limit(n_centroids * 2)
        .select(vec_col)
        .collect()
    )
    return _clean_matrix(
        [list(r[0]) for r in rows], n_centroids
    )


def _clean_matrix(vecs: list, limit: int) -> "np.ndarray":
    """Rectangular float64 matrix from possibly-ragged driver-side rows:
    the modal length wins, other rows are dropped, capped at `limit`."""
    import numpy as np
    from collections import Counter

    lens = Counter(len(v) for v in vecs)
    if not lens:
        raise ValueError("no usable vectors to seed centroids")
    dim = lens.most_common(1)[0][0]
    kept = [v for v in vecs if len(v) == dim][:limit]
    return np.asarray(kept, dtype=np.float64)


def _safe_unit_rows(m: "np.ndarray") -> "np.ndarray":
    """Row-normalize with a zero-norm guard: an all-zero centroid would
    otherwise become a NaN row whose NaN scores win every argmax,
    silently collapsing all assignments into one dead cell."""
    import numpy as np

    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _probe_cells(
    centroids: "np.ndarray", query: list[float], probes: int
) -> tuple[list[int], "np.ndarray"]:
    """(probe cell ids, unit query vector): rank cells by query-centroid
    cosine with the oracles' deterministic tie-break (sim DESC, cell ASC
    — a bare argsort is quicksort, unstable on bit-identical duplicate
    seed centroids)."""
    import numpy as np

    q = np.asarray(query, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    cn = _safe_unit_rows(centroids)
    sims = cn @ qn
    # np.lexsort keys are minor-to-major: cell index breaks sim ties
    order = np.lexsort((np.arange(len(sims)), -sims))
    return [int(c) for c in order[:probes]], qn


def _coarse_probe(
    df: DataFrame,
    centroids: "np.ndarray",
    query: list[float],
    probes: int,
    vec_col: str,
    id_col: str,
) -> tuple[DataFrame, "np.ndarray"]:
    """(probed-cell candidate ids, unit query vector) — the coarse step
    every query-time IVF strategy shares: rank the probe cells, assign
    the corpus with the Arrow matmul kernel, keep ids in the probed
    cells."""
    from ..functions.arrays import ivf_assign_arrow

    probe_cells, qn = _probe_cells(centroids, query, probes)
    assigned = ivf_assign_arrow(df, centroids, vec_col, id_col)
    in_cells = assigned.filter(F.col("cell").isin(probe_cells)).select(id_col)
    return in_cells, qn


def _probe_topk(
    df: DataFrame,
    centroids: "np.ndarray",
    query: list[float],
    k: int,
    probes: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared IVF probe tail (used by both the sample and the k-means
    quantizer): coarse-probe the cells, semi-join the survivors, exact
    top-k inside them."""
    in_cells, _ = _coarse_probe(df, centroids, query, probes, vec_col, id_col)
    candidates = df.join(F.broadcast(in_cells), id_col, "left_semi")
    return topk_cosine(candidates, query, k, vec_col, id_col)


def _farthest_point_init(
    sample: "np.ndarray", k: int
) -> "np.ndarray":
    """Greedy k-center seeding over a driver-side sample: start at row 0,
    repeatedly add the point farthest from its nearest chosen seed.
    Deterministic, O(sample × k), and — unlike an id-ordered head sample —
    guaranteed to spread seeds across well-separated clusters (an
    id-ordered head can land every seed inside ONE cluster, after which
    Lloyd cannot recover the others: empty cells keep stale seeds)."""
    import numpy as np

    chosen = [0]
    d2 = ((sample - sample[0]) ** 2).sum(axis=1)
    while len(chosen) < min(k, len(sample)):
        nxt = int(np.argmax(d2))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((sample - sample[nxt]) ** 2).sum(axis=1))
    return sample[chosen]


def train_centroids_kmeans(
    df: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: str = "spread",
    init_sample: int = 512,
) -> "np.ndarray":
    """Distributed Lloyd k-means for the IVF coarse quantizer.

    init="spread" (default): a deterministic md5-ordered sample of
    `init_sample` rows is collected (bounded driver footprint) and seeded
    by greedy farthest-point — reproducible AND cluster-covering.
    init="sample": the id-ordered head ivf_topk uses (kept for A/B).

    Each iteration is ONE narrow pass: an Arrow kernel emits per-batch
    (cell, count, vector-sum) partials — O(batches × n_centroids) rows,
    never O(rows) — merged on the driver (the same bounded per-iteration
    driver footprint MLlib's k-means accepts). Empty cells keep their
    previous centroid.

    Iterative fixpoint over floating means — deliberately NOT given a SQL
    oracle (the driver contract's documented carve-out for iterative
    algorithms); correctness is pinned by tests: inertia drop, recovered
    cluster means, and exact-top-k recall on clustered fixtures."""
    import numpy as np

    from ..functions.arrays import ivf_partial_sums_arrow

    if init == "spread":
        sample_rows = (
            df.filter(F.col(vec_col).isNotNull())
            .orderBy(F.md5(F.col(id_col).cast("string")))
            .limit(init_sample)
            .select(vec_col)
            .collect()
        )
        # modal-dimension cleanup: null rows were filtered above, but
        # wrong-dimension vectors in the sample would make the matrix
        # ragged (asarray ValueError) — drop them like the Arrow kernels do
        sample = _clean_matrix([list(r[0]) for r in sample_rows], init_sample)
        centroids = _farthest_point_init(sample, n_centroids)
    elif init == "sample":
        centroids = _collect_seed_matrix(df, n_centroids, vec_col, id_col)
    else:
        raise ValueError(f"unknown init {init!r}")
    for _ in range(n_iter):
        parts = ivf_partial_sums_arrow(df, centroids, vec_col).collect()
        cnt = np.zeros(len(centroids), dtype=np.int64)
        sums = np.zeros_like(centroids)
        for r in parts:
            cnt[r.cell] += r.cnt
            sums[r.cell] += np.asarray(r.sums)
        live = cnt > 0
        centroids = centroids.copy()
        centroids[live] = sums[live] / cnt[live, None]
    return centroids


def semantic_dedup(
    df: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 5,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the IVF coarse quantizer,
    compare pairs only WITHIN a cell, and flag every row whose cosine to a
    smaller-id cell-mate reaches `threshold` (keep-first semantics, the
    same convention as dedup.keep_first).

    Returns one row per input row: (id, cell, is_dup). Rows whose vector
    is null or the wrong dimension — or whose id is null (keep-first
    needs an order, and a per-row verdict needs a joinable key) — get a
    NULL cell and is_dup=false; they never enter the comparison.

    One Arrow-matmul assignment pass, ONE shuffle grouping each cell's
    rows, then a per-cell NumPy kernel that computes the cosine block
    matrix with BLAS (row blocks against all earlier rows, so memory
    stays O(block × cell) while flops are the O(m²) SemDeDup already
    accepts per cluster). No pair materialization, no interpreted
    per-pair HOF, and no hot-cell cap — ~10x faster than verifying
    materialized within-cell pairs at 2k vectors, and the gap grows
    quadratically. n_centroids grows with the corpus so cells stay
    bounded; at 10^12 rows the quantizer comes from
    train_centroids_kmeans instead of the id-ordered seed sample."""
    from ..functions.arrays import ivf_assign_arrow
    from ..functions.cache import track

    if centroids is None:
        # default quantizer: id-ordered seed sample of `df` itself; pass
        # `centroids` explicitly to seed from a different frame (e.g. a
        # base table when `df` mixes in derived rows) or from
        # train_centroids_kmeans
        centroids = _collect_seed_matrix(df, n_centroids, vec_col, id_col)
    assigned = track(ivf_assign_arrow(df, centroids, vec_col, id_col).cache())
    # rows that cannot participate: null cell (bad vector) or null id
    cell_out = F.when(F.col(id_col).isNotNull(), F.col("cell")).alias("cell")
    eligible = assigned.filter(
        F.col("cell").isNotNull() & F.col(id_col).isNotNull()
    )
    flagged = _cell_dedup_kernel(
        df, eligible, threshold, vec_col, id_col, digits,
        dim=centroids.shape[1],
    )
    out = assigned.join(flagged, id_col, "left")
    return out.select(
        id_col,
        cell_out,
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )


def _cell_dedup_kernel(
    df: DataFrame,
    eligible: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
    digits: int,
    dim: int,
    block: int = 256,
) -> DataFrame:
    """(id, is_dup) for every eligible row: per-cell blockwise cosine
    flags via applyInPandas. Rows are ordered by id inside the cell;
    a row is a dup if any earlier row's cosine (rounded to `digits`, the
    same round-before-threshold contract as the SQL oracle) reaches the
    threshold. Block-at-a-time `X[block] @ X[:upper].T` keeps peak memory
    O(block × cell) on a degenerate giant cell instead of O(cell²).

    Eligible rows all share the centroid dimension (ivf_assign_arrow's
    strict == dim mask guarantees it), so the cell matrix is
    rectangular. Rounding is half-away-from-zero, NOT np.round's
    half-to-even — Spark's F.round and DuckDB's round() both round ties
    away from zero, and the SQL oracle replay goes through those."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    scale = 10.0 ** digits

    def flag_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
        )
        mat = _safe_unit_rows(mat)
        m = len(pdf)
        dup = np.zeros(m, dtype=bool)
        for lo in range(1, m, block):
            hi = min(lo + block, m)
            # cosine of rows [lo, hi) against ALL rows before hi
            raw = mat[lo:hi] @ mat[:hi].T
            sims = np.sign(raw) * np.floor(np.abs(raw) * scale + 0.5) / scale
            for k in range(hi - lo):
                i = lo + k
                dup[i] = bool((sims[k, :i] >= threshold).any())
        return pd.DataFrame({id_col: pdf[id_col], "is_dup": dup})

    # the join back to re-fetch vectors is keyed by id: with a DUPLICATED
    # id, an eligible (dim-length) row would also pick up its sibling's
    # possibly wrong-dimension vector and go ragged — re-assert the exact
    # length on the fetched side, not just on the eligibility side
    src = (
        eligible.join(
            df.select(
                id_col, F.col(vec_col).cast("array<double>").alias("_v")
            ),
            id_col,
        )
        .filter(F.size("_v") == F.lit(dim))
        .select(id_col, "cell", "_v")
    )
    return src.groupBy("cell").applyInPandas(
        flag_cell, f"{id_col} {id_type}, is_dup boolean"
    )


def semantic_dedup_pq(
    spark,
    path: str,
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 5,
) -> DataFrame:
    """SemDeDup against a write_pq_index STANDING index — the same
    (id, cell, is_dup) contract and the same flag set as
    semantic_dedup, at the index's cost model:

    * the within-cell screen reads m-byte CODES + the 8-byte stored
      quantization error, never vectors — the cell-grouped relation
      shrinks ~(dim·4)/(m+8)-fold, and the codes table is already
      cell-partitioned so the screen's only wide move is its output;
    * pq_code_screen_pairs_arrow PROVES pairs clean (upper bound below
      threshold) or dup (lower bound above) from the codes alone; only
      the uncertain band fetches raw vectors for the exact rounded
      cosine — the candidates-only pattern the LSH family uses;
    * exactness is preserved: the bounds bracket the true cosine with
      rounding slack, so certain ∪ verified == the all-pairs flags
      (asserted in tests against semantic_dedup on the same quantizer).

    Operating envelope (measured, tools/bench_semantic_pq.py): the
    screen's pruning power is the threshold margin (threshold − bulk
    in-cell cosine) against ~2·qerr. Codes must be fine enough that
    2·qerr < margin — at dim 64 that was m=32/ks=256 (99% of pairs
    proven from codes); at m=8 (qerr ≈ 0.5) the bounds resolve nothing
    and the operator degrades to all-pairs-verify, slower than
    semantic_dedup's direct BLAS. Check the index's stored `qerr`
    percentiles against your margin before choosing this path; the
    win grows with embedding width (the vector kernel shuffles dim×4 B
    per row, the screen m+8 B).

    The index's coarse quantizer defines the cells — build the index
    with the same `centroids` you would hand semantic_dedup for
    byte-identical output. Only indexed rows whose id is in `df` are
    compared, so for any `df` drawn from the indexed corpus the flags
    are those of semantic_dedup(df). Rows of `df` absent from the
    index (ineligible vectors, null ids, unindexed newcomers) report
    NULL cell / is_dup false, exactly the semantic_dedup convention for
    non-participants."""
    from ..functions.arrays import (
        pairwise_cosine_arrow,
        pq_code_screen_pairs_arrow,
    )
    from ..functions.cache import track

    coarse, cb = _load_pq_model(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    # screen only the indexed rows that are also in `df`: a keeper the
    # caller left out must neither prove a certain dup nor drop an
    # uncertain pair at the vector fetch, so both branches answer for
    # semantic_dedup(df) on the index's quantizer
    in_df = codes.join(df.select(id_col), id_col, "left_semi")
    # the screen feeds two branches (certain + uncertain) — cache it or
    # the O(cell²) code kernel runs twice per action (the repo's
    # don't-refeed-expensive-lineage rule)
    screen = track(
        pq_code_screen_pairs_arrow(
            in_df, cb, threshold, digits, id_col=id_col
        ).cache()
    )
    certain = screen.filter(F.col("certain")).select(
        F.col("id_b").alias(id_col)
    )
    pairs = screen.filter(~F.col("certain"))
    v = df.select(id_col, F.col(vec_col).alias("_v"))
    # uncertain band only: two id-keyed vector fetches — AQE broadcasts
    # the pair side when the band is small (the common case: bounds
    # resolve almost everything at SemDeDup thresholds)
    joined = (
        pairs.join(
            v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va")),
            "id_a",
        )
        .join(
            v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb")),
            "id_b",
        )
    )
    verified = (
        pairwise_cosine_arrow(
            joined, coarse.shape[1], "_va", "_vb", "id_a", "id_b"
        )
        .select("id_b", F.round(F.col("cos"), digits).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias(id_col))
    )
    dup_ids = certain.unionByName(verified).distinct().withColumn(
        "_dup", F.lit(True)
    )
    out = (
        df.select(id_col)
        .join(codes.select(id_col, "cell"), id_col, "left")
        .join(dup_ids, id_col, "left")
    )
    return out.select(
        id_col,
        "cell",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
    )


def embedding_cell_drift(
    df: DataFrame,
    groups: DataFrame,
    n_centroids: int = 16,
    centroids: "np.ndarray | None" = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    group_col: str = "grp",
    digits: int = 4,
) -> DataFrame:
    """(grp, psi) — distribution drift of each group's EMBEDDINGS against
    the global corpus, measured in IVF-cell space: the validation-engine
    drift family (histogram PSI over value buckets) extended to the
    embedding column, where there is no scalar to bucket — the coarse
    quantizer's cells ARE the buckets. A group whose vectors concentrate
    in cells the corpus spreads across (a crawl snapshot gone
    template-heavy, a source drifting topic) shows a high PSI exactly
    like a drifting scalar column would.

    Shape: one Arrow argmax assignment pass (frozen `centroids` from a
    standing index / train_centroids_kmeans at scale — the pinned seed
    quantizer by default for SQL replay), an id-keyed label join, a
    (grp, cell) partial-agg histogram, and the shared PSI-vs-global grid
    tail (sketches.psi_from_hist — same EPS clamp, same full-grid
    missing-bucket terms as the scalar form). Ineligible vectors and
    null-labeled/null-id rows are excluded on both engine and oracle."""
    from ..functions.arrays import ivf_assign_arrow
    from ..functions.cache import track
    from ..functions.sketches import psi_from_hist

    if centroids is not None:
        import numpy as np

        coarse = np.asarray(centroids, dtype=np.float64)
    else:
        coarse = _collect_seed_matrix(df, n_centroids, vec_col, id_col)
    cells = ivf_assign_arrow(df, coarse, vec_col, id_col).filter(
        F.col("cell").isNotNull() & F.col(id_col).isNotNull()
    )
    labeled = cells.join(
        groups.filter(F.col(group_col).isNotNull()), id_col
    )
    hist = track(
        labeled.groupBy(
            F.col(group_col).alias("grp"), F.col("cell").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .cache()
    )
    return psi_from_hist(hist, digits)


def ivf_topk_kmeans(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_centroids: int = 16,
    probes: int = 4,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: str = "spread",
) -> DataFrame:
    """ivf_topk with a k-means-trained quantizer: tighter cells than the
    raw deterministic sample, so the same probe budget covers more of the
    query's true neighborhood (higher recall at equal scan fraction).

    init="sample" (id-ordered seed) with a small fixed n_iter makes the
    whole run a deterministic closed form — every centroid update is a
    plain per-cell mean from a pinned start — which is what lets the
    driver gate replay it value-for-value in SQL; init="spread" keeps
    the better-covering farthest-point start for production use."""
    centroids = train_centroids_kmeans(
        df, n_centroids, n_iter, vec_col, id_col, init=init
    )
    return _probe_topk(df, centroids, query, k, probes, vec_col, id_col)


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed_matrix: "np.ndarray | None" = None,
) -> "np.ndarray":
    """(m, ks, dim/m) product-quantization codebooks: per-subspace Lloyd
    k-means over UNIT vectors (PQ for cosine lives on the unit sphere,
    where squared L2 is monotone in cosine), seeded from the same
    deterministic id-ordered sample the IVF quantizer uses — slices of
    the seed rows are the initial codewords, so a pinned n_iter makes
    the whole training run SQL-replayable exactly like
    ann_topk_ivf_kmeans_pinned.

    Each iteration is ONE Arrow pass for ALL m subspaces
    (pq_partial_sums_arrow): per-batch (sub, cell, count, vector-sum)
    partials — O(batches × m × ks) driver rows, never O(rows) — merged
    on the driver; empty codewords keep their previous value.

    `seed_matrix`: a caller that already collected the id-ordered seed
    window (e.g. the coarse quantizer's, when ks <= n_centroids) can
    pass it to skip a second full-corpus seed scan; the first ks rows
    are used. Too few rows is an ERROR, not a silent re-scan — the
    caller chose the seeds, training on different ones behind its back
    would be worse than failing. (On a mixed-dimension corpus the
    2*n_centroids window's modal dim can differ from the 2*ks window's,
    so pass a matrix only when the caller wants THESE seeds — the
    in-package callers pass the coarse matrix precisely to pin
    codebooks and quantizer to one sample.)"""
    import numpy as np

    from ..functions.arrays import pq_partial_sums_arrow

    if seed_matrix is not None:
        if seed_matrix.shape[0] < ks:
            raise ValueError(
                f"seed_matrix has {seed_matrix.shape[0]} rows, need {ks}"
            )
        seed = np.asarray(seed_matrix, dtype=np.float64)[:ks]
    else:
        seed = _collect_seed_matrix(df, ks, vec_col, id_col)
    if seed.shape[0] < ks:
        raise ValueError(
            f"need {ks} seed vectors, found {seed.shape[0]}"
        )
    dim = seed.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    cb = _safe_unit_rows(seed).reshape(ks, m, sub).transpose(1, 0, 2).copy()
    for _ in range(n_iter):
        parts = pq_partial_sums_arrow(df, cb, vec_col).collect()
        cnt = np.zeros((m, ks), dtype=np.int64)
        sums = np.zeros_like(cb)
        for r in parts:
            cnt[r.sub, r.cell] += r.cnt
            sums[r.sub, r.cell] += np.asarray(r.sums)
        live = cnt > 0
        cb = cb.copy()
        cb[live] = sums[live] / cnt[live][:, None]
    return cb


def ivf_pq_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_centroids: int = 16,
    probes: int = 4,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 2,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse IVF cells prune the corpus to
    ~probes/n_centroids, PRODUCT-QUANTIZED codes (m bytes per vector
    instead of dim floats — 32× smaller at dim 64) rank the survivors by
    asymmetric distance (per-subspace query-to-codeword lookup tables,
    Jégou et al. 2011, IEEE TPAMI 33(1)), and the refine·k ADC shortlist
    is re-ranked with exact cosine on the raw vectors.

    Scale shape: at 10^12 vectors the (id, cell, codes) index is
    materialized once (codes shuffle/cache at m bytes/vector — measured
    17.9× smaller than the float index as parquet at sf0.1: 29 KB vs
    523 KB for 2000 vectors — the diet that moves the ANN family's
    ceiling from memory to compute); query time touches codes for the
    probed cells only, and raw vectors for just the refine·k shortlist
    (a broadcast semi-join).
    Everything deterministic: id-ordered seeds, pinned n_iter — the
    driver gate replays the whole run in SQL value-for-value."""
    from ..functions.arrays import (
        pq_adc_scores_arrow,
        pq_encode_arrow,
    )

    coarse = _collect_seed_matrix(df, n_centroids, vec_col, id_col)
    cb = train_pq_codebooks(
        df, m, ks, n_iter, vec_col, id_col,
        # reuse the coarse window only when it covers ks rows; a small
        # quantizer with a larger codebook count still collects its own
        seed_matrix=coarse if coarse.shape[0] >= ks else None,
    )
    in_cells, qn = _coarse_probe(df, coarse, query, probes, vec_col, id_col)
    sub = cb.shape[2]
    # (m, ks) ADC lookup table: squared L2 from each query subvector to
    # each codeword — built once on the driver, ships in the kernel
    lut = (
        (qn.reshape(m, 1, sub) - cb) ** 2
    ).sum(-1)

    # encode AFTER the cell semi-join: codeword assignment is
    # O(m·ks·sub) flops/row, so the ~probes/n_centroids of the corpus
    # outside the probed cells never pays it (ADC scores of the probed
    # set are identical either way). A standing index build would call
    # pq_encode_arrow on the full corpus once instead.
    cand = df.join(F.broadcast(in_cells), id_col, "left_semi")
    cand_codes = pq_encode_arrow(cand, cb, vec_col, id_col)
    shortlist = (
        pq_adc_scores_arrow(cand_codes, lut, id_col)
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(refine * k)
        .select(id_col)
    )
    finalists = df.join(F.broadcast(shortlist), id_col, "left_semi")
    return topk_cosine(finalists, query, k, vec_col, id_col)


def write_pq_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: "np.ndarray | None" = None,
) -> str:
    """Materialize the STANDING IVF-PQ index ivf_pq_topk's docstring
    promises: train once, encode the corpus in ONE Arrow pass
    (ivf_pq_index_arrow), and write `(id, codes)` PARTITIONED BY cell —
    so a probe query prunes to probes/n_centroids of the files at the
    directory level (PartitionFilters in the scan) and reads m BYTES per
    surviving row instead of dim floats. The trained models ride along
    in a `model/` parquet sidecar (n_centroids + m*ks tiny rows), so
    query time never retrains and never touches raw vectors until the
    exact rerank of the shortlist. The Iceberg equivalent of the layout
    is an identity `cell` partition transform.

    Ineligible rows (null id, null / wrong-dimension / zero-norm
    vectors) are not indexed — a null-id code row could never be joined
    back for the exact rerank, so indexing it would burn ADC shortlist
    slots on a phantom; the validator queries (embedding_dim_violations)
    are the place that reports bad vectors.

    `centroids` overrides the default id-ordered seed quantizer with a
    trained coarse matrix (train_centroids_kmeans) — the scale path: a
    seed sample only spans whatever region the first ids happen to
    cover, and cells that fragment a neighborhood cost recall at every
    probe count (measured in tools/bench_knn_graph.py)."""
    if centroids is not None:
        import numpy as np

        coarse = np.asarray(centroids, dtype=np.float64)
        if coarse.ndim != 2 or coarse.size == 0:
            raise ValueError(
                f"centroids must be a non-empty 2-D matrix, got shape "
                f"{coarse.shape}"
            )
    else:
        coarse = _collect_seed_matrix(df, n_centroids, vec_col, id_col)
    cb = train_pq_codebooks(
        df, m, ks, n_iter, vec_col, id_col,
        # reuse the coarse window only when it covers ks rows; a small
        # quantizer with a larger codebook count still collects its own
        seed_matrix=coarse if coarse.shape[0] >= ks else None,
    )

    from ..functions.arrays import ivf_pq_index_arrow

    index = ivf_pq_index_arrow(df, coarse, cb, vec_col, id_col).filter(
        F.col("cell").isNotNull() & F.col(id_col).isNotNull()
    )
    index.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/codes"
    )

    spark = df.sparkSession
    mrows = [
        ("coarse", int(i), 0, [float(x) for x in row])
        for i, row in enumerate(coarse)
    ] + [
        ("codebook", int(s), int(c), [float(x) for x in cb[s, c]])
        for s in range(m)
        for c in range(ks)
    ]
    spark.createDataFrame(
        mrows, "kind string, i int, j int, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/model")
    return path


def append_pq_index(
    df_new: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    skip_existing: bool = True,
) -> str:
    """Incrementally extend a write_pq_index layout: encode ONLY the new
    rows with the FROZEN sidecar models (no retrain — the codebooks are
    the index's contract; retraining would silently re-quantize history)
    and append them under their cell partitions. This is how a daily
    ingest keeps a 10^12-vector index current: one Arrow pass over the
    delta, zero touches of existing files. Rebuild (write_pq_index) when
    drift vs the training sample warrants it — the drift operators
    (histogram_psi / drift_ks) are the signal.

    `skip_existing` (default) makes re-runs idempotent: a retried ingest
    of the same batch anti-joins the delta against the ids already
    indexed, so duplicates never land and never burn ADC shortlist slots
    at query time. The membership scan reads ONLY the id column of the
    existing codes (column-pruned parquet; the m-byte codes and the
    vectors stay untouched); a caller that guarantees fresh ids can pass
    False to skip the scan. NOTE: skip means an UPDATED embedding for an
    already-indexed id is dropped, not re-encoded — the stale codes
    survive. Updating in place is a rewrite of that id's cell partition,
    which parquet cannot express row-wise; route corrections through a
    rebuild/compaction (write_pq_index), the same way an Iceberg
    deployment would use a row-level MERGE."""
    from ..functions.arrays import ivf_pq_index_arrow

    spark = df_new.sparkSession
    if skip_existing:
        existing = spark.read.parquet(f"{path}/codes").select(id_col)
        df_new = df_new.join(existing, id_col, "left_anti")
    coarse, cb = _load_pq_model(spark, path)
    index = ivf_pq_index_arrow(df_new, coarse, cb, vec_col, id_col).filter(
        F.col("cell").isNotNull() & F.col(id_col).isNotNull()
    )
    index.write.mode("append").partitionBy("cell").parquet(f"{path}/codes")
    return path


def _load_pq_model(
    spark, path: str
) -> tuple["np.ndarray", "np.ndarray"]:
    """(coarse centroids, codebooks) from a write_pq_index model sidecar
    — a bounded driver-side collect (n_centroids + m*ks rows)."""
    import numpy as np

    rows = spark.read.parquet(f"{path}/model").collect()
    coarse = np.asarray(
        [r.vec for r in sorted(
            (r for r in rows if r.kind == "coarse"), key=lambda r: r.i
        )]
    )
    cbrows = sorted(
        (r for r in rows if r.kind == "codebook"), key=lambda r: (r.i, r.j)
    )
    m = 1 + max(r.i for r in cbrows)
    ks = 1 + max(r.j for r in cbrows)
    cb = np.asarray([r.vec for r in cbrows]).reshape(m, ks, -1)
    return coarse, cb


def pq_topk_from_index(
    spark,
    path: str,
    query: list[float],
    corpus: DataFrame,
    k: int = 10,
    probes: int = 4,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k against a write_pq_index layout: load the tiny
    model sidecar, rank probe cells driver-side, scan ONLY the probed
    cells' code files (`cell IN (...)` is a partition filter — the scan
    never opens the other directories), ADC-score the m-byte codes, and
    exact-rerank the refine*k shortlist against the raw corpus via a
    broadcast semi-join. Same algorithm as ivf_pq_topk, with train +
    encode amortized into the index build."""
    import numpy as np

    from ..functions.arrays import pq_adc_scores_arrow

    coarse, cb = _load_pq_model(spark, path)
    probe_cells, qn = _probe_cells(coarse, query, probes)
    m, ks, sub = cb.shape
    lut = ((qn.reshape(m, 1, sub) - cb) ** 2).sum(-1)

    codes = (
        spark.read.parquet(f"{path}/codes")
        .filter(F.col("cell").isin(probe_cells))
        .select(id_col, "codes")
    )
    shortlist = (
        pq_adc_scores_arrow(codes, lut, id_col)
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(refine * k)
        .select(id_col)
    )
    finalists = corpus.join(F.broadcast(shortlist), id_col, "left_semi")
    return topk_cosine(finalists, query, k, vec_col, id_col)


def _per_query_topk(
    scored: DataFrame, query_id_col: str, id_col: str, k: int
) -> DataFrame:
    """Keep each query's top k by (cos DESC, id ASC) — the ONE copy of
    the kNN-join rank tail; its tie-break is an oracle-parity contract
    (ORDER BY cos DESC, vec_id ASC in the SQL replays)."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.asc(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def pq_knn_join(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    probes: int = 4,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    digits: int = 5,
    corpus_blocks: int = 1,
) -> DataFrame:
    """(qid, vec_id, cos) — batch kNN against a write_pq_index layout:
    the kNN-graph primitive at the standing index's cost model. Query
    vectors get their probe cells from the frozen sidecar centroids (no
    corpus seed scan, no training); candidates are ranked by ADC over
    the m-BYTE codes; only each query's refine·k shortlist fetches raw
    corpus vectors for the exact-cosine rerank.

    Scoring is ONE cogroup of (qid, cell, qvec) against the
    cell-partitioned code table; each query's LUT is built once per
    probed cell and only its per-cell (adist ASC, id ASC) top-refine·k
    leaves the kernel (cell_pq_adc_topk_arrow) — the query vector
    crosses the wire `probes` times and the scored stream is
    O(queries × probes × refine·k), not O(candidates). The per-cell
    top-k is a superset of the global shortlist, so the window below
    keeps exactly the rows a global ADC ranking would; ``corpus_blocks
    > 1`` salts each cell into bounded sub-blocks (identical output,
    more tasks).

    vs ivf_knn_join (exact scoring of every candidate): the corpus-side
    payload shrinks ~dim·4/m-fold and the corpus vector fetch drops
    from O(candidates) to O(queries·refine·k) — the difference between
    shuffling 256 B and 8 B per candidate at 10^12 scale. Self-matches
    rank first (their ADC is the query's own quantization error);
    callers building a graph filter qid != id."""
    from pyspark.sql import Window

    from ..functions.arrays import (
        cell_pq_adc_topk_arrow,
        ivf_probe_cells_arrow,
        pairwise_cosine_arrow,
    )

    coarse, cb = _load_pq_model(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    qv = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qd")
    )
    q_cells = ivf_probe_cells_arrow(
        queries.filter(F.col(id_col).isNotNull()),
        coarse,
        probes,
        vec_col,
        id_col,
        keep_vec=True,
    ).withColumnRenamed(id_col, query_id_col)
    scored = cell_pq_adc_topk_arrow(
        q_cells, codes, cb, refine * k, query_id_col, id_col,
        corpus_blocks=corpus_blocks,
    )
    w_short = Window.partitionBy(query_id_col).orderBy(
        F.asc("adist"), F.asc(id_col)
    )
    shortlist = (
        scored.withColumn("_rn", F.row_number().over(w_short))
        .filter(F.col("_rn") <= refine * k)
        .select(query_id_col, id_col)
    )
    cv = corpus.select(F.col(id_col), F.col(vec_col).alias("_cd"))
    # the shortlist is <= |queries|*refine*k (qid, id) pairs; no hard
    # broadcast hint — at small Q AQE converts the corpus-side fetch to
    # a broadcast join at runtime, and at kNN-graph scale (queries ==
    # corpus) a hard hint would blow Spark's broadcast-table limit
    rerank_pairs = cv.join(shortlist, id_col).join(qv, query_id_col)
    reranked = pairwise_cosine_arrow(
        rerank_pairs, cb.shape[0] * cb.shape[2], "_qd", "_cd",
        query_id_col, id_col,
    ).select(
        query_id_col, id_col, F.round(F.col("cos"), digits).alias("cos")
    )
    return _per_query_topk(reranked, query_id_col, id_col, k)


def ivf_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    probes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    digits: int = 5,
    centroids: "np.ndarray | None" = None,
    corpus_blocks: int = 1,
) -> DataFrame:
    """(qid, vec_id, cos) — approximate k nearest corpus neighbors for
    EVERY query row in one distributed job: the batch-query (kNN-graph /
    kNN-join) primitive the single-query ivf_topk family can't express
    without a driver-side loop.

    Shape: corpus vectors get their home cell, query vectors their
    top-`probes` cells — both keep_vec Arrow passes, so (id, cell, vec)
    shuffles straight into the cell with no id-keyed vector refetch —
    and ONE cogroup on the cell id both
    generates and scores the candidates as per-cell BLAS block matmuls
    (cell_cosine_pairs_arrow). No cross-join, no per-query job, and no
    per-pair vector materialization: each corpus vector crosses the
    wire once, each query vector `probes` times, and the per-pair
    payload is the 24-byte (qid, id, cos) triple. A per-query window
    keeps the top k (ties on id).

    Scale shape: the only corpus-wide shuffle is the cell cogroup;
    each query meets ~probes/n_centroids of the corpus, exactly the
    single-query IVF contract. Hot cells are bounded two ways: a
    trained quantizer (`centroids=`) spreads them, and
    ``corpus_blocks > 1`` salts each cell into bounded sub-blocks
    (identical output, more tasks). Self-matches (a query that is also
    a corpus row) rank first at cos 1 — callers building a kNN graph
    filter qid != vec_id.

    Fully deterministic and SQL-replayable: id-ordered seeds, stable
    probe/assignment tie-breaks, rounded scores. The kernel normalizes
    then multiplies while the SQL replay divides the dot product by the
    norm product, so the two agree up to the rounding contract — a
    cosine within one ulp of a half-away boundary could round apart,
    the same last-ulp class the engine accepts against all its DuckDB
    oracles (probability ~1e-10/pair; the driver gate is
    `knn_join_topk`)."""
    from ..functions.arrays import (
        cell_cosine_pairs_arrow,
        ivf_assign_arrow,
        ivf_probe_cells_arrow,
    )

    # a trained quantizer (train_centroids_kmeans) spreads hot cells —
    # the mitigation when the seed sample would crowd one cell; the SQL-
    # replayable driver gate uses the deterministic seed default
    if centroids is not None:
        import numpy as np

        centroids = np.asarray(centroids, dtype=np.float64)
        if centroids.ndim != 2 or centroids.size == 0:
            raise ValueError(
                f"centroids must be a non-empty 2-D matrix, got shape "
                f"{centroids.shape}"
            )
        # a wrong-dimension matrix would silently mask EVERY corpus row
        # as ineligible and return an empty graph; n_centroids is
        # superseded by the matrix
        coarse = centroids
    else:
        coarse = _collect_seed_matrix(corpus, n_centroids, vec_col, id_col)
    corpus_cells = ivf_assign_arrow(
        corpus, coarse, vec_col, id_col, keep_vec=True
    ).filter(F.col("cell").isNotNull() & F.col(id_col).isNotNull())
    q_cells = ivf_probe_cells_arrow(
        queries.filter(F.col(id_col).isNotNull()),
        coarse,
        probes,
        vec_col,
        id_col,
        keep_vec=True,
    ).withColumnRenamed(id_col, query_id_col)

    # the kernel rounds (portable half-away-from-zero — the same value
    # F.round/DuckDB round produce) and keeps each query's per-cell
    # top-k, so the emitted stream is O(Q·probes·k); the global window
    # below reduces the per-cell winners to the identical final top-k
    scored = cell_cosine_pairs_arrow(
        q_cells,
        corpus_cells,
        coarse.shape[1],
        query_id_col,
        id_col,
        corpus_blocks=corpus_blocks,
        per_cell_topk=k,
        round_digits=digits,
    )
    return _per_query_topk(scored, query_id_col, id_col, k)
