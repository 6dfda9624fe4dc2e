"""Token-level exact k-gram duplication stats over a tokens column.

One operator, `token_ngram_dup_stats`: per document, how many of its
k-token windows also occur in another document row. The window hashing and
the per-(doc, hash) pre-aggregation run in one Arrow kernel
(`functions.arrays.token_window_pair_counts_arrow`); everything after it is
Spark SQL, and every shuffle key is a uniform 31-bit window hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A window is duplicated when this many document rows hold its hash.
MIN_DOCS = 2
# Decimal digits of the reported dup_rate.
RATE_DIGITS = 4


def token_ngram_dup_stats(
    df: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-level exact k-gram duplication stats per document, over the
    token arrays of a tokenized-sequence table, in the spirit of
    exact-substring training-data dedup (Lee et al. 2022,
    arXiv:2107.06499): a window is *duplicated* when its k-token hash
    occurs in >= MIN_DOCS (2) document ROW INSTANCES (each input row is
    one instance — an id spanning two rows contributes 2, not 1; see
    below).

    Returns one row per DISTINCT id: (id, n_windows, n_dup_windows,
    dup_rate) with dup_rate = round(n_dup/n_windows, RATE_DIGITS). Rows whose
    token list is null, contains nulls, or is shorter than k have no
    windows: (id, 0, 0, 0.0). An id duplicated across input rows is one
    output row summing both instances — and since each ROW counts as a
    document instance, exact full-row duplicates flag each other's
    windows as dups.

    Scale shape: the Arrow kernel computes every window hash O(n) per
    row (no per-window refold) AND pre-aggregates to per-(doc,
    distinct-hash) counts in the same pass
    (token_window_pair_counts_arrow), so the widest relation — every
    window occurrence — never reaches a shuffle. The pair stream feeds
    two consumers (the global hash counts and the flag join), so the
    kernel lineage executes twice per action — DELIBERATELY uncached:
    at 1M docs / 256M windows, persisting the pair stream measured 2x
    slower than recomputing the NumPy kernel (materializing the widest
    relation costs more than the hashing). What shuffles is compact: a
    count-per-hash aggregation (map-side partials collapse hot hashes),
    the h-keyed join back (AQE broadcasts the hash-count table when
    duplication is concentrated, skew-splits it when not), and a
    per-doc rollup that partial-aggregates to one row per doc before
    moving. The suffix-array machinery of the paper is replaced by
    fixed-k fingerprints — the standard distributed approximation; at
    10^12 rows every shuffle key is a uniform 31-bit hash."""
    from ..functions.arrays import token_window_pair_counts_arrow

    pdc = token_window_pair_counts_arrow(df, tokens_col, id_col, k)
    # sentinel (h = -1, k_cnt = 0) rows keep zero-window docs in the
    # stream, so no join back to the source is needed; they must not
    # enter the hash counts
    gc = (
        pdc.filter(F.col("h") >= 0)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # left join: every real hash matches (gc derives from the same
    # stream); only sentinel rows dangle, contributing 0 to both sums
    out = (
        pdc.join(gc, "h", "left")
        .groupBy(id_col)
        .agg(
            F.sum("k_cnt").alias("_nw"),
            F.sum(
                F.when(F.col("n_docs") >= MIN_DOCS, F.col("k_cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("_nd"),
        )
    )
    nw = F.coalesce(F.col("_nw"), F.lit(0)).cast("bigint")
    nd = F.coalesce(F.col("_nd"), F.lit(0)).cast("bigint")
    return out.select(
        id_col,
        nw.alias("n_windows"),
        nd.alias("n_dup_windows"),
        F.when(nw > 0, F.round(nd.cast("double") / nw, RATE_DIGITS))
        .otherwise(F.lit(0.0))
        .alias("dup_rate"),
    )
