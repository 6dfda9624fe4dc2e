"""Single-pass distributed stats & distribution sketches.

Everything here is one groupBy per pass (partial → final aggregation); no
collect-driven loops. Each drift tail is written once: ``histogram`` buckets
a column (nulls excluded), ``psi`` and ``ks_statistic`` compare a histogram
with a reference mass. The DriftRule in compiler/plan.py compares with its
reference table; the "vs global" forms, used when no reference table exists,
compare each group with the whole table's distribution (``_global_grid``),
in one job over one cached histogram.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EPS = 1e-6


def bucketize(col: Column, lo: float, hi: float, buckets: int) -> Column:
    """Fixed-width bucket index, clamped to [0, buckets-1]."""
    width = (hi - lo) / buckets
    return F.least(
        F.lit(buckets - 1),
        F.greatest(F.lit(0), F.floor((col - F.lit(lo)) / F.lit(width)).cast("int")),
    )


def histogram(
    df: DataFrame, col: str, group_col: str, lo: float, hi: float, buckets: int
) -> DataFrame:
    """(group, bucket, cnt) counts — partial-agg friendly.

    NULL values are excluded: Spark's greatest() skips nulls, so an
    unfiltered null row would silently land in bucket 0 and shift every
    distribution left — nullness is the required/spec rules' concern, not
    distribution mass."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            bucketize(F.col(col), lo, hi, buckets).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _mass(hist: DataFrame, p_mass: DataFrame) -> DataFrame:
    """(grp, bucket, q, p): each group's share `q` of its (grp, bucket, cnt)
    histogram next to the reference mass `p` of `p_mass` (grp, bucket, p),
    over every cell either side has — a side missing a cell has mass 0."""
    totals = hist.groupBy("grp").agg(F.sum("cnt").alias("total"))
    q = hist.join(totals, "grp").select(
        "grp", "bucket", (F.col("cnt") / F.col("total")).alias("q")
    )
    return q.join(p_mass, ["grp", "bucket"], "full_outer").select(
        "grp",
        "bucket",
        F.coalesce(F.col("q"), F.lit(0.0)).alias("q"),
        F.coalesce(F.col("p"), F.lit(0.0)).alias("p"),
    )


def psi(hist: DataFrame, p_mass: DataFrame) -> DataFrame:
    """(grp, psi), unrounded — population-stability index of each group's
    histogram against `p_mass`. Masses are clamped to EPS (standard PSI
    practice) so the log stays finite, and a cell only one side has still
    contributes its (q − p)·ln(q/p) term."""
    qc = F.greatest(F.col("q"), F.lit(EPS))
    pc = F.greatest(F.col("p"), F.lit(EPS))
    return (
        _mass(hist, p_mass)
        .groupBy("grp")
        .agg(F.sum((qc - pc) * F.log(qc / pc)).alias("psi"))
    )


def _global_grid(hist: DataFrame) -> DataFrame:
    """(grp, bucket, p): the whole table's bucket mass, repeated for every
    group of `hist` — the full grp × occupied-bucket grid, so a group
    MISSING a bucket where the table has mass still contributes its term
    (starting from the group histogram alone would silently drop exactly
    the terms that make a concentrated group stand out). The grand total
    is Σcnt of the histogram itself (no second scan of the table); an
    empty histogram gives an empty grid."""
    gtotal = hist.agg(F.sum("cnt")).first()[0] or 1
    p = hist.groupBy("bucket").agg((F.sum("cnt") / F.lit(float(gtotal))).alias("p"))
    return hist.select("grp").distinct().crossJoin(p)


def psi_vs_global(
    df: DataFrame,
    col: str,
    group_col: str,
    lo: float,
    hi: float,
    buckets: int,
    digits: int = 4,
) -> DataFrame:
    """(group, psi) — population-stability index of each group's histogram
    against the whole-table distribution, over the full grid
    (``_global_grid``)."""
    from ..functions.cache import track

    # One scan of df: the histogram (groups × buckets rows — tiny) is
    # cached and every downstream aggregate derives from it.
    hist = track(histogram(df, col, group_col, lo, hi, buckets).cache())
    return psi_from_hist(hist, digits)


def psi_from_hist(hist: DataFrame, digits: int = 4) -> DataFrame:
    """(grp, psi) rounded to `digits`, from a prebuilt (grp, bucket, cnt)
    histogram against the whole table's — the PSI-vs-global tail of
    psi_vs_global."""
    return psi(hist, _global_grid(hist)).select(
        "grp", F.round("psi", digits).alias("psi")
    )


def ks_statistic(
    hist_q: DataFrame, hist_p: DataFrame, digits: int = 4
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D per group from bucketed histograms.

    D = max over buckets |CDF_q - CDF_p|, with CDFs built by a cumulative
    window over bucket index. Inputs: (grp, bucket, cnt) for the subject
    side, (grp, bucket, p) probability masses for the reference. Histogram
    granularity bounds the error at one bucket width — the standard
    sketch-based KS at scale (exact KS needs a full sort)."""
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("bucket")
    cdfs = _mass(hist_q, hist_p).select(
        "grp",
        F.sum("q").over(w).alias("cq"),
        F.sum("p").over(w).alias("cp"),
    )
    return cdfs.groupBy("grp").agg(
        F.round(F.max(F.abs(F.col("cq") - F.col("cp"))), digits).alias("ks_d")
    )


def ks_vs_global(
    df: DataFrame,
    col: str,
    group_col: str,
    lo: float,
    hi: float,
    buckets: int,
    digits: int = 4,
) -> DataFrame:
    """(grp, ks_d) — sketch-based two-sample KS of each group's bucketed
    distribution against the whole table's. The reference side is the
    global histogram broadcast across groups (grps × buckets grid), so the
    whole check is two aggregations over one scan plus a tiny window over
    the grid — no sort of the raw data.

    Like psi_vs_global, the histogram is cached so the table is scanned
    exactly once; the grand total comes from the histogram itself."""
    from ..functions.cache import track

    hist = track(histogram(df, col, group_col, lo, hi, buckets).cache())
    return ks_statistic(hist, _global_grid(hist), digits=digits)
