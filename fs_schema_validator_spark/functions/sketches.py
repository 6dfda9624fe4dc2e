"""Single-pass distributed stats & distribution sketches.

Everything here is one groupBy per pass (partial → final aggregation); no
collect-driven loops. The drift math (PSI) is shared with the DriftRule in
compiler/plan.py; this module adds the "vs global" variant used when no
reference histogram table exists: compare each group's distribution to the
whole table's, in one job (two aggregations over one cached scan).
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
    against the whole-table distribution. Zero-count buckets are clamped to EPS
    (standard PSI practice) so the log stays finite.

    The comparison runs over the full grp × bucket GRID (like
    ks_vs_global), not just the group's occupied buckets: a group missing
    a bucket where the global distribution has mass contributes its
    (EPS - p)·ln(EPS/p) term — starting from the group histogram alone
    would silently drop exactly the terms that make a severely drifted
    (concentrated) group stand out."""
    from ..functions.cache import track

    # One scan of df: the histogram (groups × buckets rows — tiny) is
    # cached and every downstream aggregate derives from it, including the
    # grand total (Σcnt ≡ count(*)) — a naive df.count() would be a second
    # full scan.
    hist = track(histogram(df, col, group_col, lo, hi, buckets).cache())
    return psi_from_hist(hist, digits)


def psi_from_hist(hist: DataFrame, digits: int = 4) -> DataFrame:
    """(grp, psi) from a prebuilt (grp, bucket, cnt) histogram — the
    PSI-vs-global tail shared by the value-bucket form (psi_vs_global)
    and bucketings that are not value ranges (embedding IVF cells).
    Keeps the one grid + EPS-clamp convention: the comparison runs over
    the full grp × occupied-bucket grid so a group MISSING a bucket
    still contributes its (EPS − p) term (see psi_vs_global)."""
    gtotal_row = hist.agg(F.sum("cnt")).first()[0]
    gtotal = float(gtotal_row if gtotal_row is not None else 0.0) or 1.0
    totals = hist.groupBy("grp").agg(F.sum("cnt").alias("total"))
    q = hist.join(totals, "grp").select(
        "grp", "bucket", (F.col("cnt") / F.col("total")).alias("q")
    )
    ghist = hist.groupBy("bucket").agg(F.sum("cnt").alias("gcnt"))
    p = ghist.select("bucket", (F.col("gcnt") / F.lit(gtotal)).alias("p"))
    grid = totals.select("grp").crossJoin(p)
    joined = grid.join(q, ["grp", "bucket"], "left").select(
        "grp",
        F.greatest(F.coalesce(F.col("q"), F.lit(0.0)), F.lit(EPS)).alias("qc"),
        F.greatest(F.col("p"), F.lit(EPS)).alias("pc"),
    )
    return (
        joined.groupBy("grp")
        .agg(
            F.round(
                F.sum((F.col("qc") - F.col("pc")) * F.log(F.col("qc") / F.col("pc"))),
                digits,
            ).alias("psi")
        )
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

    totals = hist_q.groupBy("grp").agg(F.sum("cnt").alias("total"))
    q = hist_q.join(totals, "grp").select(
        "grp", "bucket", (F.col("cnt") / F.col("total")).alias("q")
    )
    joined = q.join(hist_p, ["grp", "bucket"], "full_outer").select(
        "grp",
        "bucket",
        F.coalesce(F.col("q"), F.lit(0.0)).alias("q"),
        F.coalesce(F.col("p"), F.lit(0.0)).alias("p"),
    )
    w = Window.partitionBy("grp").orderBy("bucket")
    cdfs = joined.select(
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
    gtotal = float(hist.agg(F.sum("cnt")).first()[0])
    totals = hist.groupBy("grp").agg(F.sum("cnt").alias("total"))
    ghist = hist.groupBy("bucket").agg(F.sum("cnt").alias("gcnt"))
    p = ghist.select("bucket", (F.col("gcnt") / F.lit(gtotal)).alias("p"))
    grid = totals.select("grp").crossJoin(p)
    return ks_statistic(hist, grid, digits=digits)
