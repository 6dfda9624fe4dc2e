"""Distribution sketches: a bucketed histogram in Spark, drift on the driver.

``histogram`` buckets a column per group (nulls excluded) in one partial →
final aggregation. A drift statistic needs only that histogram — groups ×
buckets rows — and a reference mass of the same shape, so ``drift``
collects both in one job and computes PSI or KS in plain Python: the tail
of the DriftRule in compiler/plan.py. The per-group result comes back as a
relation of literals, so rounding, filtering and reason rendering stay
Spark expressions and run no job of their own. The collect is capped
(``_DRIFT_MAX_CELLS``): a group column with too many values fails loud
instead of exhausting the driver.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compiler.plan import key_string
from ..rules.loader import RuleSetError

EPS = 1e-6

# Most (grp, bucket) cells — histogram plus reference rows — drift collects.
_DRIFT_MAX_CELLS = 1_000_000


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
    distribution mass. The group renders through ``key_string``, so a null
    group is the group '<null>', as on every other surface."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(
            key_string(group_col).alias("grp"),
            bucketize(F.col(col), lo, hi, buckets).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _collect(hist: DataFrame, ref: DataFrame) -> tuple[list, list]:
    """The histogram's (grp, bucket, cnt) rows and the reference's
    (grp, bucket, p) rows, in one collect of at most _DRIFT_MAX_CELLS rows."""
    cells = hist.select(
        F.lit(True).alias("_hist"), "grp", "bucket", "cnt",
        F.lit(None).cast("double").alias("p"),
    ).unionByName(
        ref.select(
            F.lit(False).alias("_hist"), "grp", "bucket",
            F.lit(None).cast("long").alias("cnt"),
            F.col("p").cast("double").alias("p"),
        )
    )
    rows = cells.limit(_DRIFT_MAX_CELLS + 1).collect()
    if len(rows) > _DRIFT_MAX_CELLS:
        raise RuleSetError(
            f"drift: more than {_DRIFT_MAX_CELLS} (group, bucket) cells in the "
            "histogram and reference; the group column has too many values"
        )
    hist_rows = [(r.grp, r.bucket, r.cnt) for r in rows if r._hist]
    ref_rows = [(r.grp, r.bucket, r.p) for r in rows if not r._hist]
    return hist_rows, ref_rows


def _cells(hist_rows: list, ref_rows: list) -> dict:
    """grp -> [(bucket, q, p)]: each group's share `q` of its histogram next
    to the reference mass `p`, over the full outer join of the two on
    (grp, bucket) — a side missing a cell has mass 0. Both sides' groups
    are ``key_string`` renderings, so a null group is '<null>' on each and
    matches like any other."""
    totals: dict = defaultdict(int)
    for g, _, c in hist_rows:
        totals[g] += c
    ref_by_cell: dict = defaultdict(list)
    for g, b, p in ref_rows:
        ref_by_cell[(g, b)].append(0.0 if p is None else p)
    out: dict = defaultdict(list)
    for g, b, c in hist_rows:
        q = c / totals[g]
        for p in ref_by_cell.get((g, b)) or [0.0]:
            out[g].append((b, q, p))
    matched = {(g, b) for g, b, _ in hist_rows}
    for g, b, p in ref_rows:
        if (g, b) not in matched:
            out[g].append((b, 0.0, 0.0 if p is None else p))
    return out


def _psi(cells: list) -> float:
    """Population-stability index. Masses are clamped to EPS (standard PSI
    practice) so the log stays finite, and a cell only one side has still
    contributes its (q − p)·ln(q/p) term."""
    total = 0.0
    for _, q, p in cells:
        qc, pc = max(q, EPS), max(p, EPS)
        total += (qc - pc) * math.log(qc / pc)
    return total


def _ks(cells: list) -> float:
    """Two-sample Kolmogorov–Smirnov D from bucketed masses: the largest
    |CDF_q − CDF_p| over buckets in ascending order (a null bucket first).
    Histogram granularity bounds the error at one bucket width — the
    standard sketch-based KS at scale (exact KS needs a full sort)."""
    order = sorted(cells, key=lambda c: (c[0] is not None, c[0] or 0))
    cq = cp = d = 0.0
    for i, (b, q, p) in enumerate(order):
        cq += q
        cp += p
        # cells sharing a bucket are one step of the CDF
        if i + 1 == len(order) or order[i + 1][0] != b:
            d = max(d, abs(cq - cp))
    return d


def drift(hist: DataFrame, ref: DataFrame, metric: str) -> DataFrame:
    """(grp, stat): PSI (``metric="psi"``) or KS D (``"ks"``) of each
    group's (grp, bucket, cnt) histogram against the reference mass
    ``ref`` (grp, bucket, p). Histogram and reference are collected
    together, once; the result is a relation of literals. KS D is rounded
    to 4 digits by Spark (before any threshold), PSI is not."""
    hist_rows, ref_rows = _collect(hist, ref)
    stat_of = _ks if metric == "ks" else _psi
    stats = [(g, stat_of(c)) for g, c in _cells(hist_rows, ref_rows).items()]
    item = T.StructType(
        [T.StructField("grp", T.StringType()), T.StructField("stat", T.DoubleType())]
    )
    rows = F.array(*[F.struct(F.lit(g), F.lit(s)) for g, s in stats]).cast(
        T.ArrayType(item)
    )
    out = hist.sparkSession.range(1, numPartitions=1).select(F.inline(rows))
    if metric == "ks":
        out = out.select("grp", F.round("stat", 4).alias("stat"))
    return out
