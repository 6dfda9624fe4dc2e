"""Operator tests: token-window dup stats, KS/PSI drift, the tracked
cache registry, table loading and profiling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fs_schema_validator_spark.engine import ValidationEngine


def _drift_vs_table(spark, df, metric, lo, hi, buckets):
    """grp -> statistic of each group's `v` against the whole table's
    bucket mass, through a DriftRule whose threshold (-1) lies below
    every statistic, read back from the engine's reasons."""
    from collections import Counter

    from fs_schema_validator_spark.functions import sketches

    hist = sketches.histogram(df, "v", "grp_name", lo, hi, buckets).collect()
    total = sum(r.cnt for r in hist)
    mass = Counter()
    for r in hist:
        mass[r.bucket] += r.cnt
    ref = spark.createDataFrame(
        [(g, b, n / total) for g in {r.grp for r in hist} for b, n in mass.items()],
        "grp_name string, bucket int, p double",
    )
    rules = f"""
schema:
  - type: drift_psi
    id: v_drift
    column: v
    group_col: grp_name
    ref: table_mass
    metric: {metric}
    buckets: {buckets}
    lo: {lo}
    hi: {hi}
    threshold: -1
"""
    res = ValidationEngine(subject_col="id").validate(df, rules, {"table_mass": ref})
    out = {r.subject: float(r.reason.split()[3]) for r in res.violations.collect()}
    res.release()
    return out


def test_ks_vs_global_flags_shifted_group(spark):
    rows = [(i, "steady", float(i % 100)) for i in range(2000)]
    rows += [(10_000 + i, "shifted", float(400 + i % 100)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, grp_name string, v double")
    out = _drift_vs_table(spark, df, "ks", lo=0.0, hi=500.0, buckets=10)
    # each group is half the table shifted to opposite ends: D = 0.5 exactly
    assert out == {"steady": 0.5, "shifted": 0.5}


def test_vs_global_drift_on_empty_input_returns_no_rows(spark):
    df = spark.createDataFrame([], "id bigint, grp_name string, v double")
    for metric in ("ks", "psi"):
        assert _drift_vs_table(spark, df, metric, 0.0, 500.0, 10) == {}


def test_ks_drift_rule(spark):
    from fs_schema_validator_spark.sources import synth

    n = 4096
    seq = synth.gen_sequences(spark, n).withColumn(
        "n_tok",
        F.when(
            F.col("source") == "wiki", F.least(F.col("n_tok") + 192, F.lit(512))
        ).otherwise(F.col("n_tok")),
    )
    rules = """
schema:
  - type: drift_psi
    id: ntok_ks
    column: n_tok
    group_col: source
    ref: ref_distribution
    metric: ks
    buckets: 16
    lo: 0
    hi: 512
    threshold: 0.2
"""
    res = ValidationEngine(subject_col="doc_id").validate(
        seq, rules, {"ref_distribution": synth.gen_ref_distribution(spark)}
    )
    rows = res.violations.collect()
    assert [r.subject for r in rows] == ["wiki"]
    assert "KS" in rows[0].reason


def test_load_table_format_dispatch(spark, tmp_path):
    """Paths dispatch on their extension; directory names are never
    sniffed, so a parquet directory named *_orc reads as parquet."""
    from fs_schema_validator_spark.sources import synth, tables

    seq = synth.gen_sequences(spark, 50).select("doc_id", "n_tok", "source")
    for fmt, path in [
        ("parquet", tmp_path / "t.parquet"),
        ("orc", tmp_path / "t.orc"),
        ("json", tmp_path / "t.json"),
        ("csv", tmp_path / "t.csv"),
        ("parquet", tmp_path / "events_orc"),
    ]:
        w = seq.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        getattr(w, fmt)(str(path))
        got = tables.load_table(spark, str(path))
        assert got.count() == 50, fmt
        assert set(got.columns) == {"doc_id", "n_tok", "source"}, fmt
        # JSON inference reads every integer as bigint; the other formats
        # carry (or infer) the written int
        want = "bigint" if fmt == "json" else dict(seq.dtypes)["n_tok"]
        assert dict(got.dtypes)["n_tok"] == want, fmt


def test_cache_registry_releases_tracked_frames(spark):
    """The engine's one `track()` user is the array_equality screen's
    mismatched-key set; the golden fixture's reference mismatches make
    the screen persist it."""
    from fs_schema_validator_spark.functions import cache
    from tests.test_engine_golden import _validate_golden_table

    cache.release_all()  # start clean
    res = _validate_golden_table(spark)
    res.sorted_violations().collect()
    res.release()
    assert cache.release_all() >= 1
    assert cache.release_all() == 0


def test_table_profile_exact_and_approx(spark):
    from fs_schema_validator_spark.operators import profile

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "id bigint, tag string"
    )
    exact = {r.col_name: r for r in profile.table_profile(df, exact=True).collect()}
    assert exact["id"].n_rows == 4 and exact["id"].n_nulls == 0
    assert exact["id"].n_distinct == 4
    assert (exact["id"].min_value, exact["id"].max_value) == ("1", "4")
    assert exact["tag"].n_nulls == 1 and exact["tag"].n_distinct == 2
    assert (exact["tag"].min_value, exact["tag"].max_value) == ("a", "b")
    # approx mode: same shape, distinct within HLL tolerance on tiny input
    approx = {r.col_name: r for r in profile.table_profile(df).collect()}
    assert approx["id"].n_distinct == 4


def test_psi_full_grid_catches_concentrated_drift(spark):
    """A group concentrated in one bucket while the global mass is spread
    must report LARGE psi — the grid form includes the (EPS - p) terms
    for the group's empty buckets (a group-histogram-only join drops
    exactly those and underestimates drift)."""
    rows = [(i, "spread", float(i % 100)) for i in range(2000)]
    rows += [(10_000 + i, "peaked", 5.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, grp_name string, v double")
    out = _drift_vs_table(spark, df, "psi", lo=0.0, hi=100.0, buckets=10)
    assert out["peaked"] > 3.0, out  # concentrated: many dropped-mass terms
    assert out["spread"] > 0.1, out


def test_histogram_excludes_nulls(spark):
    from fs_schema_validator_spark.functions import sketches

    df = spark.createDataFrame(
        [(1, "g", 10.0), (2, "g", None), (3, "g", 90.0)],
        "id bigint, grp_name string, v double",
    )
    hist = {
        (r.grp, r.bucket): r.cnt
        for r in sketches.histogram(
            df, "v", "grp_name", 0.0, 100.0, 10
        ).collect()
    }
    assert hist == {("g", 1): 1, ("g", 9): 1}  # null row in NO bucket


def test_iceberg_probe_is_false_without_runtime(spark):
    from fs_schema_validator_spark.sources import tables

    assert tables.iceberg_available(spark) is False
    assert tables.current_snapshot_id(spark, "some_table") == "-"


def test_summary_counts_each_violation_once_and_surfaces_orphans(spark):
    df = spark.createDataFrame(
        [("d1", "cc", []), ("d1", "wiki", [1]), ("d2", "cc", [2])],
        "doc_id string, source string, tokens array<int>",
    )
    manifest = spark.createDataFrame([("d1",), ("d2",), ("d9",)], "doc_id string")
    rules = """
schema:
  - {type: not_empty, column: tokens}
  - {type: completeness, id: c, manifest: m, key: doc_id}
"""
    res = ValidationEngine(subject_col="doc_id").validate(df, rules, {"m": manifest})
    s = {r.source: (r.rows, r.violations) for r in res.summary("source").collect()}
    # d1 spans cc+wiki; its single not_empty violation counts ONCE (min
    # group 'cc'); orphan d9's completeness violation gets its own row
    assert s["cc"] == (2, 1)
    assert s["wiki"] == (1, 0)
    assert s[None] == (0, 1)
    total = res.violations.count()
    assert sum(v for _, v in s.values()) == total


def test_parity_tool_rejects_complex_output_columns(spark):
    """tools/oracle_parity.py must reproduce the driver's failure mode on
    array-typed output cells (round-2's skew_salted_stats escape)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import oracle_parity as op

    df = spark.createDataFrame([(1, [1, 2])], "id bigint, xs array<bigint>")
    assert op.complex_cols(df) == ["xs"]
    assert op.complex_cols(df.select("id")) == []
    with pytest.raises(TypeError, match="unhashable"):
        op.norm_rows(["id", "xs"], [(1, [1, 2])])


def test_token_ngram_dup_stats_planted_and_degenerate(spark):
    """Token k-gram dedup semantics: exact copies rate 1.0; a doc sharing
    exactly one window gets 1/n_windows; intra-doc repeats of a window
    seen in only ONE doc are NOT dups (min_docs counts distinct docs);
    null / child-null / short token lists have zero windows."""
    from fs_schema_validator_spark.operators.dedup import (
        token_ngram_dup_stats,
    )

    rows = [
        ("a", list(range(20))),
        ("b", list(range(20))),                     # exact copy of a
        ("c", [100 + 17 * i for i in range(20)]),   # unique stream
        ("d", list(range(8)) + [999 - i for i in range(7)]),  # 1 shared win
        ("e", None),
        ("f", [1, 2, 3]),                           # < k tokens
        ("g", [5] * 30),                            # intra-doc repeats only
        ("h", [4, None, 6, 7, 8, 9, 10, 11, 12]),   # child null
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_rate)
        for r in token_ngram_dup_stats(df, k=8).collect()
    }
    assert len(out) == 8
    assert out["a"] == (13, 13, 1.0)
    assert out["b"] == (13, 13, 1.0)
    assert out["c"] == (13, 0, 0.0)
    assert out["d"] == (8, 1, 0.125)
    assert out["g"] == (23, 0, 0.0)
    for deg in ("e", "f", "h"):
        assert out[deg] == (0, 0, 0.0)


def test_token_ngram_dup_stats_oracle_parity():
    """Cross-engine: the REAL driver query vs its REAL DuckDB oracle
    (generator + closed-form window-hash replay) must agree bit-exactly."""
    import duckdb

    import __spark_entry__ as entrymod
    from fs_schema_validator_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    got = sorted(
        tuple(r)
        for r in entrymod.token_ngram_dup_stats(spark, "unused").collect()
    )
    con = duckdb.connect()
    want = sorted(
        tuple(r) for r in con.sql(entrymod._token_ngram_oracle()).fetchall()
    )
    assert got == want


def _dup_stats_portable(rows, k, base=1000003, mod=2147483647, seed=7):
    """Plain-Python statement of token_ngram_dup_stats' contract: a
    window is duplicated when its hash occurs in >= 2 row instances;
    null / child-null / short rows have no windows."""
    from collections import Counter

    per_row = []
    for doc_id, toks in rows:
        wins = Counter()
        if toks is not None and all(t is not None for t in toks):
            for j in range(len(toks) - k + 1):
                h = seed
                for t in toks[j : j + k]:
                    h = (h * base + (t % mod)) % mod
                wins[h] += 1
        per_row.append((doc_id, wins))
    n_docs = Counter(h for _, wins in per_row for h in wins)
    out = {}
    for doc_id, wins in per_row:
        nw, nd = out.get(doc_id, (0, 0))
        nw += sum(wins.values())
        nd += sum(c for h, c in wins.items() if n_docs[h] >= 2)
        out[doc_id] = (nw, nd)
    return {
        d: (nw, nd, round(nd / nw, 4) if nw else 0.0)
        for d, (nw, nd) in out.items()
    }


def _dup_stats_duckdb(rows, k, base=1000003, mod=2147483647, seed=7):
    """The same contract as a DuckDB SQL replay (the driver's oracle
    engine): windows by list index, the closed-form polynomial hash with
    floor-mod tokens, counts per row instance."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (rid BIGINT, doc_id VARCHAR, tokens INTEGER[])")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(i, d, toks) for i, (d, toks) in enumerate(rows)],
    )
    seed_pk = seed * pow(base, k, mod) % mod
    terms = " + ".join(
        f"(((CAST(tokens[j + {s}] AS BIGINT) % {mod}) + {mod}) % {mod})"
        f" * {pow(base, k - 1 - s, mod)} % {mod}"
        for s in range(k)
    )
    sql = f"""
WITH ok AS (
  SELECT rid, doc_id, tokens FROM t
  WHERE tokens IS NOT NULL AND list_count(tokens) = len(tokens)
    AND len(tokens) >= {k}
), wins AS (
  SELECT rid, doc_id, tokens,
         unnest(generate_series(1, len(tokens) - {k} + 1)) AS j
  FROM ok
), pdc AS (
  SELECT rid, doc_id, ({seed_pk} + {terms}) % {mod} AS h, count(*) AS k_cnt
  FROM wins GROUP BY ALL
), gc AS (
  SELECT h, count(*) AS n_docs FROM pdc GROUP BY h
), per AS (
  SELECT doc_id, sum(k_cnt) AS nw,
         sum(CASE WHEN n_docs >= 2 THEN k_cnt ELSE 0 END) AS nd
  FROM pdc JOIN gc USING (h) GROUP BY doc_id
)
SELECT ids.doc_id, CAST(coalesce(nw, 0) AS BIGINT),
       CAST(coalesce(nd, 0) AS BIGINT),
       CASE WHEN coalesce(nw, 0) > 0 THEN round(nd / nw, 4) ELSE 0.0 END
FROM (SELECT DISTINCT doc_id FROM t) ids LEFT JOIN per USING (doc_id)
"""
    return {d: (nw, nd, float(r)) for d, nw, nd, r in con.sql(sql).fetchall()}


@pytest.mark.parametrize("strategy", ["arrow", "sql", "portable"])
def test_null_text_docs_never_pair(spark, strategy):
    """Docs whose token list is null, contains a null token, or is empty
    have no windows, so they never make another doc's window a duplicate,
    not even each other's. Checked on the package operator (`arrow`, the
    mapInArrow kernel + Spark SQL), a DuckDB SQL replay (`sql`) and a
    plain-Python statement of the contract (`portable`)."""
    from fs_schema_validator_spark.operators.dedup import (
        token_ngram_dup_stats,
    )

    k = 4
    child_null = [50, None, 52, 53, 54, 55, 56, 57]
    rows = [
        ("a", list(range(12))),
        ("b", list(range(12))),          # exact copy of a: pairs
        ("n1", None),
        ("n2", None),
        ("n3", None),
        ("c1", child_null),              # identical child-null docs
        ("c2", list(child_null)),
        ("s", [52, 53, 54, 55, 56, 57]),  # shares windows only with c1/c2
        ("e1", []),
        ("e2", []),
        ("u", [900 + 13 * i for i in range(10)]),
    ]
    if strategy == "arrow":
        df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
        got = {
            r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_rate)
            for r in token_ngram_dup_stats(df, k=k).collect()
        }
    elif strategy == "sql":
        got = _dup_stats_duckdb(rows, k)
    else:
        got = _dup_stats_portable(rows, k)
    want = {
        "a": (9, 9, 1.0),
        "b": (9, 9, 1.0),
        "s": (3, 0, 0.0),
        "u": (7, 0, 0.0),
    }
    for deg in ("n1", "n2", "n3", "c1", "c2", "e1", "e2"):
        want[deg] = (0, 0, 0.0)
    assert got == want


def test_hot_bucket_cap_keeps_planted_cluster_connected(spark):
    """A window hash shared by thousands of rows (a hot hash, e.g. a
    boilerplate header) is counted without a cap: every row of the
    planted cluster has its one shared window flagged, and the background
    docs, which share nothing, stay at 0."""
    from fs_schema_validator_spark.operators.dedup import (
        token_ngram_dup_stats,
    )

    n_dup, k = 3000, 8
    hot = list(range(k))
    rows = [
        (f"bg-{i}", [1_000_000 + 100 * i + t for t in range(16)])
        for i in range(50)
    ]
    rows += [
        (f"dup-{i}", hot + [2_000_000 + 8 * i + t for t in range(8)])
        for i in range(n_dup)
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = token_ngram_dup_stats(df, k=k)
    planted = out.filter(F.col("doc_id").startswith("dup-"))
    # 16 tokens -> 9 windows; only the all-hot first window is shared
    assert planted.count() == n_dup
    stats = planted.select("n_windows", "n_dup_windows", "dup_rate")
    assert {tuple(r) for r in stats.distinct().collect()} == {
        (9, 1, round(1 / 9, 4))
    }
    bg = out.filter(F.col("doc_id").startswith("bg-"))
    assert bg.count() == 50
    assert bg.filter(F.col("n_dup_windows") != 0).count() == 0


def _dedup_rows(k, seed):
    """Seeded rows for the dup-stats differential test: random short
    streams over a tiny vocabulary (so windows collide by chance), an id
    spread over two rows with different tokens, exact full-row duplicates,
    a window shared by more than 1,000 rows, and null, child-null, empty
    and short lists."""
    import random

    rnd = random.Random(seed)
    rows = [
        (f"r{i}", [rnd.randrange(5) for _ in range(rnd.randrange(k + 6))])
        for i in range(300)
    ]
    rows += [
        ("split", [rnd.randrange(5) for _ in range(k + 4)]),
        ("split", [10 + rnd.randrange(5) for _ in range(k + 2)]),
        ("twin-a", [20 + t for t in range(k + 3)]),
        ("twin-b", [20 + t for t in range(k + 3)]),
        ("twin-a", [20 + t for t in range(k + 3)]),
        ("null", None),
        ("child-null", [1] * k + [None] + [2] * k),
        ("empty", []),
        ("short", [3] * (k - 1)),
    ]
    hot = [100 + t for t in range(k)]
    rows += [
        (f"hot-{i}", hot + [1000 + 4 * i + t for t in range(rnd.randrange(4))])
        for i in range(1100)
    ]
    rnd.shuffle(rows)
    return rows


@pytest.mark.parametrize("k", [1, 3, 8])
def test_token_ngram_dup_stats_matches_portable_contract(spark, k):
    """The operator against the plain-Python statement of its contract,
    over seeded rows that cover every way a row reaches the pair stream:
    each row is one document instance, an id is one output row, and a hot
    window hash is one window-function group."""
    from fs_schema_validator_spark.operators.dedup import (
        token_ngram_dup_stats,
    )

    rows = _dedup_rows(k, seed=100 + k)
    want = _dup_stats_portable(rows, k)
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = token_ngram_dup_stats(df, k=k).collect()
    assert len(out) == len({d for d, _ in rows}) == len(want)
    got = {r.doc_id: (r.n_windows, r.n_dup_windows) for r in out}
    assert got == {d: (nw, nd) for d, (nw, nd, _) in want.items()}
    for r in out:
        nw, nd = got[r.doc_id]
        assert r.dup_rate == pytest.approx(nd / nw if nw else 0.0, abs=5e-5)
    # the planted cases hold for every k
    assert got["twin-b"][1] == got["twin-b"][0] == 4
    assert got["twin-a"] == (8, 8)
    assert got["null"] == got["child-null"] == got["empty"] == (0, 0)
    assert all(got[f"hot-{i}"][1] >= 1 for i in range(1100))


def test_token_ngram_dup_stats_runs_the_kernel_once(spark):
    """The pair stream feeds one window count and one rollup, so the Arrow
    kernel (a MapInArrow node) appears once in the physical plan."""
    import io
    import re
    from contextlib import redirect_stdout

    from fs_schema_validator_spark.operators.dedup import (
        token_ngram_dup_stats,
    )

    df = spark.createDataFrame(
        [("a", list(range(12))), ("b", None)], "doc_id string, tokens array<int>"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        token_ngram_dup_stats(df, k=4).explain(mode="formatted")
    assert len(set(re.findall(r"\((\d+)\) MapInArrow", buf.getvalue()))) == 1


@pytest.mark.parametrize("k", [0, -3])
def test_token_ngram_dup_stats_rejects_k_below_one(spark, k):
    """k < 1 has no windows to hash; it fails before a plan is built, not
    as a Python worker error partway through a job."""
    from fs_schema_validator_spark.operators.dedup import (
        token_ngram_dup_stats,
    )

    df = spark.createDataFrame([("a", [1, 2])], "doc_id string, tokens array<int>")
    with pytest.raises(ValueError, match=rf"k must be >= 1, got {k}"):
        token_ngram_dup_stats(df, k=k)
