"""Operator tests: dedup recall on planted near-dups, token-window
dedup and decontamination, graph clustering, KS/PSI drift, table
loading and profiling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fs_schema_validator_spark.engine import ValidationEngine
from fs_schema_validator_spark.operators import dedup

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
).split()


def _doc(i: int, mutate: int | None = None) -> str:
    # seeded per-doc RNG: docs are mutually independent word sequences
    # (a rotating-window generator makes every doc a near-dup of every other)
    import random

    rng = random.Random(i)
    ws = rng.choices(WORDS, k=30)
    if mutate is not None:
        ws[mutate] = "zulu"
    return " ".join(ws)


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(40):
        rows.append((i, _doc(i)))
    # planted near-duplicates: single-word mutations of docs 0..4
    for i in range(5):
        rows.append((1000 + i, _doc(i, mutate=15)))
    # planted exact duplicate
    rows.append((2000, _doc(7)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].doc_ids == [7, 2000]
    assert groups[0].keeper == 7


def test_jaccard_finds_planted_near_dups(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs_exact(docs, k=3, threshold=0.5).collect()
    }
    for i in range(5):
        assert (i, 1000 + i) in pairs, f"planted near-dup {i} not found"
        assert pairs[(i, 1000 + i)] > 0.7
    assert (7, 2000) in pairs and pairs[(7, 2000)] == 1.0


@pytest.mark.parametrize("strategy", ["arrow", "sql"])
def test_minhash_lsh_recall(docs, strategy):
    sigs = dedup.minhash_signatures(docs, k=3, num_perm=64, strategy=strategy)
    cands = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sigs, bands=16, rows_per_band=4).collect()
    }
    # all planted pairs (jaccard ~0.8+) must surface as LSH candidates
    for i in range(5):
        assert (i, 1000 + i) in cands, f"LSH missed planted pair {i} ({strategy})"
    assert (7, 2000) in cands


def test_verify_candidate_pairs_filters_lsh_output(docs):
    sigs = dedup.minhash_signatures(docs, k=3, num_perm=64)
    cand = dedup.lsh_candidate_pairs(sigs, bands=16, rows_per_band=4)
    verified = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.verify_candidate_pairs(docs, cand, k=3, threshold=0.5).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs_exact(docs, k=3, threshold=0.5).collect()
    }
    # candidates+verify reproduces the exact result on planted dupes
    assert verified == exact


def test_ks_vs_global_flags_shifted_group(spark):
    from fs_schema_validator_spark.functions import sketches

    rows = [(i, "steady", float(i % 100)) for i in range(2000)]
    rows += [(10_000 + i, "shifted", float(400 + i % 100)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, grp_name string, v double")
    out = {
        r.grp: r.ks_d
        for r in sketches.ks_vs_global(
            df, col="v", group_col="grp_name", lo=0.0, hi=500.0, buckets=10
        ).collect()
    }
    # each group is half the table shifted to opposite ends: D = 0.5 exactly
    assert out["steady"] == pytest.approx(0.5)
    assert out["shifted"] == pytest.approx(0.5)


def test_vs_global_drift_on_empty_input_returns_no_rows(spark):
    from fs_schema_validator_spark.functions import sketches

    df = spark.createDataFrame([], "id bigint, grp_name string, v double")
    for fn in (sketches.ks_vs_global, sketches.psi_vs_global):
        out = fn(df, col="v", group_col="grp_name", lo=0.0, hi=500.0, buckets=10)
        assert out.collect() == []


def test_simhash_near_dups_collide(docs):
    sigs = dedup.simhash_signatures(docs)
    cands = {
        (r.doc_a, r.doc_b) for r in dedup.simhash_candidates(sigs).collect()
    }
    # exact duplicate must share all bands; near-dups share at least one
    assert (7, 2000) in cands
    hits = sum((i, 1000 + i) in cands for i in range(5))
    assert hits >= 3


def test_skewed_source_distribution(spark):
    from fs_schema_validator_spark.sources import synth

    counts = {
        r.source: r.n
        for r in synth.gen_sequences(spark, 1000, skew=True)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts["cc"] == 900


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


def test_bucketed_equality_join_has_no_exchange(spark):
    import io
    from contextlib import redirect_stdout

    from fs_schema_validator_spark.sources import synth, tables

    seq = synth.gen_sequences(spark, 200)
    ref = seq.select("doc_id", "tokens")
    tables.write_bucketed(seq, "bkt_sequences", ["doc_id"], buckets=4)
    tables.write_bucketed(ref, "bkt_reference", ["doc_id"], buckets=4)
    try:
        a = spark.table("bkt_sequences")
        b = spark.table("bkt_reference").withColumnRenamed("tokens", "ref_tokens")
        # merge hint: at test scale AQE would broadcast instead; production
        # reference side is far past the broadcast threshold
        joined = a.join(b.hint("merge"), "doc_id")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain(mode="formatted")
        plan = buf.getvalue()
        # co-located bucketed join: sort-merge with zero shuffles
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_sequences")
        spark.sql("DROP TABLE IF EXISTS bkt_reference")


def test_load_table_format_dispatch(spark, tmp_path):
    from fs_schema_validator_spark.sources import synth, tables

    seq = synth.gen_sequences(spark, 50).select("doc_id", "n_tok", "source")
    for fmt, path in [
        ("parquet", tmp_path / "t.parquet"),
        ("orc", tmp_path / "t.orc"),
        ("json", tmp_path / "t.json"),
        ("csv", tmp_path / "t.csv"),
    ]:
        w = seq.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        getattr(w, fmt)(str(path))
        got = tables.load_table(
            spark,
            str(path),
            schema="doc_id string, n_tok bigint, source string"
            if fmt in ("json", "csv")
            else None,
        )
        assert got.count() == 50, fmt
        assert set(got.columns) == {"doc_id", "n_tok", "source"}, fmt
        # declared-schema path keeps strict types for the rule compiler
        # (parquet/orc carry their own written types)
        want = "bigint" if fmt in ("json", "csv") else dict(seq.dtypes)["n_tok"]
        assert dict(got.dtypes)["n_tok"] == want, fmt


def test_load_table_explicit_fmt_overrides_extension(spark, tmp_path):
    """Directory names are never sniffed: a parquet dir named *_orc reads
    as parquet (the default), and `fmt` forces the reader explicitly."""
    from fs_schema_validator_spark.sources import synth, tables

    seq = synth.gen_sequences(spark, 20).select("doc_id", "n_tok", "source")
    path = str(tmp_path / "events_orc")
    seq.write.mode("overwrite").parquet(path)
    assert tables.load_table(spark, path).count() == 20
    assert tables.load_table(spark, path, fmt="parquet").count() == 20


def test_simhash_strategies_agree(docs):
    """Arrow kernel and pure-expression SimHash produce identical sigs."""
    arrow = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    sql = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(docs, strategy="sql").collect()
    }
    assert arrow == sql
    assert all(s >= 0 for s in arrow.values())


def test_lsh_bucket_cap_bounds_hot_buckets(spark):
    """A planted exact-dup cluster collides in EVERY band; the cap keeps
    the expansion to a bounded clique plus linear star links."""
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(300)]
    rows += [(1000 + i, _doc(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = dedup.minhash_signatures(df, k=3, num_perm=64)
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            sigs, bands=16, rows_per_band=4, max_bucket=50
        ).collect()
    }
    want_clique = {(a, b) for a in range(50) for b in range(a + 1, 50)}
    want_star = {(0, b) for b in range(50, 300)}
    # independent docs may add a few incidental candidates; the planted
    # cluster must produce exactly clique+star (no O(m^2) tail pairs)
    cluster_pairs = {p for p in got if p[0] < 1000 and p[1] < 1000}
    assert cluster_pairs == want_clique | want_star


def test_lsh_cap_disabled_matches_capped_on_small_buckets(docs):
    sigs = dedup.minhash_signatures(docs, k=3, num_perm=64)
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket=512).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket=None).collect()
    }
    assert capped == uncapped


def test_cache_registry_releases_tracked_frames(docs):
    from fs_schema_validator_spark.functions import cache

    cache.release_all()  # start clean
    sigs = dedup.minhash_signatures(docs, k=3, num_perm=64)
    cand = dedup.lsh_candidate_pairs(sigs, bands=16, rows_per_band=4)
    dedup.verify_candidate_pairs(docs, cand, k=3, threshold=0.5).collect()
    assert cache.release_all() >= 1
    assert cache.release_all() == 0


def test_bucketed_join_has_no_exchange(spark):
    """Co-bucketed tables join with zero Exchange on either side — the
    shuffle-eliminating layout for the engine's recurring equality join."""
    from fs_schema_validator_spark.sources import synth, tables as tbl

    seq = synth.gen_sequences(spark, 200).select("doc_id", "n_tok")
    ref = synth.gen_sequences(spark, 200).select("doc_id", "source")
    j = tbl.bucketed_equi_join(spark, seq, ref, "doc_id", buckets=8, tag="test")
    assert j.count() == 200
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_connected_components_and_summary(spark):
    from fs_schema_validator_spark.operators import graph

    # components: {1..5} as a chain (diameter 4), {10,11}, {20,21,22} star
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (20, 22)],
        "doc_a bigint, doc_b bigint",
    )
    cc = {r.node: r.cluster for r in graph.connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10,
                  20: 20, 21: 20, 22: 20}
    summary = {
        r.cluster: (r.n_docs, r.keeper, r.dropped)
        for r in graph.dedup_cluster_summary(edges).collect()
    }
    assert summary == {
        1: (5, 1, [2, 3, 4, 5]),
        10: (2, 10, [11]),
        20: (3, 20, [21, 22]),
    }


def test_connected_components_raises_on_iteration_cap(spark):
    from fs_schema_validator_spark.operators import graph

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(chain, max_iter=2)


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
    from fs_schema_validator_spark.functions import sketches

    rows = [(i, "spread", float(i % 100)) for i in range(2000)]
    rows += [(10_000 + i, "peaked", 5.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, grp_name string, v double")
    out = {
        r.grp: r.psi
        for r in sketches.psi_vs_global(
            df, col="v", group_col="grp_name", lo=0.0, hi=100.0, buckets=10
        ).collect()
    }
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


@pytest.mark.parametrize("strategy", ["arrow", "sql", "portable"])
def test_null_text_docs_never_pair(spark, strategy):
    """Null-text docs must emit NO candidate pairs (ADVICE r2): a sentinel
    signature would make every null doc collide in every LSH band. The
    wrappers emit NULL sigs, banding drops them, and the SQL oracle
    excludes null-text docs to match. Empty-STRING docs are NOT
    degenerate: they carry the one-element sentinel shingle, so two empty
    docs pair with each other (exact dups) — in both engines."""
    rows = [(i, _doc(i)) for i in range(10)]
    rows += [(100, None), (101, None), (102, None), (103, ""), (104, "")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    if strategy == "portable":
        sigs = dedup.minhash_signatures_portable(df, k=3, num_perm=64)
    else:
        sigs = dedup.minhash_signatures(df, k=3, num_perm=64, strategy=strategy)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            sigs, bands=16, rows_per_band=4
        ).collect()
    }
    involved = {a for a, _ in pairs} | {b for _, b in pairs}
    assert not involved & {100, 101, 102}, (
        f"null docs paired: {sorted(involved & {100, 101, 102})}"
    )
    assert (103, 104) in pairs
    assert all(103 not in p and 104 not in p for p in pairs - {(103, 104)})


def test_minhash_oracle_agrees_on_null_and_empty_text(spark, tmp_path):
    """Cross-engine repro of the review finding: DuckDB's hash join pairs
    sig=[NULL..] list keys, so without the oracle's `text IS NOT NULL`
    exclusion null docs form an all-pairs clique there while the engine
    emits none. Runs the REAL oracle SQL and the REAL driver query on a
    null/empty fixture and asserts identical pair sets."""
    import duckdb

    import __spark_entry__ as entrymod

    rows = [(i, _doc(i)) for i in range(8)]
    rows += [(100, None), (101, None), (102, None), (103, ""), (104, "")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    got = {
        (r.doc_a, r.doc_b)
        for r in entrymod.queries()["minhash_lsh_pairs"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.sql(
        entrymod.oracle_sql()["minhash_lsh_pairs"]
    ).fetchall()}
    assert got == want
    assert (103, 104) in got  # empty-string docs pair in BOTH engines
    assert not ({100, 101, 102} & {x for p in got for x in p})


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


@pytest.mark.parametrize("strategy", ["propagate", "star"])
def test_connected_components_strategies_agree(spark, strategy):
    """Both CC strategies produce the identical (node → component-min)
    labeling on a mixed random graph."""
    import random

    from fs_schema_validator_spark.operators import graph

    rng = random.Random(13)
    edges_py = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
    edges_py = [(x, y) for x, y in edges_py if x != y]
    df = spark.createDataFrame(edges_py, "doc_a bigint, doc_b bigint")
    got = {
        (r.node, r.cluster)
        for r in graph.connected_components(
            df, strategy=strategy, max_iter=40
        ).collect()
    }

    # pure-Python union-find oracle
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in edges_py:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    expect = {(n, find(n)) for n in parent}
    assert got == expect


def test_star_strategy_handles_long_paths_in_few_rounds(spark):
    """A 40-edge path (diameter 40) defeats min-label propagation at
    max_iter=10 but star contraction converges well inside it — the
    O(log n) claim the propagate docstring defers to."""
    from fs_schema_validator_spark.operators import graph

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(chain, max_iter=10)
    cc = {
        r.node: r.cluster
        for r in graph.connected_components(
            chain, strategy="star", max_iter=10
        ).collect()
    }
    assert cc == {i: 0 for i in range(41)}


def test_hot_bucket_cap_keeps_planted_cluster_connected(spark):
    """Realistic-skew contract (VERDICT r2 item 6): a dup cluster far over
    max_bucket must (a) expand O(N + cap²) pairs, not O(N²), and (b) stay
    ONE connected component end-to-end via the star tail — under both CC
    strategies."""
    from fs_schema_validator_spark.operators import graph

    n_dup, cap = 3000, 64
    boiler = "identical boilerplate terms " + " ".join(WORDS[:12])
    rows = [(i, _doc(i)) for i in range(50)]
    rows += [(10_000 + i, boiler) for i in range(n_dup)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = dedup.minhash_signatures(df, k=3, num_perm=64)
    pairs = dedup.lsh_candidate_pairs(
        sigs, bands=16, rows_per_band=4, max_bucket=cap
    )
    from fs_schema_validator_spark.functions.cache import track

    pairs = track(pairs.cache())
    n_pairs = pairs.count()
    # clique over the first cap members + one star edge per tail member;
    # random background collisions can only add a handful
    assert n_pairs < cap * (cap - 1) // 2 + (n_dup - cap) + 100, n_pairs
    assert n_pairs >= cap * (cap - 1) // 2 + (n_dup - cap)
    for strategy in ("propagate", "star"):
        cc = graph.connected_components(pairs, strategy=strategy)
        planted = cc.filter(F.col("node") >= 10_000)
        clusters = planted.select("cluster").distinct().count()
        assert clusters == 1, f"{strategy}: cluster split into {clusters}"
        assert planted.count() == n_dup
    from fs_schema_validator_spark.functions.cache import release_all

    release_all()


def test_cross_table_lsh_catches_edited_benchmark_leak(spark):
    """A one-word-edited copy of a benchmark doc must surface in the
    fuzzy cross-table screen, as must the exact copies."""
    corpus_rows = [(i, _doc(i)) for i in range(20)]
    corpus_rows.append((50, _doc(3, mutate=10)))  # edited leak of bench doc
    corpus = spark.createDataFrame(corpus_rows, "doc_id bigint, text string")
    bench = spark.createDataFrame(
        [(900 + i, _doc(i)) for i in (3, 7)], "doc_id bigint, text string"
    )
    fuzzy = {
        (r.corpus_id, r.bench_id)
        for r in dedup.cross_table_lsh_pairs(corpus, bench).collect()
    }
    assert (50, 903) in fuzzy          # edited leak caught
    assert (3, 903) in fuzzy and (7, 907) in fuzzy  # exact copies too


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


def test_token_ngram_dedup_hand_computed_spans(spark):
    """Span-removal golden, k=2, spans worked out by hand:
    dup windows are (1,2) {A,C} and (2,3) {A,B}. A's covered union is
    [0,2)∪[1,3) = [0,3) (overlap merge), leaving [4,5]; B loses [1,3);
    C loses [0,2); degenerate rows pass through untouched."""
    from fs_schema_validator_spark.operators.dedup import token_ngram_dedup

    rows = [
        ("A", [1, 2, 3, 4, 5]),
        ("B", [9, 2, 3, 7]),
        ("C", [1, 2, 9]),
        ("N", None),
        ("S", [5]),                 # shorter than k
        ("X", [1, None, 3]),        # child null -> no windows
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {
        r.doc_id: (r.tokens_clean, r.n_removed)
        for r in token_ngram_dedup(df, k=2).collect()
    }
    assert out["A"] == ([4, 5], 3)
    assert out["B"] == ([9, 7], 2)
    assert out["C"] == ([9], 2)
    assert out["N"] == (None, 0)
    assert out["S"] == ([5], 0)
    assert out["X"] == ([1, None, 3], 0)


def test_token_ngram_dedup_full_erasure_and_dup_stats_consistency(spark):
    """An exact copy pair erases BOTH instances entirely (symmetric
    semantics), and n_removed > 0 exactly where token_ngram_dup_stats
    reports n_dup_windows > 0 on the same corpus."""
    from fs_schema_validator_spark.operators.dedup import (
        token_ngram_dedup,
        token_ngram_dup_stats,
    )

    rows = [
        ("a", list(range(20))),
        ("b", list(range(20))),
        ("c", [100 + 17 * i for i in range(20)]),
        ("d", list(range(8)) + [999 - i for i in range(7)]),
        ("g", [5] * 30),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    cleaned = {
        r.doc_id: (r.tokens_clean, r.n_removed)
        for r in token_ngram_dedup(df, k=8).collect()
    }
    assert cleaned["a"] == ([], 20)
    assert cleaned["b"] == ([], 20)
    assert cleaned["c"][1] == 0
    # d shares exactly its first window [0..8) with a/b
    assert cleaned["d"] == ([999 - i for i in range(7)], 8)
    assert cleaned["g"][1] == 0  # intra-doc repeats are not cross-doc dups
    stats = {
        r.doc_id: r.n_dup_windows
        for r in token_ngram_dup_stats(df, k=8).collect()
    }
    for doc, (_, n_removed) in cleaned.items():
        assert (n_removed > 0) == (stats[doc] > 0), doc


def test_token_ngram_dedup_clean_oracle_parity():
    """Cross-engine: the REAL driver query vs its REAL DuckDB oracle
    (generator + positional window-hash + span-union replay)."""
    import duckdb

    import __spark_entry__ as entrymod
    from fs_schema_validator_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    got = sorted(
        tuple(r)
        for r in entrymod.token_ngram_dedup_clean(spark, "unused").collect()
    )
    con = duckdb.connect()
    want = sorted(
        tuple(r)
        for r in con.sql(entrymod._token_span_dedup_oracle()).fetchall()
    )
    assert got == want


def test_token_ngram_contamination_semantics(spark):
    """Token-level decontamination: a corpus doc whose token stream is a
    benchmark doc is fully contaminated; sharing exactly one window
    gives 1/n_windows; disjoint streams score 0; degenerate rows have
    zero windows. Benchmark-side degenerate rows contribute nothing."""
    from fs_schema_validator_spark.operators.dedup import (
        token_ngram_contamination,
    )

    corpus = spark.createDataFrame(
        [
            ("a", list(range(20))),
            ("b", [900 + 13 * i for i in range(20)]),
            ("c", list(range(8)) + [777 - i for i in range(7)]),
            ("e", None),
            ("f", [1, 2, 3]),
        ],
        "doc_id string, tokens array<int>",
    )
    bench = spark.createDataFrame(
        [("q1", list(range(20))), ("q2", None), ("q3", [5, 6])],
        "doc_id string, tokens array<int>",
    )
    out = {
        r.doc_id: (r.n_windows, r.n_contaminated, r.contamination_rate)
        for r in token_ngram_contamination(corpus, bench, k=8).collect()
    }
    assert len(out) == 5
    assert out["a"] == (13, 13, 1.0)
    assert out["b"] == (13, 0, 0.0)
    assert out["c"] == (8, 1, 0.125)
    assert out["e"] == (0, 0, 0.0)
    assert out["f"] == (0, 0, 0.0)


def test_token_ngram_contamination_oracle_parity():
    """Cross-engine: the REAL driver query vs its REAL DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entrymod
    from fs_schema_validator_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    got = sorted(
        tuple(r)
        for r in entrymod.token_ngram_contamination(spark, "unused").collect()
    )
    con = duckdb.connect()
    want = sorted(
        tuple(r)
        for r in con.sql(entrymod._token_contamination_oracle()).fetchall()
    )
    assert got == want


def test_append_token_dedup_equals_full_rebuild(spark, tmp_path):
    """Incremental span-removal: state built over the OLD corpus, a
    delta appended — the returned rewrites, overlaid on the old
    corpus's original clean outputs, must equal a full
    token_ngram_dedup rebuild over old ∪ delta; the merged state must
    equal a from-scratch state; a retried append must be a no-op."""
    from fs_schema_validator_spark.operators import dedup

    def toks(i, n):
        return [(i * 31 + j * 7) % 1000 for j in range(n)]

    old_rows = [(f"doc-{i:03d}", toks(i, 10 + i % 7)) for i in range(40)]
    new_rows = [(f"new-{i:03d}", toks(100 + i, 12)) for i in range(6)]
    # re-plants of old docs: their windows flip to duplicated, so the
    # ORIGINAL docs must be rewritten too
    new_rows += [("rep-000", list(old_rows[5][1])),
                 ("rep-001", list(old_rows[9][1]))]
    # a new-only duplicate pair + degenerate rows
    new_rows += [("twin-a", toks(500, 15)), ("twin-b", toks(500, 15)),
                 ("deg-null", None), ("deg-short", [1, 2, 3])]
    schema = "doc_id string, tokens array<int>"
    old = spark.createDataFrame(old_rows, schema)
    delta = spark.createDataFrame(new_rows, schema)

    path = str(tmp_path / "tokstate")
    dedup.write_token_dedup_state(old, path, k=8)
    base_out = {
        r.doc_id: (r.tokens_clean, r.n_removed)
        for r in dedup.token_ngram_dedup(old, k=8).collect()
    }
    rewrites = {
        r.doc_id: (r.tokens_clean, r.n_removed)
        for r in dedup.append_token_dedup(delta, old, path).collect()
    }
    assert "rep-000" in rewrites and "doc-005" in rewrites  # old affected
    combined = {**base_out, **rewrites}
    full = {
        r.doc_id: (r.tokens_clean, r.n_removed)
        for r in dedup.token_ngram_dedup(old.unionByName(delta), k=8)
        .collect()
    }
    assert combined == full

    # merged state == from-scratch state over old ∪ delta
    path2 = str(tmp_path / "tokstate2")
    dedup.write_token_dedup_state(old.unionByName(delta), path2, k=8)
    merged = sorted(
        map(tuple, spark.read.parquet(f"{path}/counts").collect())
    )
    scratch = sorted(
        map(tuple, spark.read.parquet(f"{path2}/counts").collect())
    )
    assert merged == scratch

    # retried append: skip_existing makes it a no-op
    again = dedup.append_token_dedup(delta, old, path).collect()
    assert again == []
    assert sorted(
        map(tuple, spark.read.parquet(f"{path}/counts").collect())
    ) == scratch


def test_append_minhash_dedup_equals_full_rebuild(spark, tmp_path):
    """Incremental MinHash-LSH: state over the OLD corpus + an appended
    delta must accumulate exactly the verified pair set a from-scratch
    rebuild over old ∪ delta produces (max_bucket=None so capped and
    uncapped coincide); a retried append is a no-op."""
    from fs_schema_validator_spark.operators import dedup

    def doc(i, extra=""):
        return (
            f"d-{i:03d}",
            f"the quick brown fox {i} jumps over the lazy dog "
            f"pack my box with five dozen liquor jugs {i % 7} {extra}",
        )

    old_rows = [doc(i) for i in range(30)]
    new_rows = [doc(100 + i) for i in range(6)]
    # near-copies of OLD docs (cross-batch pairs) and an exact pair
    # within the delta
    new_rows += [(f"n-{j}", old_rows[j][1] + " tail") for j in (2, 5)]
    new_rows += [("twin-a", "alpha beta gamma delta epsilon zeta eta " * 3),
                 ("twin-b", "alpha beta gamma delta epsilon zeta eta " * 3),
                 ("deg-null", None), ("deg-empty", "")]
    schema = "doc_id string, text string"
    old = spark.createDataFrame(old_rows, schema)
    delta = spark.createDataFrame(new_rows, schema)

    path = str(tmp_path / "mhstate")
    dedup.write_minhash_dedup_state(old, path, max_bucket=None)
    new_pairs = dedup.append_minhash_dedup(
        delta, old, path, max_bucket=None
    ).collect()
    cross = {(r.doc_a, r.doc_b) for r in new_pairs}
    assert ("d-002", "n-2") in cross and ("twin-a", "twin-b") in cross

    got = sorted(
        map(tuple, spark.read.parquet(f"{path}/pairs").collect())
    )
    both = old.unionByName(delta)
    want = sorted(
        map(
            tuple,
            dedup.verify_candidate_pairs(
                both,
                dedup.lsh_candidate_pairs(
                    dedup.minhash_signatures_portable(both),
                    max_bucket=None,
                ),
            ).collect(),
        )
    )
    assert got == want
    assert len(want) > 2

    again = dedup.append_minhash_dedup(delta, old, path, max_bucket=None)
    assert again.count() == 0
    assert sorted(
        map(tuple, spark.read.parquet(f"{path}/pairs").collect())
    ) == want


def test_minhash_dedup_state_on_corpus_with_no_eligible_docs(spark, tmp_path):
    """A corpus with no document to signature — no rows at all, or only
    null and empty texts — writes a state that reads back with 0 pairs
    (the empty bands parquet keeps its schema)."""
    schema = "doc_id string, text string"
    corpora = {
        "none": [],
        "degenerate": [("deg-null", None), ("deg-empty", ""), ("deg-null-2", None)],
    }
    for name, rows in corpora.items():
        path = str(tmp_path / name)
        dedup.write_minhash_dedup_state(spark.createDataFrame(rows, schema), path)
        assert spark.read.parquet(f"{path}/pairs").count() == 0, name
        assert spark.read.parquet(f"{path}/docs").count() == len(rows), name

