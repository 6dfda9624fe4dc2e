"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship validation query at sf0.001;
`queries()` exposes one callable per implemented operator (SURVEY.md §2 +
training-data ops); `oracle_sql()` gives the DuckDB-equivalent ANSI SQL for
every SQL-expressible query. Column names/aliases match exactly between the
two sides (the driver hashes values under sorted column names).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fs_schema_validator_spark.compiler.plan import first_mismatch_index  # noqa: E402
from fs_schema_validator_spark.engine import ValidationEngine  # noqa: E402
from fs_schema_validator_spark.functions import sketches  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: multi-rule validation over (deterministically corrupted) documents

FLAGSHIP_RULES = r"""
schema:
  - type: column_spec
    id: source_format
    column: source
    spec: {type: str, regex: "^src\\d+$"}
  - type: expr
    id: lang_known
    assert: "lang in ('de','en','es','fr','zh')"
    reason: "'unknown lang'"
  - type: expr
    id: nchars_consistency
    assert: "n_chars = length(text)"
    reason: "concat('n_chars mismatch: declared ', n_chars, ' got ', length(text))"
  - type: not_empty
    id: text_not_empty
    column: text
  - type: column_spec
    id: nchars_bounds
    column: n_chars
    spec: {type: int, min: 1, max: 100000}
"""


def _corrupt_documents(docs: DataFrame) -> DataFrame:
    """Deterministic in-query corruption (mirrored verbatim in the oracle
    CTE) so the validation queries produce non-empty, checkable output."""
    d = F.col("doc_id")
    return docs.select(
        d.alias("doc_id"),
        F.when(d % 83 == 0, F.lit("")).otherwise(F.col("text")).alias("text"),
        F.when(d % 89 == 0, F.lit("xx")).otherwise(F.col("lang")).alias("lang"),
        F.when(d % 79 == 0, F.lit("SRC?")).otherwise(F.col("source")).alias("source"),
        F.when(d % 83 == 0, F.lit(0))
        .when(d % 97 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars"))
        .cast("bigint")
        .alias("n_chars"),
    )


_CORRUPT_DOCS_SQL = """
  SELECT doc_id,
         CASE WHEN doc_id % 83 = 0 THEN '' ELSE text END AS text,
         CASE WHEN doc_id % 89 = 0 THEN 'xx' ELSE lang END AS lang,
         CASE WHEN doc_id % 79 = 0 THEN 'SRC?' ELSE source END AS source,
         CAST(CASE WHEN doc_id % 83 = 0 THEN 0
                   WHEN doc_id % 97 = 0 THEN n_chars + 1
                   ELSE n_chars END AS BIGINT) AS n_chars
  FROM documents
"""


def flagship_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _corrupt_documents(_t(spark, sf_dir, "documents"))
    engine = ValidationEngine(subject_col="doc_id")
    return engine.validate(docs, FLAGSHIP_RULES).sorted_violations()


FLAGSHIP_ORACLE = f"""
WITH c AS ({_CORRUPT_DOCS_SQL})
SELECT CAST(doc_id AS VARCHAR) AS subject, 'source_format' AS rule_id, 0 AS rule_seq,
       '`source`: String should match pattern ''^src\\d+$''' AS reason
FROM c WHERE NOT regexp_matches(source, '^src\\d+$')
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'lang_known', 1, 'unknown lang'
FROM c WHERE lang NOT IN ('de','en','es','fr','zh')
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'nchars_consistency', 2,
       'n_chars mismatch: declared ' || n_chars || ' got ' || length(text)
FROM c WHERE n_chars != length(text)
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'text_not_empty', 3, '`text`: cannot be empty'
FROM c WHERE text IS NOT NULL AND length(text) = 0
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'nchars_bounds', 4,
       '`n_chars`: Input should be greater than or equal to 1'
FROM c WHERE n_chars < 1
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'nchars_bounds', 4,
       '`n_chars`: Input should be less than or equal to 100000'
FROM c WHERE n_chars > 100000
"""


# ---------------------------------------------------------------------------
# rule-kind queries over the TPC-H-ish tables


def range_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def multiple_of_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_size") % 5 != 0).select("p_partkey", "p_size")


def regex_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 111 == 0, F.upper("c_name"))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
    )
    return cust.filter(~F.col("c_name").rlike(r"^Customer#\d{9}$")).select(
        "c_custkey", "c_name"
    )


def enum_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 173 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    return orders.filter(~F.col("o_orderstatus").isin("O", "F", "P")).select(
        "o_orderkey", "o_orderstatus"
    )


def uniqueness_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
        .filter(F.col("n_lines") > 1)
    )


def referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 211 == 0, F.col("o_custkey") + 100000)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    return orders.join(
        F.broadcast(cust),
        orders.o_custkey == cust.c_custkey,
        "left_anti",
    ).select("o_orderkey", "o_custkey")


def completeness_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with no lineitems — manifest anti-join (the existence probe)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey").distinct()
    present = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    ).distinct()
    return orders.join(present, "o_orderkey", "left_anti").select(
        "o_orderkey", F.lit("does not exist").alias("reason")
    )


def stats_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts"),
    )


def stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP — one shuffle computes per-(flag,
    status), per-flag, and grand-total stats (Spark expands grouping sets
    in the partial aggregate, no extra passes)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


def quantiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("p75"),
    )


# One drift_psi rule per metric over documents' n_chars by lang. The
# threshold 0 lies below every lang's statistic, so each lang is reported
# and its rendered statistic is value-checked.
_DRIFT_RULE = """
  - type: drift_psi
    id: nchars_{metric}
    column: n_chars
    group_col: lang
    ref: table_mass
    metric: {metric}
    buckets: 12
    lo: 0
    hi: 600
    threshold: 0
"""


def _table_bucket_mass(docs: DataFrame) -> DataFrame:
    """(lang, bucket, p): the whole table's n_chars bucket mass, repeated
    for every lang, so each lang is compared against the table it belongs
    to. Null values are no mass, as in the engine's histogram."""
    vals = docs.filter(F.col("n_chars").isNotNull())
    bucket = sketches.bucketize(F.col("n_chars"), 0.0, 600.0, 12)
    counts = vals.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = vals.agg(F.count(F.lit(1)).alias("total"))
    mass = counts.crossJoin(total).select(
        "bucket", (F.col("cnt") / F.col("total")).alias("p")
    )
    return vals.select("lang").distinct().crossJoin(mass)


def _drift_violations(
    spark: SparkSession, sf_dir: str, metrics: list[str]
) -> DataFrame:
    """The engine's drift_psi violations, one rule per metric, against the
    table's own bucket mass."""
    docs = _t(spark, sf_dir, "documents")
    rules = "schema:" + "".join(_DRIFT_RULE.format(metric=m) for m in metrics)
    res = ValidationEngine(subject_col="doc_id").validate(
        docs, rules, {"table_mass": _table_bucket_mass(docs)}
    )
    return res.violations.select("subject", "rule_id", "reason")


def histogram_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of each lang's n_chars histogram against the whole table's,
    over the full lang × bucket grid."""
    return _drift_violations(spark, sf_dir, ["psi"])


# ---------------------------------------------------------------------------
# embeddings: array invariants


def _corrupt_embeddings(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 41 == 0,
            F.concat(F.col("embedding"), F.array(F.lit(0.0).cast("float"))),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )


def embedding_dim_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _corrupt_embeddings(_t(spark, sf_dir, "embeddings"))
    return emb.filter(F.size("embedding") != 64).select(
        "vec_id", F.size("embedding").cast("bigint").alias("dim")
    )


def array_mismatch_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cor = _corrupt_embeddings(emb).select(
        "vec_id", F.col("embedding").alias("corrupted")
    )
    idx = first_mismatch_index(F.col("embedding"), F.col("corrupted"))
    return (
        emb.join(cor, "vec_id")
        .select("vec_id", idx.alias("mismatch_idx"))
        .filter(F.col("mismatch_idx") >= 0)
    )


# ---------------------------------------------------------------------------
# the full engine pipeline, oracle-checked end to end: synthesize the
# north-rule sequences table (deterministic, FIXTURES.md generators + all 7
# corruption modes + a duplicate block) INSIDE the query, validate with the
# complete rule set, and replicate generator+rules verbatim in DuckDB SQL.

_SEQ_N = 100
_SEQ_EVERY = 10
_SEQ_EXTRA = 3

SEQ_PIPELINE_RULES = r"""
schema:
  - type: column_spec
    id: doc_id_format
    column: doc_id
    spec: {type: str, regex: "^doc-\\d{{8}}$"}
  - type: column_spec
    id: tokens_spec
    column: tokens
    spec: {type: array, items: {type: int, min: 0}}
  - type: expr
    id: ntok_consistency
    assert: "n_tok = size(tokens)"
    reason: "concat('n_tok mismatch: declared ', n_tok, ' got ', size(tokens))"
  - type: not_empty
    id: tokens_not_empty
    column: tokens
  - type: column_spec
    id: ntok_bounds
    column: n_tok
    spec: {type: int, min: 1, max: 512}
  - type: unique
    id: doc_id_unique
    keys: [doc_id]
  - type: referential
    id: source_known
    column: source
    dim: dim_sources
    dim_key: source
  - type: completeness
    id: manifest_complete
    manifest: expected_manifest
    key: doc_id
  - type: token_range
    id: tokens_in_vocab
    column: tokens
    group_col: source
    dim: dim_sources
    dim_key: source
    vocab_col: vocab_size
  - type: array_equality
    id: tokens_match_reference
    column: tokens
    reference: reference_tokens
    key: doc_id
"""


def sequences_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fs_schema_validator_spark.sources import synth

    seq = synth.with_duplicates(
        synth.corrupt_sequences(synth.gen_sequences(spark, _SEQ_N), every=_SEQ_EVERY),
        every=101,
    )
    tables = {
        "dim_sources": synth.gen_dim_sources(spark),
        "reference_tokens": synth.gen_reference_tokens(spark, _SEQ_N),
        "expected_manifest": synth.gen_expected_manifest(spark, _SEQ_N, extra=_SEQ_EXTRA),
    }
    engine = ValidationEngine(subject_col="doc_id")
    return engine.validate(seq, SEQ_PIPELINE_RULES, tables).sorted_violations()


SEQ_PIPELINE_ORACLE = f"""
WITH base AS (
  SELECT i,
         printf('doc-%08d', i) AS doc_id0,
         CAST(1 + (i % 512) AS INT) AS n_tok0,
         CASE i % 4 WHEN 0 THEN 'cc' WHEN 1 THEN 'wiki'
                    WHEN 2 THEN 'code' ELSE 'books' END AS source0
  FROM range(0, {_SEQ_N}) t(i)
), vocabbed AS (
  SELECT *, CASE source0 WHEN 'cc' THEN 50304 WHEN 'wiki' THEN 32000
                         WHEN 'code' THEN 65536 ELSE 32000 END AS vocab
  FROM base
), pristine AS (
  SELECT *, list_transform(range(0, n_tok0),
                           j -> CAST((i * 31 + j * 7) % vocab AS INT)) AS toks
  FROM vocabbed
), corrupted AS (
  SELECT i,
         CASE WHEN i % {_SEQ_EVERY} = 5 THEN 'DOC_' || i ELSE doc_id0 END AS doc_id,
         CASE i % {_SEQ_EVERY}
           WHEN 0 THEN CAST([] AS INT[])
           WHEN 2 THEN [CAST(-1 AS INT)] || list_slice(toks, 2, len(toks))
           WHEN 3 THEN NULL
           WHEN 6 THEN list_slice(toks, 1, len(toks) - 1)
                       || [CAST((toks[len(toks)] + 1) % 32000 AS INT)]
           ELSE toks END AS tokens,
         CAST(CASE i % {_SEQ_EVERY} WHEN 0 THEN 0 WHEN 1 THEN n_tok0 + 1
                                    ELSE n_tok0 END AS INT) AS n_tok,
         CASE WHEN i % {_SEQ_EVERY} = 4 THEN 'bogus' ELSE source0 END AS source,
         vocab
  FROM pristine
), seq AS (
  SELECT * FROM corrupted
  UNION ALL SELECT * FROM corrupted WHERE i % 101 = 7
), ref AS (
  SELECT doc_id0 AS doc_id, toks FROM pristine
), manifest AS (
  SELECT printf('doc-%08d', m) AS doc_id FROM range(0, {_SEQ_N + _SEQ_EXTRA}) t(m)
)
-- rule 0: doc_id regex
SELECT doc_id AS subject, 'doc_id_format' AS rule_id, 0 AS rule_seq,
       '`doc_id`: String should match pattern ''^doc-\\d{{8}}$''' AS reason
FROM seq WHERE NOT regexp_matches(doc_id, '^doc-\\d{{8}}$')
UNION ALL
-- rule 1: tokens spec — null array
SELECT doc_id, 'tokens_spec', 1, '`tokens`: Field required'
FROM seq WHERE tokens IS NULL
UNION ALL
-- rule 1: tokens spec — per-element min bound (every failing index)
SELECT s.doc_id, 'tokens_spec', 1,
       '`tokens.' || (g.j - 1) || '`: Input should be greater than or equal to 0'
FROM seq s, generate_series(1, 513) g(j)
WHERE s.tokens IS NOT NULL AND s.tokens[g.j] < 0
UNION ALL
-- rule 2: n_tok consistency (null assert -> fallback reason)
SELECT doc_id, 'ntok_consistency', 2,
       CASE WHEN tokens IS NULL THEN 'assertion failed: ntok_consistency'
            ELSE 'n_tok mismatch: declared ' || n_tok || ' got ' || len(tokens) END
FROM seq WHERE tokens IS NULL OR n_tok != len(tokens)
UNION ALL
-- rule 3: not empty
SELECT doc_id, 'tokens_not_empty', 3, '`tokens`: cannot be empty'
FROM seq WHERE tokens IS NOT NULL AND len(tokens) = 0
UNION ALL
-- rule 4: n_tok bounds (both ends — the max side fires once _SEQ_N >= 512)
SELECT doc_id, 'ntok_bounds', 4,
       '`n_tok`: Input should be greater than or equal to 1'
FROM seq WHERE n_tok < 1
UNION ALL
SELECT doc_id, 'ntok_bounds', 4,
       '`n_tok`: Input should be less than or equal to 512'
FROM seq WHERE n_tok > 512
UNION ALL
-- rule 5: uniqueness
SELECT doc_id, 'doc_id_unique', 5, 'duplicate key'
FROM seq GROUP BY doc_id HAVING count(*) > 1
UNION ALL
-- rule 6: referential
SELECT doc_id, 'source_known', 6, 'unknown source'
FROM seq WHERE source NOT IN ('cc', 'wiki', 'code', 'books')
UNION ALL
-- rule 7: completeness (manifest keys absent from the table)
SELECT m.doc_id, 'manifest_complete', 7, 'does not exist'
FROM manifest m WHERE NOT EXISTS (SELECT 1 FROM seq s WHERE s.doc_id = m.doc_id)
UNION ALL
-- rule 8: token range (first offending index; unknown source -> no check)
SELECT doc_id, 'tokens_in_vocab', 8,
       'token out of range for ' || source || ' at index ' || CAST(bad AS VARCHAR)
FROM (
  SELECT s.doc_id, s.source, min(g.j - 1) AS bad
  FROM seq s, generate_series(1, 513) g(j)
  WHERE s.source IN ('cc', 'wiki', 'code', 'books')
    AND (s.tokens[g.j] < 0 OR s.tokens[g.j] >= s.vocab)
  GROUP BY s.doc_id, s.source
)
UNION ALL
-- rule 9: token-array equality vs reference (first mismatch; null = empty;
-- prefix-equal length mismatch reports min length)
SELECT doc_id, 'tokens_match_reference', 9,
       'token mismatch at index ' || CAST(bad AS VARCHAR)
FROM (
  SELECT s.doc_id, min(g.j - 1) AS bad
  FROM seq s JOIN ref r USING (doc_id), generate_series(1, 513) g(j)
  WHERE s.tokens[g.j] IS DISTINCT FROM r.toks[g.j]
  GROUP BY s.doc_id
)
"""


def json_props_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict JSON-document validation (VARIANT-backed json_spec rule) over
    the events.props JSON column: k must be an int in [0, 50], and every
    97th row is corrupted to a string to exercise strict typing."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.col("event_id") % 97 == 0, F.lit('{"k": "oops"}')
        ).otherwise(F.col("props")).alias("props"),
    )
    rules = """
schema:
  - type: json_spec
    id: props_spec
    column: props
    spec:
      type: object
      attrs:
        k: {type: int, min: 0, max: 50}
"""
    res = ValidationEngine(subject_col="event_id").validate(ev, rules)
    return res.violations.select("subject", "rule_id", "reason")


def violations_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 grouped-report contract: reasons per subject in rule order."""
    docs = _corrupt_documents(_t(spark, sf_dir, "documents"))
    res = ValidationEngine(subject_col="doc_id").validate(docs, FLAGSHIP_RULES)
    grouped = res.grouped_by_subject()
    return grouped.select(
        "subject",
        F.size("reasons").cast("bigint").alias("n_reasons"),
        F.array_join("reasons", " | ").alias("reasons_str"),
    )


def stats_threshold_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StatsThresholdRule through the engine: groups whose aggregated stats
    break an assertion."""
    li = _t(spark, sf_dir, "lineitem")
    rules = """
schema:
  - type: stats_threshold
    id: qty_mean_bound
    column: l_quantity
    group_col: l_returnflag
    assert: "avg <= 25.45 and n > 0"
"""
    res = ValidationEngine(subject_col="l_orderkey").validate(li, rules)
    return res.violations.select("subject", "rule_id", "reason")


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function extension (absent in the reference, SURVEY §2.5):
    running order-value total per customer, deterministic tie-break."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
        F.row_number().over(w).cast("bigint").alias("order_rank"),
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30-minute gap per user
    (lag + cumulative sum over an ordered window)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sessions = ev.select(
        "user_id",
        "event_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint").alias("session_id"),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


def topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per status (rank window + filter)."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OUTPUT: ids a dedup pass drops (exact dups, keep min id)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    both = docs.unionByName(dupes)
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    from pyspark.sql import Window

    w = Window.partitionBy(fp).orderBy("doc_id")
    return (
        both.select("doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") > 1)
        .select(F.col("doc_id").alias("dropped_id"))
    )


# ---------------------------------------------------------------------------
# drift, profiling and token-window dedup (oracle-matched)


def drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed two-sample KS D of each lang's n_chars against the whole
    table's."""
    return _drift_violations(spark, sf_dir, ["ks"])


def table_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (operators/profile.py) in exact mode so
    DuckDB value-checks null/distinct/min/max per column; production runs
    use exact=False (HLL++) to avoid the multi-distinct Expand blow-up."""
    from fs_schema_validator_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    return profile.table_profile(
        docs, ["doc_id", "lang", "source", "n_chars"], exact=True
    )


_NGRAM_N = 400
_NGRAM_K = 8


def _degenerate_sequences(spark: SparkSession) -> DataFrame:
    """Two degenerate sequences-table rows for the token-window
    fixture: a null token list and a list shorter than k — both must
    come out as zero-window (0, 0, 0.0) rows."""
    return spark.sql(
        "SELECT 'deg-null' AS doc_id, CAST(NULL AS array<int>) AS tokens, "
        "CAST(0 AS int) AS n_tok, 'cc' AS source "
        "UNION ALL SELECT 'deg-short', CAST(array(1, 2, 3) AS array<int>), "
        "CAST(3 AS int), 'cc'"
    )


def _seq_window_sql(
    n: int, k: int, base: int, mod: int, seed: int
) -> tuple[str, str]:
    """SQL building blocks for the token-window oracle: the
    generator-replay CTE text (`base` with i/doc_id/n_tok/source, `v`
    adding vocab — the single SQL source of truth for
    sources/synth.gen_sequences) and the window-hash expression
    (references columns i, n_tok, vocab; every k-window hash
    seed*base^k + sum_t tok(j0+t)*base^(k-1-t) mod m in closed form —
    each term < 2^47, the k-term sum < 2^50: BIGINT-safe; tokens are
    non-negative so DuckDB's truncating %% equals the kernel's
    floor-mod)."""
    ctes = f"""base AS (
  SELECT i, printf('doc-%08d', i) AS doc_id,
         CAST(1 + (i % 512) AS INT) AS n_tok,
         CASE i % 4 WHEN 0 THEN 'cc' WHEN 1 THEN 'wiki'
                    WHEN 2 THEN 'code' ELSE 'books' END AS source
  FROM range(0, {n}) t(i)
), v AS (
  SELECT *, CASE source WHEN 'cc' THEN 50304 WHEN 'wiki' THEN 32000
                        WHEN 'code' THEN 65536 ELSE 32000 END AS vocab
  FROM base
)"""
    win_expr = (
        f"unnest(list_transform(range(0, n_tok - {k - 1}), "
        f"j0 -> {_window_hash_expr(k, base, mod, seed)}))"
    )
    return ctes, win_expr


def _window_hash_expr(k: int, base: int, mod: int, seed: int) -> str:
    """The closed-form k-window hash as a scalar SQL expression over
    columns/vars i, vocab and the window start j0, used as the
    list_transform lambda body in _seq_window_sql."""
    powers = [pow(base, k - 1 - t, mod) for t in range(k)]
    seed_pk = seed * pow(base, k, mod) % mod
    terms = " + ".join(
        f"((i*31 + (j0+{t})*7) % vocab) * {powers[t]}" for t in range(k)
    )
    return f"({seed_pk} + {terms}) % {mod}"


# ---------------------------------------------------------------------------
# contract


def token_ngram_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level exact k-gram dedup (dedup.token_ngram_dup_stats) over
    the north-rule sequences table (doc_id, tokens array<int>, n_tok,
    source): corpus = 400 generated docs + every 20th doc re-planted
    under a 'dup-' id (its windows are guaranteed cross-doc dups) + two
    degenerate rows (null tokens; 3 < k tokens) exercising the
    zero-window path. The generator's arithmetic token streams also
    collide naturally across docs of the same source, so rates between 0
    and 1 occur. The oracle replays the generator AND the polynomial
    window hash closed-form in SQL — engine and oracle agree bit-exactly
    even where 31-bit hashes collide, because they compute the same
    hash."""
    from fs_schema_validator_spark.operators import dedup

    return dedup.token_ngram_dup_stats(_ngram_corpus(spark), k=_NGRAM_K)


def _ngram_corpus(spark: SparkSession) -> DataFrame:
    """The token-dedup fixture: 400 generated docs + every 20th doc
    re-planted under a 'dup-' id (guaranteed cross-doc window dups) +
    the two degenerate zero-window rows."""
    from fs_schema_validator_spark.sources import synth

    base = synth.gen_sequences(spark, _NGRAM_N)
    i = F.regexp_extract("doc_id", r"doc-(\d+)", 1).cast("long")
    planted = base.filter(i % 20 == 0).select(
        F.format_string("dup-%08d", i).alias("doc_id"),
        "tokens",
        "n_tok",
        "source",
    )
    return base.unionByName(planted).unionByName(
        _degenerate_sequences(spark)
    )


def _token_ngram_oracle(
    n: int = _NGRAM_N,
    k: int = _NGRAM_K,
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
) -> str:
    """DuckDB replay of token_ngram_dup_stats over the shared
    generator-replay + closed-form window-hash blocks
    (_seq_window_sql).

    Caveat: the engine's global hash counts are per document ROW
    INSTANCE while this replay's `pdc` groups by doc_id first — they
    agree only because _ngram_corpus emits each doc_id exactly once (a
    corpus with one doc_id on two rows would count n_docs=2 in the
    engine, 1 here). Keep the fixture's ids unique or replay
    instance-level counts."""
    ctes, win_expr = _seq_window_sql(n, k, base, mod, seed)
    return f"""
WITH {ctes}, corpus AS (
  SELECT doc_id, i, n_tok, vocab FROM v
  UNION ALL
  SELECT printf('dup-%08d', i), i, n_tok, vocab FROM v WHERE i % 20 = 0
), wins AS (
  SELECT doc_id, {win_expr} AS h
  FROM corpus WHERE n_tok >= {k}
), pdc AS (
  SELECT doc_id, h, count(*) AS k_cnt FROM wins GROUP BY doc_id, h
), gc AS (
  SELECT h, count(*) AS n_docs FROM pdc GROUP BY h
), per AS (
  SELECT doc_id, sum(k_cnt) AS nw,
         sum(CASE WHEN n_docs >= 2 THEN k_cnt ELSE 0 END) AS nd
  FROM pdc JOIN gc USING (h) GROUP BY doc_id
), ids AS (
  SELECT doc_id FROM corpus
  UNION ALL SELECT 'deg-null' UNION ALL SELECT 'deg-short'
)
SELECT ids.doc_id,
       CAST(coalesce(nw, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_windows,
       CASE WHEN coalesce(nw, 0) > 0
            THEN round(coalesce(nd, 0) * 1.0 / nw, 4)
            ELSE 0.0 END AS dup_rate
FROM ids LEFT JOIN per USING (doc_id)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_violations(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Consolidated gate queries: sibling operators union'd under a mode column
# so each family costs ONE slot of the driver's 50-entry window while every
# member stays value-gated. The individual siblings stay registered, so
# oracle_parity diagnoses each alone.


def drift_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both per-group distribution-drift tests against the table's own
    distribution in one rule set — PSI over the full group×bucket grid
    and the binned-CDF KS statistic — one violation per (lang, rule)."""
    return _drift_violations(spark, sf_dir, ["psi", "ks"])


def window_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function extension family in one slot: per-customer
    running order totals + order ranks, and gap-based sessionization
    event counts, melted to (mode, k1, k2, val)."""
    # stack() melts both window metrics from ONE pass over the window
    # lineage — feeding rt into two union branches would re-run the
    # orders scan and the per-customer window sort once per branch.
    ab = window_running_total(spark, sf_dir).selectExpr(
        "CAST(o_custkey AS bigint) AS k1",
        "CAST(o_orderkey AS bigint) AS k2",
        "stack(2, 'running_total', running_total, "
        "'order_rank', CAST(order_rank AS double)) AS (mode, val)",
    )
    c = sessionize_events(spark, sf_dir).select(
        F.lit("session_events").alias("mode"),
        F.col("user_id").cast("bigint").alias("k1"),
        F.col("session_id").cast("bigint").alias("k2"),
        F.col("n_events").cast("double").alias("val"),
    )
    # rank-per-group top-N rides as 'topn_<status>' modes (the group
    # string folds into the mode tag so no column is lost); the solo
    # topn_per_group entry still gates the unmelted output
    t = topn_per_group(spark, sf_dir).select(
        F.concat(F.lit("topn_"), F.col("o_orderstatus")).alias("mode"),
        F.col("o_orderkey").cast("bigint").alias("k1"),
        F.col("rk").cast("bigint").alias("k2"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return ab.select("mode", "k1", "k2", "val").unionByName(c).unionByName(t)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver gates only the FIRST 50 dict entries (entries 51+ got no
    # CORRECTNESS row), so the registry holds at most 50 and every entry
    # is gated (tests/test_driver_registry.py checks the limit).
    # tools/oracle_parity.py checks all of them locally.
    return {
        "flagship_violations": flagship_violations,
        "sequences_validation": sequences_validation,
        "range_violations": range_violations,
        "multiple_of_violations": multiple_of_violations,
        "regex_violations": regex_violations,
        "enum_violations": enum_violations,
        "uniqueness_duplicates": uniqueness_duplicates,
        "referential_orphans": referential_orphans,
        "completeness_missing": completeness_missing,
        "stats_rollup": stats_rollup,
        "quantiles_by_group": quantiles_by_group,
        "drift_tests": drift_tests,
        "token_ngram_dup_stats": token_ngram_dup_stats,
        "array_mismatch_index": array_mismatch_index,
        "json_props_validation": json_props_validation,
        "violations_grouped": violations_grouped,
        "window_ops": window_ops,
        "stats_threshold_violations": stats_threshold_violations,
        "table_profile_documents": table_profile_documents,
        "topn_per_group": topn_per_group,
        "histogram_psi": histogram_psi,
        "drift_ks": drift_ks,
        "stats_by_group": stats_by_group,
        "dedup_keep_first": dedup_keep_first,
        "window_running_total": window_running_total,
        "embedding_dim_violations": embedding_dim_violations,
        "sessionize_events": sessionize_events,
    }


def oracle_sql() -> dict[str, str]:
    d = {
        "flagship_violations": FLAGSHIP_ORACLE,
        "sequences_validation": SEQ_PIPELINE_ORACLE,
        "range_violations": (
            "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
            "WHERE l_quantity > 45"
        ),
        "multiple_of_violations": (
            "SELECT p_partkey, p_size FROM part WHERE p_size % 5 != 0"
        ),
        "regex_violations": (
            "WITH c AS (SELECT c_custkey, CASE WHEN c_custkey % 111 = 0 "
            "THEN upper(c_name) ELSE c_name END AS c_name FROM customer) "
            "SELECT c_custkey, c_name FROM c "
            "WHERE NOT regexp_matches(c_name, '^Customer#\\d{9}$')"
        ),
        "enum_violations": (
            "WITH o AS (SELECT o_orderkey, CASE WHEN o_orderkey % 173 = 0 "
            "THEN 'X' ELSE o_orderstatus END AS o_orderstatus FROM orders) "
            "SELECT o_orderkey, o_orderstatus FROM o "
            "WHERE o_orderstatus NOT IN ('O','F','P')"
        ),
        "uniqueness_duplicates": (
            "SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines "
            "FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1"
        ),
        "referential_orphans": (
            "WITH o AS (SELECT o_orderkey, CASE WHEN o_orderkey % 211 = 0 "
            "THEN o_custkey + 100000 ELSE o_custkey END AS o_custkey FROM orders) "
            "SELECT o_orderkey, o_custkey FROM o "
            "WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)"
        ),
        "completeness_missing": (
            "SELECT o_orderkey, 'does not exist' AS reason FROM orders o "
            "WHERE NOT EXISTS (SELECT 1 FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey)"
        ),
        "stats_by_group": (
            "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, "
            "round(sum(l_quantity), 4) AS sum_qty, "
            "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, "
            "round(avg(l_quantity), 6) AS avg_qty, "
            "CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "stats_rollup": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(count(*) AS BIGINT) AS n, "
            "round(sum(l_quantity), 4) AS sum_qty "
            "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "quantiles_by_group": (
            "SELECT l_returnflag, "
            "round(quantile_cont(l_quantity, 0.25), 4) AS p25, "
            "round(quantile_cont(l_quantity, 0.5), 4) AS p50, "
            "round(quantile_cont(l_quantity, 0.75), 4) AS p75 "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "histogram_psi": (
            # full lang × bucket grid (mirrors the engine): a group missing
            # a bucket with table mass still contributes its EPS-clamped
            # term, so concentrated drift is not underestimated. A null
            # lang is the group '<null>', as in the engine.
            "WITH hist AS (SELECT coalesce(lang, '<null>') AS lang, "
            "least(11, greatest(0, CAST(floor(n_chars / 50.0) AS INT))) "
            "AS bucket, CAST(count(*) AS DOUBLE) AS cnt FROM documents "
            "WHERE n_chars IS NOT NULL GROUP BY 1, 2), "
            "tot AS (SELECT lang, sum(cnt) AS total FROM hist GROUP BY 1), "
            "q AS (SELECT h.lang, h.bucket, h.cnt / t.total AS q "
            "FROM hist h JOIN tot t USING (lang)), "
            "g AS (SELECT bucket, sum(cnt) AS gcnt FROM hist GROUP BY 1), "
            "gt AS (SELECT sum(gcnt) AS gtotal FROM g), "
            "p AS (SELECT bucket, gcnt / (SELECT gtotal FROM gt) AS p FROM g), "
            "grid AS (SELECT t.lang, p.bucket, p.p FROM tot t, p), "
            "j AS (SELECT grid.lang, "
            "greatest(coalesce(q.q, 0), 1e-6) AS qc, "
            "greatest(grid.p, 1e-6) AS pc "
            "FROM grid LEFT JOIN q ON grid.lang = q.lang "
            "AND grid.bucket = q.bucket), "
            "s AS (SELECT lang, sum((qc - pc) * ln(qc / pc)) AS psi "
            "FROM j GROUP BY lang) "
            "SELECT lang AS subject, 'nchars_psi' AS rule_id, "
            "'distribution drift: PSI ' || printf('%.4f', psi) || ' > 0' "
            "AS reason FROM s WHERE psi > 0"
        ),
        "embedding_dim_violations": (
            "WITH c AS (SELECT vec_id, CASE WHEN vec_id % 41 = 0 "
            "THEN list_append(embedding, 0.0) ELSE embedding END AS embedding "
            "FROM embeddings) "
            "SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim FROM c "
            "WHERE len(embedding) != 64"
        ),
        "array_mismatch_index": (
            # fixed bound 65 = max(len, len+1); out-of-range indexing yields
            # NULL on both sides, which IS NOT DISTINCT, so equal rows drop
            "WITH c AS (SELECT vec_id, embedding, CASE WHEN vec_id % 41 = 0 "
            "THEN list_append(embedding, 0.0) ELSE embedding END AS corrupted "
            "FROM embeddings) "
            "SELECT vec_id, CAST(min(i) - 1 AS INT) AS mismatch_idx "
            "FROM c, generate_series(1, 65) AS g(i) "
            "WHERE embedding[i] IS DISTINCT FROM corrupted[i] "
            "GROUP BY vec_id"
        ),
        "json_props_validation": (
            # all four engine branches mirrored (missing key, wrong type,
            # below min, above max) — engine reasons verified directly
            "WITH e AS (SELECT event_id, CASE WHEN event_id % 97 = 0 "
            "THEN '{\"k\": \"oops\"}' ELSE props END AS props FROM events) "
            "SELECT CAST(event_id AS VARCHAR) AS subject, 'props_spec' AS rule_id, "
            "'`k`: Field required' AS reason "
            "FROM e WHERE json_type(props, '$.k') IS NULL "
            "UNION ALL "
            "SELECT CAST(event_id AS VARCHAR), 'props_spec', "
            "'`k`: Input should be a valid integer' "
            "FROM e WHERE json_type(props, '$.k') NOT IN ('BIGINT', 'UBIGINT') "
            "UNION ALL "
            "SELECT CAST(event_id AS VARCHAR), 'props_spec', "
            "'`k`: Input should be greater than or equal to 0' "
            "FROM e WHERE json_type(props, '$.k') IN ('BIGINT', 'UBIGINT') "
            "AND TRY_CAST(json_extract(props, '$.k') AS BIGINT) < 0 "
            "UNION ALL "
            "SELECT CAST(event_id AS VARCHAR), 'props_spec', "
            "'`k`: Input should be less than or equal to 50' "
            "FROM e WHERE json_type(props, '$.k') IN ('BIGINT', 'UBIGINT') "
            "AND TRY_CAST(json_extract(props, '$.k') AS BIGINT) > 50"
        ),
        "violations_grouped": (
            # FLAGSHIP_ORACLE (itself a WITH...SELECT) nests directly as a
            # CTE body — no brittle string surgery on its internals
            f"WITH v AS ({FLAGSHIP_ORACLE}) "
            "SELECT subject, CAST(count(*) AS BIGINT) AS n_reasons, "
            "string_agg(reason, ' | ' ORDER BY rule_seq) AS reasons_str "
            "FROM v GROUP BY subject"
        ),
        "token_ngram_dup_stats": _token_ngram_oracle(),
        "stats_threshold_violations": (
            "SELECT CAST(l_returnflag AS VARCHAR) AS subject, "
            "'qty_mean_bound' AS rule_id, "
            "'stats assertion failed: avg <= 25.45 and n > 0' AS reason "
            "FROM lineitem GROUP BY l_returnflag "
            "HAVING NOT (avg(l_quantity) <= 25.45 AND count(*) > 0)"
        ),
        "window_running_total": (
            "SELECT o_custkey, o_orderkey, "
            "round(sum(o_totalprice) OVER w, 4) AS running_total, "
            "CAST(row_number() OVER w AS BIGINT) AS order_rank "
            "FROM orders WHERE o_custkey < 50 "
            "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ),
        "sessionize_events": (
            "WITH g AS (SELECT user_id, event_id, ts, "
            "CASE WHEN epoch(ts) - lag(epoch(ts)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) > 1800 "
            "OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "THEN 1 ELSE 0 END AS new_s "
            "FROM events WHERE user_id < 20), "
            "s AS (SELECT user_id, event_id, "
            "CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
            "AS session_id FROM g) "
            "SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events "
            "FROM s GROUP BY user_id, session_id"
        ),
        "topn_per_group": (
            "SELECT * FROM (SELECT o_orderstatus, o_orderkey, o_totalprice, "
            "CAST(row_number() OVER (PARTITION BY o_orderstatus "
            "ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk "
            "FROM orders) WHERE rk <= 3"
        ),
        "dedup_keep_first": (
            "WITH u AS (SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0) "
            "SELECT doc_id AS dropped_id FROM (SELECT doc_id, row_number() OVER "
            "(PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rk FROM u) "
            "WHERE rk > 1"
        ),
        "drift_ks": (
            # KS D is rounded to 4 digits before the threshold, as in the
            # engine
            "WITH h AS (SELECT coalesce(lang, '<null>') AS grp, "
            "least(11, greatest(0, CAST(floor((n_chars - 0.0) / 50.0) AS INT))) "
            "AS bucket, count(*) AS cnt FROM documents "
            "WHERE n_chars IS NOT NULL GROUP BY 1, 2), "
            "t AS (SELECT grp, sum(cnt) AS total FROM h GROUP BY 1), "
            "g AS (SELECT bucket, sum(cnt) AS gcnt FROM h GROUP BY 1), "
            "p AS (SELECT bucket, gcnt / (SELECT CAST(sum(gcnt) AS DOUBLE) "
            "FROM g) AS p FROM g), "
            "grid AS (SELECT t.grp, p.bucket, p.p FROM t, p), "
            "q AS (SELECT h.grp, h.bucket, h.cnt / CAST(t.total AS DOUBLE) "
            "AS q FROM h JOIN t USING (grp)), "
            "j AS (SELECT grid.grp, grid.bucket, coalesce(q.q, 0.0) AS q, "
            "grid.p FROM grid LEFT JOIN q ON grid.grp = q.grp "
            "AND grid.bucket = q.bucket), "
            "c AS (SELECT grp, sum(q) OVER (PARTITION BY grp ORDER BY bucket) "
            "AS cq, sum(p) OVER (PARTITION BY grp ORDER BY bucket) AS cp "
            "FROM j), "
            "d AS (SELECT grp, round(max(abs(cq - cp)), 4) AS ks "
            "FROM c GROUP BY grp) "
            "SELECT grp AS subject, 'nchars_ks' AS rule_id, "
            "'distribution drift: KS ' || printf('%.4f', ks) || ' > 0' "
            "AS reason FROM d WHERE ks > 0"
        ),
        "table_profile_documents": " UNION ALL ".join(
            f"SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS n_nulls, CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"CAST(min({c}) AS VARCHAR) AS min_value, "
            f"CAST(max({c}) AS VARCHAR) AS max_value FROM documents"
            for c in ["doc_id", "lang", "source", "n_chars"]
        ),
    }
    # Consolidated-gate oracles, built FROM the sibling oracles above so
    # the union gates replay exactly what each sibling gate replays (a
    # hand-copied union could silently drift from its siblings).
    d["drift_tests"] = (
        f"SELECT * FROM ({d['histogram_psi']}) "
        f"UNION ALL SELECT * FROM ({d['drift_ks']})"
    )
    d["window_ops"] = (
        "SELECT 'running_total' AS mode, CAST(o_custkey AS BIGINT) AS k1, "
        "CAST(o_orderkey AS BIGINT) AS k2, running_total AS val "
        f"FROM ({d['window_running_total']}) "
        "UNION ALL "
        "SELECT 'order_rank' AS mode, CAST(o_custkey AS BIGINT), "
        "CAST(o_orderkey AS BIGINT), CAST(order_rank AS DOUBLE) "
        f"FROM ({d['window_running_total']}) "
        "UNION ALL "
        "SELECT 'session_events' AS mode, CAST(user_id AS BIGINT), "
        "CAST(session_id AS BIGINT), CAST(n_events AS DOUBLE) "
        f"FROM ({d['sessionize_events']}) "
        "UNION ALL "
        "SELECT 'topn_' || o_orderstatus AS mode, "
        "CAST(o_orderkey AS BIGINT), CAST(rk AS BIGINT), "
        "CAST(o_totalprice AS DOUBLE) "
        f"FROM ({d['topn_per_group']})"
    )
    return d
