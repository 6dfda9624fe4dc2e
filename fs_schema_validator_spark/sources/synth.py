"""Deterministic synthetic tables (FIXTURES.md) — generated IN Spark.

Every table is a pure function of the row ordinal, built from
``spark.range`` + Column expressions (sequence/transform/pmod) so generation
itself is distributed, JVM-side, and scale-free: the same code synthesizes
60 rows for a pytest golden or 10^9 rows for a bench run, with no Python in
the loop and no data shipped from the driver.

Schema (BASELINE.json input_hint):
    sequences(doc_id string, tokens array<int>, n_tok int, source string)

Generators follow FIXTURES.md §1-5:
    doc_id  = f"doc-{i:08d}"
    n_tok   = 1 + (i % 512)
    source  = [cc, wiki, code, books][i % 4]
    tokens  = [(i*31 + j*7) % vocab(source) for j in range(n_tok)]
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SOURCES = ["cc", "wiki", "code", "books"]
VOCABS = {"cc": 50304, "wiki": 32000, "code": 65536, "books": 32000}
MAX_SEQ_LEN = 512


def _source_col(i: Column) -> Column:
    expr = F.when(i % 4 == 0, SOURCES[0])
    for k in (1, 2, 3):
        expr = expr.when(i % 4 == k, SOURCES[k])
    return expr


def _vocab_col(source: Column) -> Column:
    expr = None
    for s, v in VOCABS.items():
        expr = F.when(source == s, v) if expr is None else expr.when(source == s, v)
    return expr


def _tokens_col(i: Column, n_tok: Column, vocab: Column) -> Column:
    return F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda j: ((i * 31 + j * 7) % vocab).cast("int"),
    )


def gen_sequences(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """The subject table, pristine (no corruptions)."""
    i = F.col("id")
    base = spark.range(0, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    source = _source_col(i)
    n_tok = (1 + (i % MAX_SEQ_LEN)).cast("int")
    return base.select(
        F.format_string("doc-%08d", i).alias("doc_id"),
        _tokens_col(i, n_tok, _vocab_col(source)).alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
    )


def gen_dim_sources(spark: SparkSession) -> DataFrame:
    rows = [
        (s, VOCABS[s], 0, VOCABS[s] - 1) for s in SOURCES
    ]
    return spark.createDataFrame(
        rows, "source string, vocab_size int, expected_min_tok int, expected_max_tok int"
    )


def gen_reference_tokens(spark: SparkSession, n: int) -> DataFrame:
    """Same generator as sequences.tokens — uncorrupted rows compare equal."""
    return gen_sequences(spark, n).select("doc_id", "tokens")


def gen_expected_manifest(spark: SparkSession, n: int, extra: int = 0) -> DataFrame:
    """Expected keyspace 0..n+extra-1; ids >= n are deliberately absent from
    sequences, so they must surface as "does not exist" violations."""
    return spark.range(0, n + extra).select(
        F.format_string("doc-%08d", F.col("id")).alias("doc_id")
    )


def gen_ref_distribution(spark: SparkSession) -> DataFrame:
    """Reference histogram of n_tok per source. n_tok is uniform on
    [1, 512], so each of 16 equal-width buckets over [0, 512) holds
    mass ~1/16."""
    rows = [(s, b, 1.0 / 16) for s in SOURCES for b in range(16)]
    return spark.createDataFrame(rows, "source string, bucket int, p double")


# ---------------------------------------------------------------------------
# corruption injection (for failure goldens and bench realism)


def corrupt_sequences(df: DataFrame, every: int = 97) -> DataFrame:
    """Inject the FIXTURES.md corruption modes deterministically.

    Rows whose ordinal (parsed back from doc_id) satisfies
    ``i % every == k`` get mode k:
        0: empty tokens + n_tok=0          (cannot be empty)
        1: n_tok off by one                (n_tok mismatch)
        2: first token out of vocab        (token out of range)
        3: null tokens                     (Field required)
        4: bogus source                    (unknown source)
        5: malformed doc_id                (regex violation)
        6: one corrupted token vs reference (token mismatch)
    Mode 6 keeps tokens in-vocab so only the equality rule fires.
    """
    i = F.regexp_extract("doc_id", r"doc-(\d+)", 1).cast("long")
    m = i % every
    tokens = (
        F.when(m == 0, F.array().cast("array<int>"))
        .when(m == 2, F.concat(F.array(F.lit(-1)), F.slice(F.col("tokens"), 2, 1_000_000)))
        .when(m == 3, F.lit(None).cast("array<int>"))
        .when(
            m == 6,
            F.concat(
                F.slice(F.col("tokens"), 1, F.size("tokens") - 1),
                # bump the LAST token, wrapped by the smallest vocab so the
                # row stays in-range and only the equality rule fires
                F.array(F.pmod(F.element_at("tokens", -1) + 1, F.lit(32000)).cast("int")),
            ),
        )
        .otherwise(F.col("tokens"))
    )
    n_tok = (
        F.when(m == 0, F.lit(0))
        .when(m == 1, F.col("n_tok") + 1)
        .otherwise(F.col("n_tok"))
        .cast("int")
    )
    source = F.when(m == 4, F.lit("bogus")).otherwise(F.col("source"))
    doc_id = F.when(m == 5, F.concat(F.lit("DOC_"), i.cast("string"))).otherwise(
        F.col("doc_id")
    )
    return df.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
    )


def with_duplicates(df: DataFrame, every: int = 101) -> DataFrame:
    """Append exact duplicates of every `every`-th row (duplicate-key mode)."""
    # try_cast: corrupted doc_ids (mode 5) don't parse back to an ordinal
    i = F.regexp_extract("doc_id", r"doc-(\d+)", 1).try_cast("long")
    return df.unionByName(df.filter(i % every == 7))
