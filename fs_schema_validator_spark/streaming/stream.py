"""Structured Streaming skin over the validation engine.

The reference is a one-shot batch CLI; the engine's incremental story is
the checkpoint manifest (checkpoint.py). This module adds the streaming
deployment shape on top: a ``readStream`` source validated per micro-batch
via ``foreachBatch``, violations written to a sink partitioned by batch id,
per-batch counts handed to an optional callback (this module writes no
manifest). ``foreachBatch`` is the right tool (vs continuous operators)
because validation needs multi-pass table rules (joins/aggs) that the
per-row streaming operators cannot express.

Late/duplicate data: re-processing a batch after failure is idempotent
because the sink write is a dynamic partition overwrite on ``batch_id``,
so a replayed batch replaces its own partition and nothing else.
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..compiler.plan import row_violation_array
from ..engine import ValidationEngine
from ..rules.loader import RuleSet


def validate_stream(
    stream_df: DataFrame,
    rules_yaml: str,
    tables: Mapping[str, DataFrame] | None = None,
    subject_col: str = "doc_id",
    violations_path: str | None = None,
    checkpoint_location: str | None = None,
    on_batch: Callable[[int, DataFrame, int], None] | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Attach the rule set to a streaming DataFrame.

    Each micro-batch runs the full (row + table) rule pipeline once;
    violations are appended to `violations_path` (parquet) tagged with the
    batch id. `on_batch(batch_id, violations_df, n_violations)` observes
    each batch (manifest writes, alerting, kill-switches): `violations_df`
    reads the batch's persisted violation relation and is valid only
    during the callback (it is released when the callback returns), and
    `n_violations` is the result's count, taken when that relation was
    materialised.
    """
    engine = ValidationEngine(subject_col=subject_col)
    ruleset = RuleSet.from_yaml(rules_yaml)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        result = engine.validate(batch_df, ruleset, tables)
        violations = result.sorted_violations().withColumn(
            "batch_id", F.lit(batch_id).cast("bigint")
        )
        try:
            if violations_path is not None:
                # Idempotent sink: foreachBatch is at-least-once, so a
                # replayed batch must not duplicate its rows — dynamic
                # partition overwrite on batch_id replaces exactly the
                # replayed batch's partition and nothing else.
                (
                    violations.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(violations_path)
                )
            if on_batch is not None:
                on_batch(batch_id, violations, result.n_violations)
        finally:
            # each micro-batch persists its own violation relation; release
            # it or a long-running stream accumulates one per batch
            result.release()

    writer = stream_df.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_violation_counts(
    stream_df: DataFrame,
    rules_yaml: str,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    group_col: str | None = None,
) -> DataFrame:
    """Watermarked per-window violation counts — the late-data path.

    Row rules compile to stateless Column predicates, so the whole thing is
    a native streaming windowed aggregation: rows later than `watermark`
    past the max event time are dropped, windows emit once the watermark
    passes them, and state is bounded by (open windows × groups). Returns
    the streaming DataFrame; the caller attaches the sink."""
    ruleset = RuleSet.from_yaml(rules_yaml)
    # row rules only: table rules need joins/aggs (validate_stream)
    nv = F.size(row_violation_array(ruleset.row_rules, stream_df.schema))
    group = [F.col(group_col)] if group_col else []
    flagged = stream_df.select(
        F.col(ts_col).alias("_ts"), *group, nv.alias("_nv")
    )
    keys = [F.window(F.col("_ts"), window_duration).alias("window"), *group]
    return (
        flagged.withWatermark("_ts", watermark)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_nv")).alias("n_violations"),
            F.sum((F.col("_nv") > 0).cast("bigint")).alias("n_bad_rows"),
        )
    )


def stateful_violation_rate(
    stream_df: DataFrame,
    rules_yaml: str,
    group_col: str = "source",
    alert_rate: float = 0.1,
) -> DataFrame:
    """Running violation rate per group with an alert flag — a native
    streaming aggregation, no Python.

    The state store keeps two counters per group (rows seen, bad rows)
    across micro-batches and restarts; in ``update`` mode each batch emits
    ``<group> string, n_rows bigint, n_bad bigint, rate double, alert
    boolean`` for the groups it touched. The caller attaches the sink."""
    ruleset = RuleSet.from_yaml(rules_yaml)
    nv = F.size(row_violation_array(ruleset.row_rules, stream_df.schema))
    group = F.col(group_col).cast("string").alias(group_col)
    counts = stream_df.groupBy(group).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((nv > 0).cast("bigint")).alias("n_bad"),
    )
    rate = F.col("n_bad") / F.col("n_rows")
    alert = (rate >= alert_rate).alias("alert")
    return counts.select(group_col, "n_rows", "n_bad", rate.alias("rate"), alert)
