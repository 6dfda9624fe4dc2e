"""Structured Streaming skin over the validation engine.

The reference is a one-shot batch CLI; the engine's incremental story is
the checkpoint manifest (checkpoint.py). This module adds the streaming
deployment shape on top: a ``readStream`` source validated per micro-batch
via ``foreachBatch``, violations written to a sink partitioned by batch id,
per-batch counts handed to an optional callback (this module writes no
manifest). ``foreachBatch`` is the right tool (vs continuous operators)
because validation needs multi-pass table rules (joins/aggs) that
per-row streaming operators cannot express. Each query runs with the
``availableNow`` trigger: it validates every batch pending at start, then
stops, so a scheduler re-runs it to pick up new input.

Late/duplicate data: re-processing a batch after failure is idempotent
because the sink write is a dynamic partition overwrite on ``batch_id``,
so a replayed batch replaces its own partition and nothing else.
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

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
    return writer.trigger(availableNow=True).start()
