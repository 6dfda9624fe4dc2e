"""Structured Streaming validation: file-source micro-batches through the
full rule pipeline via foreachBatch."""

from __future__ import annotations

from fs_schema_validator_spark.sources import synth
from fs_schema_validator_spark.streaming.stream import validate_stream

RULES = """
schema:
  - type: not_empty
    column: tokens
  - type: expr
    id: ntok_consistency
    assert: "n_tok = size(tokens)"
    reason: "concat('n_tok mismatch: declared ', n_tok, ' got ', size(tokens))"
"""


def test_stream_validation_available_now(spark, tmp_path):
    src = tmp_path / "incoming"
    sink = tmp_path / "violations"
    chk = tmp_path / "chk"

    batch1 = synth.corrupt_sequences(synth.gen_sequences(spark, 20), every=10)
    batch1.write.mode("append").parquet(str(src))

    schema = batch1.schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    seen: list[tuple[int, int]] = []
    q = validate_stream(
        stream,
        RULES,
        violations_path=str(sink),
        checkpoint_location=str(chk),
        on_batch=lambda bid, df, n: seen.append((bid, n)),
    )
    q.awaitTermination(120)

    written = spark.read.parquet(str(sink))
    reasons = {r.reason for r in written.collect()}
    assert "`tokens`: cannot be empty" in reasons
    assert any(r.startswith("n_tok mismatch") for r in reasons)
    assert seen and seen[0][1] == written.count()

    # second batch arrives; restart picks up ONLY the new files (streaming
    # checkpoint = exactly-once over the file source)
    batch2 = synth.gen_sequences(spark, 10)  # pristine
    batch2.write.mode("append").parquet(str(src))
    n_before = written.count()
    q2 = validate_stream(
        stream,
        RULES,
        violations_path=str(sink),
        checkpoint_location=str(chk),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(sink)).count() == n_before  # no new violations


def test_windowed_violation_counts(spark, tmp_path):
    from pyspark.sql import functions as F

    from fs_schema_validator_spark.streaming.stream import (
        windowed_violation_counts,
    )

    src = tmp_path / "events_in"
    base = synth.corrupt_sequences(synth.gen_sequences(spark, 40), every=10)
    # spread rows across two 1-minute windows
    stamped = base.withColumn(
        "ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:30"))
        + F.make_interval(mins=F.substring("doc_id", -1, 1).cast("int") % 2),
    )
    stamped.write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(stamped.schema).parquet(str(src))
    agg = windowed_violation_counts(
        stream, RULES, ts_col="ts", window_duration="1 minute",
        watermark="1 minute", group_col="source",
    )
    q = (
        agg.writeStream.format("memory").queryName("winviol")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from winviol").collect()
    assert out, "no windows emitted"
    assert {r.window.start.minute for r in out} == {0, 1}
    total = sum(r.n_rows for r in out)
    bad = sum(r.n_bad_rows for r in out)
    # every=10 cycles corruption modes 0-6 over i%10; modes 0 (empty), 1
    # (n_tok off-by-one) and 3 (null tokens) trip these two rules → 4 rows
    # each of the 40
    assert total == 40 and bad == 12
    assert all(r.n_violations >= r.n_bad_rows for r in out)


def test_stateful_violation_rate_accumulates(spark, tmp_path):
    from pyspark.sql import functions as F

    from fs_schema_validator_spark.streaming.stream import (
        stateful_violation_rate,
    )

    src = tmp_path / "seq_in"
    chk = tmp_path / "chk_state"
    batch1 = synth.corrupt_sequences(synth.gen_sequences(spark, 30), every=10)
    batch1.write.mode("append").parquet(str(src))

    schema = batch1.schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    rates = stateful_violation_rate(stream, RULES, group_col="source", alert_rate=0.05)

    sink = tmp_path / "rates_out"

    def run(run_id):
        # memory sink cannot recover from a checkpoint; foreachBatch +
        # parquet is the restartable shape
        def write(df, bid):
            df.withColumn("run", F.lit(run_id)).write.mode("append").parquet(
                str(sink)
            )

        q = (
            rates.writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        out = spark.read.parquet(str(sink)).filter(F.col("run") == run_id)
        return {r.source: r for r in out.collect()}

    out1 = run(1)
    assert sum(r.n_rows for r in out1.values()) == 30
    # modes 0/1/3 of the every=10 corruption cycle trip these rules
    assert sum(r.n_bad for r in out1.values()) == 9

    # second batch: state carries across the restart via the checkpoint
    batch2 = synth.corrupt_sequences(synth.gen_sequences(spark, 30), every=10)
    batch2.write.mode("append").parquet(str(src))
    out2 = run(2)
    assert sum(r.n_rows for r in out2.values()) == 60
    assert sum(r.n_bad for r in out2.values()) == 18


def test_sinkless_on_batch_caches_and_releases(spark, tmp_path):
    """violations_path=None callers get a frame over the batch's CACHED
    violation relation: the callback's actions read the cache instead of
    re-executing the validation, and the cache is released when the
    callback returns (VERDICT r2 item 5 — the old branch re-executed the
    whole validation per callback action)."""
    src = tmp_path / "incoming"
    batch = synth.corrupt_sequences(synth.gen_sequences(spark, 20), every=10)
    batch.write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))

    def persisted() -> int:
        return int(spark.sparkContext._jsc.getPersistentRDDs().size())

    seen: list[tuple[int, bool, int]] = []

    def cb(bid, df, n):
        # reads the cache while the callback runs; a second action (count)
        # must agree with the result's n without error
        plan = df._jdf.queryExecution().executedPlan().toString()
        seen.append((bid, "InMemoryTableScan" in plan, n))
        assert df.count() == n

    before = persisted()
    q = validate_stream(
        stream,
        RULES,
        checkpoint_location=str(tmp_path / "chk"),
        on_batch=cb,
    )
    q.awaitTermination(120)

    assert seen and seen[0][1] is True and seen[0][2] > 0
    # released after the callback returned
    assert persisted() == before
