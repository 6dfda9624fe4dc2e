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
