"""The four benchmark workloads.

Each workload prepares its seeded inputs (untimed, cached), opens them and
runs a light warm-up pass (timed as set-up), then runs ops in a closed
loop: one driver, the next op starts when the previous one has finished
and been checked. The first ``cold_ops`` ops warm a fresh JVM and are not
timed.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fs_schema_validator_spark.engine import ValidationEngine
from fs_schema_validator_spark.operators import dedup
from fs_schema_validator_spark.sources import synth
from fs_schema_validator_spark.streaming.checkpoint import (
    ParquetManifestStore,
    ResumableValidator,
)

import harness
import model
import recipe
from harness import Tracer

RULES = (Path(__file__).resolve().parent / "seq_rules.yaml").read_text()


@dataclass
class OpOutcome:
    seconds: float
    problems: list[str] = field(default_factory=list)
    released: int = 0
    persisted_after_release: int = 0


def _python_workers(spark: SparkSession) -> None:
    """Start the Python worker pool (Arrow kernels run there)."""
    spark.range(1000).mapInArrow(lambda it: it, "id long").count()


def _ngram_stats(docs: DataFrame, tracer: Tracer) -> tuple[int, int, int]:
    """(distinct docs, windows, duplicated windows) of
    token_ngram_dup_stats(k=8); summing n_dup_windows keeps the flag join
    from being pruned."""
    with tracer.span("dedup.token_ngram"):
        row = (
            dedup.token_ngram_dup_stats(docs, k=8)
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_windows").alias("nw"),
                F.sum("n_dup_windows").alias("nd"),
            )
            .first()
        )
    got = (int(row["docs"]), int(row["nw"] or 0), int(row["nd"] or 0))
    tracer.count("dedup.windows", got[1])
    tracer.count("dedup.dup_windows", got[2])
    tracer.count("dedup.dup_ratio", got[2] / got[1] if got[1] else 0.0)
    return got


def _check_rows(df: DataFrame, rows: int, what: str) -> None:
    """Row count from parquet footers: opens every file, reads no pages.
    The full (rows, tokens) checksum was checked when the table was made."""
    got = df.count()
    if got != rows:
        raise recipe.InputDrift(f"{what}: opened {got} rows, expected {rows}")


class Workload:
    name = ""
    op_rows = 0  # input rows one op processes
    op_tokens = 0  # input tokens one op processes
    cold_ops = 1

    def prepare(self, spark: SparkSession, cache: recipe.InputCache, seed: int, run_dir: Path) -> float:
        """Generate or reuse inputs; returns one-time generation seconds."""
        raise NotImplementedError

    def open(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def warmup(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def has_next(self) -> bool:
        return True

    def op(self, spark: SparkSession, tracer: Tracer) -> OpOutcome:
        raise NotImplementedError

    def raw_scan(self, spark: SparkSession) -> None:
        """sum(size(tokens)) over the op's input: the scan floor."""
        raise NotImplementedError

    def finish(self, spark: SparkSession, tracer: Tracer) -> list[OpOutcome]:
        return []


# ---------------------------------------------------------------------------
# validate_sparse / validate_dense


class Validate(Workload):
    """The plans/cli.py cmd_validate sequence over the seeded table."""

    def __init__(self, name: str, rows: int, every: int) -> None:
        self.name, self.n, self.every = name, rows, every

    def prepare(self, spark, cache, seed, run_dir):
        start = recipe.ordinal_start(seed)
        self.model = model.table_model(start, self.n, self.every)
        self.op_rows, self.op_tokens = self.model.rows, self.model.tokens
        seq = cache.table(
            f"seq-e{self.every}",
            seed,
            self.n,
            lambda: recipe.sequences(spark, start, self.n, self.every),
            (self.model.rows, self.model.tokens),
        )
        self.ref_sum = (self.n, model.pristine_tokens(start, self.n))
        ref = cache.table(
            "ref", seed, self.n, lambda: recipe.reference(spark, start, self.n), self.ref_sum
        )
        self.paths = (seq.path, ref.path)
        return seq.generate_s + ref.generate_s

    def open(self, spark):
        self.seq = spark.read.parquet(self.paths[0])
        self.ref = spark.read.parquet(self.paths[1])
        self.tables = {
            "dim_sources": synth.gen_dim_sources(spark),
            "reference_tokens": self.ref,
            "ref_distribution": synth.gen_ref_distribution(spark),
        }

    def warmup(self, spark):
        _python_workers(spark)
        _check_rows(self.seq, self.model.rows, "sequences")
        _check_rows(self.ref, self.n, "reference")

    def raw_scan(self, spark):
        self.seq.agg(F.sum(F.size("tokens"))).collect()

    def op(self, spark, tracer):
        rule_sums = [
            F.sum((F.col("rule_id") == r).cast("long")).alias(r) for r in model.RULE_IDS
        ]
        obs = Observation()
        with tracer.span("op"):
            t0 = time.perf_counter()
            res = ValidationEngine(subject_col="doc_id").validate(
                self.seq, RULES, self.tables
            )
            with tracer.span("engine.sorted_violations"):
                # per-rule counts ride on the write job (no second pass)
                res.sorted_violations().observe(obs, *rule_sums).write.format(
                    "noop"
                ).mode("overwrite").save()
            with tracer.span("engine.summary"):
                summary = res.summary("source").collect()
            with tracer.span("engine.grouped_by_subject"):
                grouped = res.grouped_by_subject().limit(50).collect()
            seconds = time.perf_counter() - t0

        counts = {r: int(v or 0) for r, v in obs.get.items()}
        expect = {r: self.model.rule_counts.get(r, 0) for r in model.RULE_IDS}
        total = sum(expect.values())
        problems = []
        if counts != expect:
            problems.append(f"per-rule violations {counts} != {expect}")
        if res.okay() != (total == 0):
            problems.append(f"okay() = {res.okay()} with {total} expected violations")
        if sum(r["violations"] for r in summary) != total:
            problems.append("summary('source') violation total differs")
        if len(grouped) != min(50, len(self.model.subjects)):
            problems.append(f"grouped_by_subject returned {len(grouped)} rows")

        if tracer.active:
            with tracer.span("compiler.table_rules"):
                res.violations.write.format("noop").mode("overwrite").save()
            scan = res.scan_metrics()
            tracer.count("compiler.rows_scanned", scan.get("rows_scanned", 0))
            tracer.count(
                "compiler.rows_with_row_violations", scan.get("rows_with_row_violations", 0)
            )
            keys = sum(df.count() for df in tracer.tracked if df.columns == ["doc_id"])
            tracer.count("compiler.equality_mismatch_keys", keys)
            tracer.count("compiler.equality_refetch_ratio", keys / self.model.rows)
            tracer.count("engine.violations", sum(counts.values()))
            for r, v in counts.items():
                tracer.count(f"engine.violations.{r}", v)
        tracer.tracked.clear()
        released, persisted = harness.release_caches(res)
        return OpOutcome(seconds, problems, released, persisted)


# ---------------------------------------------------------------------------
# resume_append


class ResumeAppend(Workload):
    """Ingest one batch: append it (untimed), then run
    ResumableValidator.run over the whole table.

    The initial batches are validated into a checkpoint manifest once per
    input variant and cached; each run starts from a copy of that table and
    manifest, so its first op is the first (cold) append."""

    name = "resume_append"
    INITIAL_BATCHES = 4
    MAX_APPENDS = 60

    def __init__(self, every: int) -> None:
        self.every = every

    def prepare(self, spark, cache, seed, run_dir):
        self.start = recipe.ordinal_start(seed)
        nb = self.INITIAL_BATCHES + self.MAX_APPENDS
        n = nb * recipe.BATCH_ROWS
        self.batch_models = [
            model.table_model(self.start + b * recipe.BATCH_ROWS, recipe.BATCH_ROWS, self.every)
            for b in range(nb)
        ]
        data = cache.table(
            f"resume-e{self.every}",
            seed,
            n,
            lambda: recipe.sequences(spark, self.start, n, self.every).withColumn(
                "batch", recipe.batch_col(self.start)
            ),
            (
                sum(m.rows for m in self.batch_models),
                sum(m.tokens for m in self.batch_models),
            ),
            partition_by="batch",
        )
        ref = cache.table(
            "resume-ref",
            seed,
            n,
            lambda: recipe.reference(spark, self.start, n).withColumn(
                "batch", recipe.batch_col(self.start)
            ),
            (n, model.pristine_tokens(self.start, n)),
            partition_by="batch",
        )
        self.data_path, self.ref_path = data.path, ref.path
        initial, meta = cache.entry(
            f"resume-init-e{self.every}",
            seed,
            self.INITIAL_BATCHES * recipe.BATCH_ROWS,
            lambda path: self._validate_initial(spark, path),
        )
        self.initial_path = initial
        self.run_dir = run_dir
        first = self.batch_models[self.INITIAL_BATCHES]
        self.op_rows, self.op_tokens = first.rows, first.tokens
        return data.generate_s + ref.generate_s + meta["generate_s"]

    def _validate_initial(self, spark, path: Path) -> dict:
        """The initial batches, validated into a fresh manifest."""
        batches = list(range(self.INITIAL_BATCHES))
        for b in batches:
            shutil.copytree(
                Path(self.data_path) / f"batch={b}", path / "table" / f"batch={b}"
            )
        got = self._validator(spark, path / "manifest").run(
            spark.read.parquet(str(path / "table")), RULES, self._tables(spark, batches)
        )
        harness.release_caches()
        seen = {p: (r["input_rows"], r["n_violations"], r["verdict"]) for p, r in got.items()}
        if seen != self._expected(batches):
            raise recipe.InputDrift(
                f"initial manifest {seen} != expected {self._expected(batches)}"
            )
        return {"batches": self.INITIAL_BATCHES}

    @staticmethod
    def _validator(spark, manifest: Path) -> ResumableValidator:
        return ResumableValidator(
            ValidationEngine(subject_col="doc_id"),
            ParquetManifestStore(spark, str(manifest)),
            partition_col="batch",
        )

    def open(self, spark):
        """A fresh copy of the validated table and its manifest."""
        for sub in ("table", "manifest"):
            dst = self.run_dir / "resume" / sub
            if dst.exists():
                shutil.rmtree(dst)
            shutil.copytree(self.initial_path / sub, dst)
        self.table_path = self.run_dir / "resume" / "table"
        self.manifest_path = self.run_dir / "resume" / "manifest"
        self.next_batch = self.INITIAL_BATCHES
        self.validator = self._validator(spark, self.manifest_path)

    def warmup(self, spark):
        _python_workers(spark)
        initial = self.batch_models[: self.INITIAL_BATCHES]
        _check_rows(
            spark.read.parquet(str(self.table_path)), sum(m.rows for m in initial), "resume table"
        )
        _check_rows(
            spark.read.parquet(str(self.manifest_path)),
            len(self._expected(list(range(self.INITIAL_BATCHES)))),
            "manifest",
        )

    def raw_scan(self, spark):
        spark.read.parquet(str(self.table_path)).filter(
            F.col("batch") == self.next_batch - 1
        ).agg(F.sum(F.size("tokens"))).collect()

    def _tables(self, spark, batches: list[int]) -> dict:
        return {
            "dim_sources": synth.gen_dim_sources(spark),
            "reference_tokens": spark.read.parquet(self.ref_path)
            .filter(F.col("batch").isin(batches))
            .drop("batch"),
            "ref_distribution": synth.gen_ref_distribution(spark),
        }

    def _expected(self, batches: list[int]) -> dict[str, tuple[int, int, str]]:
        """{partition: (input_rows, n_violations, verdict)}; drift
        violations name a source group, not a doc, so they are recorded
        under the synthetic "(global)" partition."""
        if not batches:
            return {}
        out = {}
        for b in batches:
            m = self.batch_models[b]
            nv = m.violations - m.rule_counts.get("ntok_drift", 0)
            out[str(b)] = (m.rows, nv, "PASS" if nv == 0 else "FAIL")
        lo = self.start + batches[0] * recipe.BATCH_ROWS
        union = model.table_model(lo, len(batches) * recipe.BATCH_ROWS, self.every)
        drift = union.rule_counts.get("ntok_drift", 0)
        if drift:
            out["(global)"] = (0, drift, "FAIL")
        return out

    def _run(self, spark, tracer, batches: list[int]) -> OpOutcome:
        """run() over the table, checked against the model and the manifest."""
        table = spark.read.parquet(str(self.table_path))
        tables = self._tables(spark, batches)
        with tracer.span("op"):
            t0 = time.perf_counter()
            got = self.validator.run(table, RULES, tables)
            seconds = time.perf_counter() - t0
        expect = self._expected(batches)
        seen = {
            p: (r["input_rows"], r["n_violations"], r["verdict"]) for p, r in got.items()
        }
        problems = [] if seen == expect else [f"run() results {seen} != {expect}"]
        if batches:
            manifest = {
                r["partition"]: (r["input_rows"], r["n_violations"], r["verdict"])
                for r in spark.read.parquet(str(self.manifest_path))
                .filter(F.col("partition").isin(list(expect)))
                .collect()
            }
            if manifest != expect:
                problems.append(f"manifest rows {manifest} != {expect}")
        if tracer.active:
            tracer.count(
                "checkpoint.manifest_files",
                sum(1 for _ in self.manifest_path.glob("*.parquet")),
            )
            tracer.count("checkpoint.partitions_total", self.next_batch)
        tracer.tracked.clear()
        released, persisted = harness.release_caches()
        return OpOutcome(seconds, problems, released, persisted)

    def has_next(self) -> bool:
        return self.next_batch < self.INITIAL_BATCHES + self.MAX_APPENDS

    def op(self, spark, tracer):
        b = self.next_batch
        with tracer.span("sources.append_write"):
            spark.read.parquet(self.data_path).filter(F.col("batch") == b).drop(
                "batch"
            ).write.parquet(str(self.table_path / f"batch={b}"))
        self.next_batch += 1
        return self._run(spark, tracer, [b])

    def finish(self, spark, tracer):
        """Re-runs with nothing pending (resume_noop_s)."""
        return [self._run(spark, tracer, []) for _ in range(3)]


# ---------------------------------------------------------------------------
# token_dedup


class TokenDedup(Workload):
    name = "token_dedup"
    # ops 2 and 3 still run 10-25% slow while the JVM and the Python
    # workers warm up
    cold_ops = 3

    def __init__(self, docs: int, every: int) -> None:
        self.n, self.every = docs, every

    def prepare(self, spark, cache, seed, run_dir):
        start = recipe.ordinal_start(seed)
        m = model.table_model(start, self.n, self.every)
        self.op_rows, self.op_tokens = m.rows, m.tokens
        self.expect_sum = (m.rows, m.tokens)
        self.windows, self.dup_windows = model.ngram_model(start, self.n, self.every)
        docs = cache.table(
            f"dedup-e{self.every}",
            seed,
            self.n,
            lambda: recipe.sequences(spark, start, self.n, self.every),
            self.expect_sum,
        )
        self.path = docs.path
        return docs.generate_s

    def open(self, spark):
        self.docs = spark.read.parquet(self.path)

    def warmup(self, spark):
        _python_workers(spark)
        _check_rows(self.docs, self.expect_sum[0], "dedup docs")

    def raw_scan(self, spark):
        self.docs.agg(F.sum(F.size("tokens"))).collect()

    def op(self, spark, tracer):
        with tracer.span("op"):
            t0 = time.perf_counter()
            got = _ngram_stats(self.docs, tracer)
            seconds = time.perf_counter() - t0
        expect = (self.n, self.windows, self.dup_windows)
        problems = [] if got == expect else [f"(docs, windows, dup_windows) {got} != {expect}"]
        released, persisted = harness.release_caches()
        return OpOutcome(seconds, problems, released, persisted)


def make(name: str) -> Workload:
    if name == "validate_sparse":
        return Validate(name, rows=32768, every=997)
    if name == "validate_dense":
        return Validate(name, rows=32768, every=13)
    if name == "resume_append":
        return ResumeAppend(every=997)
    if name == "token_dedup":
        return TokenDedup(docs=4096, every=997)
    raise KeyError(name)


NAMES = ("validate_sparse", "validate_dense", "resume_append", "token_dedup")
