"""Spark session lifecycle, tracing and host probes for the benchmark.

Tracing wraps public functions of the package's modules from here — no
span is placed inside the package. A Tracer keeps spans (name, start, end,
parent, op id) and per-op counts in memory and writes them out at exit.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession

from fs_schema_validator_spark.functions import cache as df_cache
from fs_schema_validator_spark.session import get_spark


def cores() -> int:
    return len(os.sched_getaffinity(0))


class SparkHost:
    """One driver JVM; SparkContexts come and go in it.

    The first start() launches the JVM; later ones start a fresh
    SparkContext in the same JVM, which is what each set-up repeat times.
    close() ends the JVM; a start() after it launches a new one."""

    def __init__(self, scratch: Path) -> None:
        self.scratch = scratch
        self.spark: SparkSession | None = None
        self._jvm_pid: int | None = None

    def start(self) -> SparkSession:
        local = self.scratch / "spark-local"
        local.mkdir(parents=True, exist_ok=True)
        n = cores()
        self.spark = get_spark(
            master=f"local[{n}]",
            app_name="perfbench",
            shuffle_partitions=n,
            extra_conf={
                "spark.local.dir": str(local),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._jvm_pid is None:
            self._jvm_pid = int(
                self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            )
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM (peak resident set since launch)."""
        with open(f"/proc/{self._jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_context()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - TimeoutExpired
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self._jvm_pid = None


def persisted_rdds(spark: SparkSession) -> int:
    """RDDs still persisted in the JVM (materialised caches)."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def release_caches(result=None) -> tuple[int, int]:
    """The engine's own release path: ValidationResult.release() and the
    tracked-cache registry. Returns (released, still persisted)."""
    if result is not None:
        result.release()
    released = df_cache.release_all()
    spark = SparkSession.getActiveSession()
    return released, persisted_rdds(spark) if spark is not None else 0


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def job_stats(spark: SparkSession, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:  # skipped stage (shuffle output reused)
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> float:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond
    it, else the median."""
    values = sorted(values)
    n = len(values)
    for p in (0.99, 0.95, 0.90, 0.75):
        if n * (1 - p) >= 10:
            return float(statistics.quantiles(values, n=100, method="inclusive")[round(p * 100) - 1])
    return median(values)


# ---------------------------------------------------------------------------
# tracing


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """In-memory spans and per-op counts. Inactive, every hook is a plain
    pass-through, so untraced ops in a traced run measure the overhead."""

    active: bool = False
    op_id: int | None = None
    spans: list[Span] = field(default_factory=list)
    counts: dict[int, dict[str, float]] = field(default_factory=dict)
    tracked: list = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patches: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.active and self.op_id is not None:
            self.counts.setdefault(self.op_id, {})[name] = value

    def span_seconds(self, name: str) -> dict[int, float]:
        """Total duration of spans called ``name``, per op."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s.name == name and s.op is not None:
                out[s.op] = out.get(s.op, 0.0) + (s.end - s.start)
        return out

    # -- hooks into the package's public functions ------------------------

    def _wrap(self, owner, attr: str, make) -> None:
        raw = owner.__dict__[attr]
        self._patches.append((owner, attr, raw))
        setattr(owner, attr, make(raw))

    def _timed(self, name: str, fn, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        return wrapper

    def install(self) -> None:
        from fs_schema_validator_spark.compiler.plan import CompiledPlan
        from fs_schema_validator_spark.engine import ValidationEngine
        from fs_schema_validator_spark.rules.loader import RuleSet
        from fs_schema_validator_spark.streaming import checkpoint

        self._wrap(
            RuleSet,
            "from_yaml",
            lambda raw: classmethod(self._timed("rules.from_yaml", raw.__func__)),
        )
        self._wrap(
            ValidationEngine, "validate", lambda raw: self._timed("engine.validate", raw)
        )

        def plan_violations(raw):
            @functools.wraps(raw)
            def wrapper(plan, *args, **kwargs):
                if self.active:
                    # materialise the cached fused projection on its own so
                    # its scan is timed apart from the equality-screen job
                    with self.span("compiler.fused_scan"):
                        plan.fused_projection().count()
                    with self.span("compiler.plan_build"):
                        return raw(plan, *args, **kwargs)
                return raw(plan, *args, **kwargs)

            return wrapper

        self._wrap(CompiledPlan, "violations", plan_violations)

        def pending_after(out):
            self.count("checkpoint.partitions_pending", len(out))

        self._wrap(
            checkpoint.ResumableValidator,
            "pending_partitions",
            lambda raw: self._timed("checkpoint.pending", raw, pending_after),
        )
        self._wrap(
            checkpoint.ResumableValidator,
            "run",
            lambda raw: self._timed("checkpoint.run", raw),
        )
        self._wrap(
            checkpoint.ParquetManifestStore,
            "read",
            lambda raw: self._timed("checkpoint.manifest_read", raw),
        )

        def track(raw):
            @functools.wraps(raw)
            def wrapper(df):
                if self.active:
                    self.tracked.append(df)
                return raw(df)

            return wrapper

        self._wrap(df_cache, "track", track)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "counts": {str(k): v for k, v in self.counts.items()},
                }
            )
        )
