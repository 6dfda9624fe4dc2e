#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload validate_sparse --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts one driver JVM on
local[<cores>] (a second one if it had to generate inputs), sets up several
times (session start, input open, warm-up pass) and reports the median as
setup_s, runs the cold op(s), then runs ops in a closed loop for
--seconds and checks every op's output against the closed-form recipe
model. --trace 0 prints the end-to-end metrics; --trace 1
alternates untraced and traced ops, prints the per-layer metrics (including
the tracing overhead) and writes the spans under perfbench/.cache/traces/.
Everything the run writes stays under perfbench/.cache/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
SETUPS = 3


@dataclass
class Record:
    op_id: int
    traced: bool
    seconds: float
    ok: bool
    steal_pct: float
    released: int
    persisted_after_release: int
    jobs: dict


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    # run length; BENCHMARK.json pins it (run_seconds) for every run
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run directory, and let the workers import the package."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")) if p
    )
    # one 4-core box shared with other jobs: keep the heap modest
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    sys.path[:0] = [str(ROOT), str(HERE)]


def _run_op(fn, spark, tracer, op_id: int, traced: bool) -> Record:
    import harness

    from workloads import OpOutcome

    group = f"perfbench-op{op_id}"
    spark.sparkContext.setJobGroup(group, group)
    tracer.op_id, tracer.active = op_id, traced
    cpu0 = harness.cpu_jiffies()
    t0 = time.perf_counter()
    try:
        out = fn(spark, tracer)
    except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
        traceback.print_exc()
        out = OpOutcome(time.perf_counter() - t0, ["raised"])
        tracer.tracked.clear()
        try:
            harness.release_caches()
        except Exception:  # noqa: BLE001
            traceback.print_exc()
    finally:
        tracer.active = False
    steal = harness.steal_pct(cpu0, harness.cpu_jiffies())
    print(
        f"op {op_id}: {out.seconds:.3f} s{' traced' if traced else ''}, "
        f"{out.persisted_after_release} RDDs persisted after release",
        file=sys.stderr,
    )
    for problem in out.problems:
        print(f"op {op_id}: {problem}", file=sys.stderr)
    jobs = harness.job_stats(spark, group) if traced else {}
    # recorded for every op, traced or not, and written out with the spans
    tracer.counts.setdefault(op_id, {})["functions.cache.persisted_after_release"] = (
        out.persisted_after_release
    )
    return Record(
        op_id, traced, out.seconds, not out.problems, steal, out.released,
        out.persisted_after_release, jobs,
    )


def measure(args, spec: dict, run_dir: Path) -> dict:
    import harness
    import recipe
    import workloads

    wl = workloads.make(args.workload)
    host = harness.SparkHost(run_dir)
    tracer = harness.Tracer()
    tracer.install()
    try:
        # -- inputs, then set-up several times; both exclude JVM launch --
        spark = host.start()
        cache = recipe.InputCache(CACHE / "inputs")
        generate_s = wl.prepare(spark, cache, args.seed, run_dir)
        if cache.generated:
            # measure in a JVM that has not generated, as on a cached run
            host.close()
            spark = host.start()
        starts, warms = [], []
        for k in range(SETUPS):
            host.stop_context()
            t0 = time.perf_counter()
            spark = host.start()
            starts.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.open(spark)
            wl.warmup(spark)
            warms.append(time.perf_counter() - t0)
            print(f"setup {k}: start {starts[-1]:.3f} s, open + warm-up {warms[-1]:.3f} s", file=sys.stderr)
        setups = [s + w for s, w in zip(starts, warms)]

        # -- cold ops (checked, not timed), then the closed loop ---------
        records = [_run_op(wl.op, spark, tracer, i, False) for i in range(wl.cold_ops)]
        first = records[0]
        measured: list[Record] = []
        # a traced run needs one untraced and one traced op at least
        min_ops = 2 if args.trace else 1
        t_loop = time.perf_counter()
        while wl.has_next() and (
            time.perf_counter() - t_loop < args.seconds or len(measured) < min_ops
        ):
            i = len(records)
            traced = bool(args.trace) and len(measured) % 2 == 1
            rec = _run_op(wl.op, spark, tracer, i, traced)
            records.append(rec)
            measured.append(rec)
        noop = wl.finish(spark, tracer)
        for out in noop:
            records.append(
                Record(-1, False, out.seconds, not out.problems, 0.0, out.released,
                       out.persisted_after_release, {})
            )
            print(f"no-op re-run: {out.seconds:.3f} s", file=sys.stderr)
            for problem in out.problems:
                print(f"no-op re-run: {problem}", file=sys.stderr)

        raw_scans = []
        if args.trace:
            for _ in range(3):
                t0 = time.perf_counter()
                wl.raw_scan(spark)
                raw_scans.append(time.perf_counter() - t0)
        rss = host.jvm_peak_rss_mb()
    finally:
        host.close()
        tracer.uninstall()

    failed = sum(not r.ok for r in records)
    good = [r.seconds for r in measured if r.ok] or [r.seconds for r in measured]
    p50 = harness.median(good)
    if not args.trace:
        values = {
            "setup_s": harness.median(setups),
            "op_p50_s": p50,
            "rows_per_s": wl.op_rows / p50,
            "tokens_per_s": wl.op_tokens / p50,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        values = _per_layer(
            wl, tracer, records, measured, starts, warms, generate_s, raw_scans, noop
        )
        values["session.first_op_s"] = first.seconds
        values["host.jvm_peak_rss_mb"] = rss
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        tracer.write(CACHE / "traces" / f"{wl.name}-s{args.seed}-{os.getpid()}.json")
    for name in units:
        print(f"{name} = {values[name]:.6g} {units[name]}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }


def _per_layer(wl, tracer, records, measured, starts, warms, generate_s, raw_scans, noop) -> dict:
    import harness
    from harness import median

    traced = [r for r in measured if r.traced]
    untraced = [r for r in measured if not r.traced]
    ops = [r.op_id for r in traced]

    def span_s(name: str) -> float:
        per_op = tracer.span_seconds(name)
        return median(per_op.get(o, 0.0) for o in ops)

    def count(name: str) -> float:
        return median(tracer.counts.get(o, {}).get(name, 0.0) for o in ops)

    def jobs(key: str) -> float:
        """Spark jobs, stages or tasks of a traced op (its job group)."""
        return median(r.jobs.get(key, 0) for r in traced)

    is_resume = wl.name == "resume_append"
    is_dedup = wl.name == "token_dedup"
    p50_traced = median(r.seconds for r in traced)
    p50_untraced = median(r.seconds for r in untraced)
    windows = count("dedup.windows")
    untraced_ok = [r.seconds for r in untraced if r.ok]
    out = {
        "session.start_s": median(starts),
        "session.warmup_s": median(warms),
        "rules.from_yaml_s": span_s("rules.from_yaml"),
        "compiler.fused_scan_s": span_s("compiler.fused_scan"),
        "compiler.plan_build_s": span_s("compiler.plan_build"),
        "compiler.table_rules_s": span_s("compiler.table_rules"),
        "compiler.rows_scanned": count("compiler.rows_scanned"),
        "compiler.rows_with_row_violations": count("compiler.rows_with_row_violations"),
        "compiler.equality_mismatch_keys": count("compiler.equality_mismatch_keys"),
        "compiler.equality_refetch_ratio": count("compiler.equality_refetch_ratio"),
        # token_dedup's jobs are the operator's, counted as dedup.tasks
        "compiler.jobs": 0.0 if is_dedup else jobs("jobs"),
        "compiler.stages": 0.0 if is_dedup else jobs("stages"),
        "compiler.tasks": 0.0 if is_dedup else jobs("tasks"),
        "compiler.failed_tasks": 0.0 if is_dedup else jobs("failed_tasks"),
        "engine.validate_s": span_s("engine.validate"),
        "engine.sorted_violations_s": span_s("engine.sorted_violations"),
        "engine.summary_s": span_s("engine.summary"),
        "engine.grouped_by_subject_s": span_s("engine.grouped_by_subject"),
        "engine.violations": count("engine.violations"),
    }
    from model import RULE_IDS

    for r in RULE_IDS:
        out[f"engine.violations.{r}"] = count(f"engine.violations.{r}")
    out.update(
        {
            "functions.cache.released": median(r.released for r in records),
            "functions.cache.persisted_after_release": max(
                r.persisted_after_release for r in records
            ),
            "checkpoint.pending_s": span_s("checkpoint.pending"),
            "checkpoint.run_s": span_s("checkpoint.run"),
            "checkpoint.manifest_read_s": span_s("checkpoint.manifest_read"),
            "checkpoint.manifest_files": count("checkpoint.manifest_files"),
            "checkpoint.tasks_per_append": jobs("tasks") if is_resume else 0.0,
            "checkpoint.partitions_pending": count("checkpoint.partitions_pending"),
            "checkpoint.partitions_total": count("checkpoint.partitions_total"),
            "resume_noop_s": median(o.seconds for o in noop),
            "sources.generate_s": generate_s,
            "sources.raw_scan_s": median(raw_scans),
            "sources.append_write_s": span_s("sources.append_write"),
            "dedup.token_ngram_s": span_s("dedup.token_ngram"),
            "dedup.windows": windows,
            "dedup.dup_windows": count("dedup.dup_windows"),
            "dedup.dup_ratio": count("dedup.dup_ratio"),
            "dedup.tasks": jobs("tasks") if is_dedup else 0.0,
            # windows of one op over the untraced median op time
            "windows_per_s": windows / p50_untraced if is_dedup else 0.0,
            "host.steal_pct": median(r.steal_pct for r in measured),
            "failed_ops_ratio": sum(not r.ok for r in records) / len(records),
            "ops.samples": len(measured),
            "op_tail_s": harness.tail(untraced_ok),
            "trace.op_p50_traced_s": p50_traced,
            "trace.op_p50_untraced_s": p50_untraced,
            "trace.overhead_s": p50_traced - p50_untraced,
        }
    )
    return out


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not (ROOT / "fs_schema_validator_spark" / "__init__.py").is_file():
        print(
            f"error: run from a checkout of the repository; {ROOT} has no "
            "fs_schema_validator_spark package",
            file=sys.stderr,
        )
        return 2
    # metric names and units: the lists the run must report, in full
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_dir = CACHE / "runs" / str(os.getpid())
    _environment(run_dir)
    import workloads

    if args.workload not in workloads.NAMES:
        print(f"error: unknown workload {args.workload!r}; one of {workloads.NAMES}", file=sys.stderr)
        return 2
    try:
        result = measure(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
