"""ValidationEngine — the public entry point of the validation engine.

Usage::

    engine = ValidationEngine(subject_col="doc_id")
    result = engine.validate(df, yaml_rules, tables={"dim_sources": dim})
    result.okay()                 # -> bool (reference: report.okay())
    result.n_violations           # -> int, counted once at validate()
    result.violations             # canonical violations DataFrame
    result.sorted_violations()    # ordered by (subject, rule_seq)
    result.grouped_by_subject()   # reference: report.grouped_by_path()
    result.ok_subjects()          # reference: report.valid_paths
    result.summary("source")      # per-partition verdict counts

The verdict contract mirrors the reference CLI
(/root/reference/fs_schema_validator/__main__.py:76-96): exit 0 when no
violations, 1 otherwise, 127 for an invalid rule spec (RuleSetError).

Each shared contract has one implementation: key rendering (nulls as
'<null>') is ``compiler.plan.key_string``; the row rules' per-row violation
array is ``compiler.plan.row_violation_array``; a table rule's violation
rows are built by ``compiler.plan._violation_rows``; per-group attribution
is ``group_attribution`` below, behind both ``summary()`` and the
checkpoint manifest (``streaming.checkpoint``).

``validate()`` runs the plan ONCE: ``ValidationResult`` persists the
violation relation, counts it in one job that also latches the scan
metrics, and then releases the plan's own caches (the fused projection,
the equality screens' key sets), which nothing reads again. Every surface
derives from that one persisted relation; ``release()`` frees it.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .compiler.plan import CompiledPlan, key_string
from .evaluator import Bindings
from .rules.loader import RuleSet, RuleSetError

__all__ = ["ValidationEngine", "ValidationResult", "RuleSet", "RuleSetError"]


def group_attribution(
    df: DataFrame, subject_col: str, group: Column, violations: DataFrame
) -> DataFrame:
    """Per-group counts ``(grp, rows, violations, violating_subjects)``.

    Each violation is counted EXACTLY ONCE, under the minimum group
    containing its subject: a subject spanning groups (itself an anomaly)
    must not inflate every group's counts. Violations whose subject is
    absent from `df` (completeness-missing keys) get a null ``grp``; the
    full outer join keeps them as their own row. One narrow
    ``(subject, grp, n_rows)`` aggregate feeds both sides; partitioned by
    subject, its one shuffle also serves the subject -> group map."""
    base = (
        df.select(key_string(subject_col).alias("subject"), group.alias("grp"))
        .repartition("subject")
        .groupBy("subject", "grp")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    rows = base.groupBy("grp").agg(F.sum("n_rows").alias("rows"))
    subject_grp = base.groupBy("subject").agg(F.min("grp").alias("grp"))
    viol = (
        violations.join(subject_grp, "subject", "left")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("violations"),
            F.countDistinct("subject").alias("violating_subjects"),
        )
    )
    return rows.join(viol, "grp", "full_outer").select(
        "grp",
        F.coalesce("rows", F.lit(0)).alias("rows"),
        F.coalesce("violations", F.lit(0)).alias("violations"),
        F.coalesce("violating_subjects", F.lit(0)).alias("violating_subjects"),
    )


class ValidationResult:
    """Distributed analog of the reference's ValidationReport (report.py:17-48).

    ``errors`` becomes a violations DataFrame; ``valid_paths`` becomes the
    ok-subjects DataFrame; ``merge`` (the reference's dead map/reduce seam)
    is Spark's union/aggregation, realized.
    """

    def __init__(self, plan: CompiledPlan) -> None:
        self._plan = plan
        try:
            self.violations = plan.violations().persist(StorageLevel.MEMORY_AND_DISK)
            try:
                self.n_violations = self.violations.count()
                self._scan_metrics = plan.observed_metrics()
            except BaseException:
                self.violations.unpersist()  # no result owns it
                raise
        finally:
            plan.release()

    def okay(self) -> bool:
        return self.n_violations == 0

    def exit_code(self) -> int:
        return 0 if self.okay() else 1

    def sorted_violations(self) -> DataFrame:
        return self.violations.orderBy("subject", "rule_seq")

    def grouped_by_subject(self) -> DataFrame:
        """(subject, reasons array) — reasons in rule declaration order,
        subjects sorted (reference report.py:27-33 + __main__.py:82)."""
        return (
            self.violations.groupBy("subject")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rule_seq", "reason"))
                    ),
                    lambda s: s.getField("reason"),
                ).alias("reasons")
            )
            .orderBy("subject")
        )

    def scan_metrics(self) -> dict:
        """rows_scanned and rows_with_row_violations, latched (Spark's
        observe API) by the job that materialised the violation relation —
        no second pass. A row counts as violating when any rule evaluated
        in the row pass flags it: the row rules, and the token-range and
        referential rules lifted into the fused scan."""
        return dict(self._scan_metrics)

    def release(self) -> None:
        """Unpersist the violation relation (long-lived sessions —
        streaming foreachBatch, services — call this after the batch's
        actions; one-shot CLIs can skip it). Surfaces still work after
        it; they re-execute the plan."""
        self.violations.unpersist()

    def ok_subjects(self) -> DataFrame:
        """Subjects with zero violations (reference: valid_paths). Null
        subjects render '<null>' like every violations surface, so a
        null-keyed violating row is never misreported as OK."""
        subjects = self._plan.df.select(
            key_string(self._plan.subject_col).alias("subject")
        ).distinct()
        return subjects.join(
            self.violations.select("subject").distinct(), "subject", "left_anti"
        ).orderBy("subject")

    def summary(self, group_col: str) -> DataFrame:
        """Per-group verdict: rows, violations, violating subjects, and
        PASS/FAIL, counted by ``group_attribution`` (the checkpoint
        manifest's contract). Orphan violations form a row with a null
        group."""
        counts = group_attribution(
            self._plan.df, self._plan.subject_col, F.col(group_col), self.violations
        )
        return counts.select(
            F.col("grp").alias(group_col),
            "rows",
            "violations",
            "violating_subjects",
            F.when(F.col("violations") == 0, "PASS").otherwise("FAIL").alias("verdict"),
        ).orderBy(group_col)


class ValidationEngine:
    def __init__(self, subject_col: str = "doc_id") -> None:
        self.subject_col = subject_col

    def compile(
        self,
        df: DataFrame,
        rules: RuleSet | str,
        tables: Mapping[str, DataFrame] | None = None,
        bindings: Bindings | None = None,
    ) -> CompiledPlan:
        ruleset = (
            rules
            if isinstance(rules, RuleSet)
            else RuleSet.from_yaml(rules, bindings)
        )
        return CompiledPlan(df, ruleset, self.subject_col, tables or {})

    def validate(
        self,
        df: DataFrame,
        rules: RuleSet | str,
        tables: Mapping[str, DataFrame] | None = None,
        bindings: Bindings | None = None,
    ) -> ValidationResult:
        return ValidationResult(self.compile(df, rules, tables, bindings))
