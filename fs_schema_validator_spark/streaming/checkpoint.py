"""Resumable validation: a checkpoint manifest with per-partition lineage.

The north rule requires re-runs to skip already-validated partitions. The
manifest is a small table of per-partition validation records:

    (partition string, rules_hash string, input_rows bigint,
     n_violations bigint, verdict string, engine_version string,
     snapshot_id string, validated_at timestamp)

A partition is skipped when a manifest row exists with the same
(partition, rules_hash, snapshot_id, engine_version): same data snapshot +
same rule set + same engine ⇒ same verdict. `snapshot_id` is the input's
lineage handle — on Iceberg it is the table's snapshot id (exact,
transaction-consistent); the parquet-backed fallback here uses a
caller-supplied token (e.g. an ETL batch id) or "-".

Storage is parquet-append via an abstract store so the Iceberg runtime
(absent in this container) can be swapped in: with Iceberg the manifest is
`catalog.db.validation_manifest` written with `writeTo(...).append()` and
reads are snapshot-isolated; the logic in this module is unchanged.

Partition pruning is real: skipped partitions are excluded with a pushed
filter on the partition column, so their files are never read (check
`PushedFilters`/partition pruning in the scan node).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone
from typing import Mapping

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import __version__
from ..compiler.plan import key_string
from ..engine import ValidationEngine, ValidationResult, group_attribution
from ..rules.loader import RuleSet

MANIFEST_SCHEMA = (
    "partition string, rules_hash string, input_rows bigint, "
    "n_violations bigint, verdict string, engine_version string, "
    "snapshot_id string, validated_at timestamp"
)


def rules_fingerprint(rules_yaml: str) -> str:
    """Stable hash of the rule-set text — rule changes invalidate checkpoints."""
    return hashlib.sha256(rules_yaml.encode()).hexdigest()[:16]


class ParquetManifestStore:
    """Append-only parquet manifest (Iceberg-table stand-in)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """The manifest, or an empty one on the first run (no path yet).
        Any other failure — a corrupt or unreadable manifest — raises:
        treating it as a first run would silently re-validate."""
        try:
            return self.spark.read.parquet(self.path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)

    def append(self, records: DataFrame) -> None:
        records.write.mode("append").parquet(self.path)


class ResumableValidator:
    """Partition-at-a-time validation with checkpoint/resume.

    The subject table is validated per value of `partition_col`; each
    completed partition lands in the manifest with its stats. A re-run
    prunes validated partitions *before the scan* (filter pushdown on the
    partition column), so already-validated data is never re-read —
    the resumability contract from SURVEY.md §2.9.
    """

    def __init__(
        self,
        engine: ValidationEngine,
        store: ParquetManifestStore,
        partition_col: str,
    ) -> None:
        self.engine = engine
        self.store = store
        self.partition_col = partition_col

    def pending_partitions(
        self, df: DataFrame, rules_yaml: str, snapshot_id: str = "-"
    ) -> list[str]:
        rh = rules_fingerprint(rules_yaml)
        all_parts = [
            r[0]
            for r in df.select(key_string(self.partition_col)).distinct().collect()
        ]
        done = {
            r[0]
            for r in self.store.read()
            .filter(
                (F.col("rules_hash") == rh)
                & (F.col("snapshot_id") == snapshot_id)
                & (F.col("engine_version") == __version__)
            )
            .select("partition")
            .collect()
        }
        return sorted(p for p in all_parts if p not in done)

    def run(
        self,
        df: DataFrame,
        rules_yaml: str,
        tables: Mapping[str, DataFrame] | None = None,
        snapshot_id: str = "-",
    ) -> dict[str, dict]:
        """Validate ALL pending partitions in one pass; {partition: stats}.

        One validation covers the whole pending set — the pushed filter is
        an IN-list on the partition column, so already-validated
        partitions' files are still never read — and per-partition stats
        come from ONE aggregation job (``engine.group_attribution``, the
        contract behind ``ValidationResult.summary``), followed by ONE
        manifest append. Looping partitions on the driver instead would
        serialize one Spark job (+2 actions) per partition: 10^4-10^5 jobs
        at real partition counts.

        Table rules see the pending set as a whole: duplicate keys across
        partitions of ONE run's pending set are detected, and
        referential/completeness checks run once instead of per-slice. A
        duplicate between an already-validated partition and a pending one
        is NOT detected — earlier partitions are never re-read.
        Every violation is counted EXACTLY ONCE, under the minimum
        partition containing its subject, so per-partition n_violations
        sum to the total. Violations whose subject does not occur in the
        pending input (completeness-missing manifest keys) are recorded
        under the synthetic partition "(global)"."""
        rh = rules_fingerprint(rules_yaml)
        ruleset = RuleSet.from_yaml(rules_yaml)
        pending = self.pending_partitions(df, rules_yaml, snapshot_id)
        if not pending:
            return {}
        part = key_string(self.partition_col)
        sub = df.filter(part.isin(pending))
        res: ValidationResult = self.engine.validate(sub, ruleset, tables)
        # the manifest records no violating_subjects; pruning it drops the
        # distinct count's extra shuffle
        counts = (
            group_attribution(sub, self.engine.subject_col, part, res.violations)
            .select("grp", "rows", "violations")
            .collect()
        )
        res.release()
        by_part = {"(global)" if r["grp"] is None else r["grp"]: r for r in counts}

        now = datetime.now(timezone.utc)
        results: dict[str, dict] = {}
        for p in sorted(by_part):
            n_violations = by_part[p]["violations"]
            results[p] = {
                "partition": p,
                "rules_hash": rh,
                "input_rows": by_part[p]["rows"],
                "n_violations": n_violations,
                "verdict": "PASS" if n_violations == 0 else "FAIL",
                "engine_version": __version__,
                "snapshot_id": snapshot_id,
                "validated_at": now,
            }
        self.store.append(
            self.store.spark.createDataFrame(
                [tuple(r.values()) for r in results.values()], MANIFEST_SCHEMA
            )
        )
        return results
