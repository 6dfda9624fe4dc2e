"""Table source abstraction: Iceberg when available, parquet otherwise.

The production deployment reads Iceberg tables (snapshot-isolated scans,
partition pruning against table metadata, snapshot ids for the checkpoint
manifest). This container has no Iceberg runtime jars, so the loader probes
for the catalog and falls back to plain parquet paths — all engine logic is
source-agnostic DataFrames either way.

Iceberg specifics that map onto this engine when the runtime is present:

* ``spark.read.format("iceberg").load(name)`` (or ``spark.table``) for the
  subject table; ``VERSION AS OF`` for reproducible re-validation.
* the current snapshot id (``SELECT snapshot_id FROM <t>.snapshots ORDER BY
  committed_at DESC LIMIT 1``) feeds ``ResumableValidator.run(snapshot_id=…)``.
* violations sink: ``df.writeTo("catalog.db.violations").append()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime classes are on the JVM classpath.

    Must actually load the class: attribute access on spark._jvm returns a
    py4j JavaPackage placeholder WITHOUT raising for absent classes, so a
    bare `spark._jvm.org.apache.iceberg.Table` probe is always truthy and
    the parquet fallback would never engage."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.Table"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def load_table(spark: SparkSession, ref: str) -> DataFrame:
    """Load `ref` as a DataFrame.

    ``catalog.db.table`` references go through the session catalog (Iceberg
    or hive). Paths dispatch on FILE EXTENSION only: parquet (default),
    orc, json/jsonl (line-delimited), csv (headered, types inferred).
    Directory NAMES are never sniffed — a parquet directory named
    `events_orc` reads as parquet."""
    if "/" not in ref and not any(
        ref.endswith(ext) for ext in (".parquet", ".orc", ".json", ".jsonl", ".csv")
    ):
        return spark.table(ref)
    low = ref.lower()
    if low.endswith(".orc"):
        return spark.read.orc(ref)
    if low.endswith((".json", ".jsonl")):
        return spark.read.json(ref)
    if low.endswith(".csv"):
        return spark.read.option("header", "true").option("inferSchema", "true").csv(ref)
    return spark.read.parquet(ref)


def current_snapshot_id(spark: SparkSession, ref: str) -> str:
    """Lineage handle for the checkpoint manifest: the Iceberg snapshot id
    when available, else "-" (caller should pass an ETL batch id)."""
    if "/" in ref or not iceberg_available(spark):
        return "-"
    row = spark.sql(
        f"SELECT snapshot_id FROM {ref}.snapshots ORDER BY committed_at DESC LIMIT 1"
    ).first()
    return str(row[0]) if row else "-"
