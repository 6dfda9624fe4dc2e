"""Seeded, pinned benchmark inputs written through the package's generator.

Tables come from ``sources.synth`` (gen_sequences -> corrupt_sequences ->
with_duplicates, the bench.py recipe) over an ordinal range that the seed
shifts, which also shifts every corruption and duplicate residue. Doc ids
stay 8 digits, so the doc_id regex rule fires only on planted rows.

Generated parquet is cached under a key of (seed variant, rows, recipe),
where the recipe includes the source text of ``sources/synth.py``. After every
generation the table's (rows, total tokens) checksum is compared with the
closed-form model (model.py); a generator change that silently alters the
workload fails the run instead of being benchmarked.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs_schema_validator_spark.sources import synth

PARTITIONS = 8  # parquet files per table: two scan tasks per core on local[4]
VARIANTS = 4  # distinct seeded inputs per workload
DUP_EVERY = 101  # synth.with_duplicates default, pinned
RECIPE_VERSION = "1"
BATCH_ROWS = 2048  # resume_append batch: 512 n_tok values x 4 sources


class InputDrift(RuntimeError):
    """The generated table does not match the closed-form recipe model."""


def variant(seed: int) -> int:
    """Input variant of a seed. Seeds map onto VARIANTS generated tables,
    so repeated runs reuse the cache instead of generating every run."""
    return seed % VARIANTS


def ordinal_start(seed: int) -> int:
    """First row ordinal for a seed's variant: shifts every corruption
    (mod 997, 13) and duplicate (mod 101) residue; ordinals stay < 10^8."""
    return variant(seed) * 10_007


def sequences(spark: SparkSession, start: int, n: int, every: int) -> DataFrame:
    """Corrupted, duplicated sequences over ordinals start..start+n-1."""
    pristine = synth.gen_sequences(spark, start + n, partitions=PARTITIONS).filter(
        F.col("doc_id") >= F.lit(f"doc-{start:08d}")
    )
    return synth.with_duplicates(
        synth.corrupt_sequences(pristine, every=every), every=DUP_EVERY
    )


def reference(spark: SparkSession, start: int, n: int) -> DataFrame:
    return (
        synth.gen_sequences(spark, start + n, partitions=PARTITIONS)
        .filter(F.col("doc_id") >= F.lit(f"doc-{start:08d}"))
        .select("doc_id", "tokens")
    )


def batch_col(start: int) -> F.Column:
    """resume_append batch of a row, from the ordinal in its doc_id (both
    the well-formed and the mode-5 malformed spelling end in it)."""
    i = F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long")
    return ((i - F.lit(start)) / F.lit(BATCH_ROWS)).cast("int")


def table_checksum(df: DataFrame) -> tuple[int, int]:
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("tokens").isNull(), 0).otherwise(F.size("tokens"))).alias(
            "tokens"
        ),
    ).first()
    return int(row["rows"]), int(row["tokens"] or 0)


@dataclass(frozen=True)
class CachedTable:
    path: str
    generate_s: float


class InputCache:
    """Generated inputs under ``root``, one directory per cache key."""

    def __init__(self, root: Path) -> None:
        self.root = root
        self.generated = False  # whether any entry was built by this process
        self._recipe = hashlib.sha256(
            Path(synth.__file__).read_bytes()
            + f"{RECIPE_VERSION}/{PARTITIONS}/{DUP_EVERY}/{BATCH_ROWS}".encode()
        ).hexdigest()[:12]

    def entry(self, name: str, seed: int, rows: int, build) -> tuple[Path, dict]:
        """Directory of cache entry ``name`` and its metadata. On a miss,
        ``build(path)`` fills the directory and returns the metadata; the
        metadata file is written last, so an interrupted build is redone."""
        path = self.root / f"{name}-v{variant(seed)}-n{rows}-{self._recipe}"
        meta_path = path / "_bench_meta.json"
        if not meta_path.exists():
            if path.exists():
                shutil.rmtree(path)
            self.generated = True
            t0 = time.perf_counter()
            meta = build(path)
            meta["generate_s"] = time.perf_counter() - t0
            meta_path.write_text(json.dumps(meta))
        return path, json.loads(meta_path.read_text())

    def table(
        self,
        name: str,
        seed: int,
        rows: int,
        build,
        expect: tuple[int, int],
        partition_by: str | None = None,
    ) -> CachedTable:
        """Parquet table ``name``; ``build()`` returns its DataFrame on a
        miss. ``expect`` is the model's (rows, tokens) checksum."""

        def write(path: Path) -> dict:
            df = build()
            # the seeded range sits in the last generator partitions:
            # rebalance so every scan gets PARTITIONS even files, or one
            # file per batch of a partitioned table
            if partition_by:
                writer = df.repartition(F.col(partition_by)).write.partitionBy(partition_by)
            else:
                writer = df.repartition(PARTITIONS).write
            writer.mode("overwrite").parquet(str(path))
            rows, tokens = table_checksum(df.sparkSession.read.parquet(str(path)))
            return {"rows": rows, "tokens": tokens}

        path, meta = self.entry(name, seed, rows, write)
        if (meta["rows"], meta["tokens"]) != tuple(expect):
            raise InputDrift(
                f"{name} (seed {seed}): generated (rows, tokens) = "
                f"({meta['rows']}, {meta['tokens']}), recipe model says {tuple(expect)}"
            )
        return CachedTable(str(path), meta["generate_s"])
