"""Local mirror of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` on DuckDB over
the same sf dir, compares row count, sorted-column-name schema, and
order-insensitive values. Usage:

    python tools/oracle_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def complex_cols(sdf) -> list[str]:
    """Top-level array/map/struct output columns.

    The driver canonicalizes results with pandas (sorted columns, hashed
    cell values); a list/dict cell is unhashable there and the gate
    ERRORS — exactly how round-2's `skew_salted_stats` shipped red while
    this tool's old stringify-everything normalizer passed it. Queries
    must serialize complex outputs (array_join / to_json / md5) before
    returning."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def norm_cell(v):
    if isinstance(v, (list, dict, tuple)):
        # mirror the driver: pandas cannot hash these
        raise TypeError(f"unhashable cell type {type(v).__name__} (driver "
                        "canonicalizer would error)")
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main() -> int:
    import __spark_entry__ as entrymod
    from fs_schema_validator_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must not produce a green "0 failures" run that
        # checked nothing
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        failures += len(unknown)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            bad = complex_cols(sdf)
            if bad:
                print(f"FAIL  {name}: array/map/struct output column(s) "
                      f"{bad} — driver canonicalizer cannot hash these; "
                      "serialize (array_join/to_json) before returning")
                failures += 1
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            failures += 1
            continue
        if name not in oracles:
            # a query with no oracle checks nothing: it must not count
            # toward a green run
            print(f"FAIL  {name}: no oracle_sql() entry")
            failures += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(ex).__name__}: {ex}")
            failures += 1
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: schema {sorted(scols)} vs {sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(drows)}")
            ok = False
        else:
            try:
                a = norm_rows(scols, srows)
                b = norm_rows(dcols, drows)
            except TypeError as ex:
                print(f"FAIL  {name}: {ex}")
                ok = False
            else:
                if a != b:
                    diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                    print(f"FAIL  {name}: values differ; first diffs: {diffs}")
                    ok = False
        if ok:
            print(f"ok    {name}: {len(srows)} rows match [{time.time()-t0:.1f}s]")
        else:
            failures += 1
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
