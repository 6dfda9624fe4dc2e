"""CLI: validate a table against a YAML rule spec.

The spark-submit entry point (reference analog: validate_schema CLI,
/root/reference/fs_schema_validator/__main__.py:25-96):

    spark-submit --py-files fs_schema_validator_spark.zip \
        -m fs_schema_validator_spark validate \
        --rules rules.yaml --table /data/sequences \
        --aux dim_sources=/data/dims --aux reference_tokens=/data/ref \
        -b idx=0..3 --subject doc_id --output /out/violations

``--table`` and each ``--aux`` take a path or a catalog table name
(``catalog.db.sequences`` for an Iceberg table).

Exit codes keep the reference contract: 0 = all rules pass, 1 = violations
found, 127 = the rule spec itself is invalid, or names a column the table
lacks. 2 = a usage error: a missing or malformed argument, or a
``--table``/``--aux`` that cannot be read.
"""

from __future__ import annotations

import argparse
import os
import sys

import yaml
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..engine import ValidationEngine
from ..evaluator import ParseError, parse_assignment
from ..evaluator.errors import EvaluatorError
from ..rules.loader import RuleSet, RuleSetError
from ..session import get_spark
from ..sources.tables import load_table


class UsageError(Exception):
    """Bad invocation (exit 2, distinct from validation failure's exit 1)."""


def _load(spark: SparkSession, ref: str, flag: str = "--table") -> DataFrame:
    """A --table or --aux reference: a catalog table by name (Iceberg or
    hive, through the session catalog) or a path, as ``load_table``
    dispatches it. A bare relative directory name would dispatch to the
    catalog; an existing local path is always a path. A reference Spark
    cannot resolve is a UsageError naming `flag`."""
    path = f"./{ref}" if os.path.exists(ref) and "/" not in ref else ref
    try:
        return load_table(spark, path)
    except AnalysisException as e:
        raise UsageError(f"cannot read {flag} {ref}: {_first_line(e)}") from e


def _first_line(e: Exception) -> str:
    """An exception's message as one line (Spark's run to many)."""
    return (str(e).strip().splitlines() or [type(e).__name__])[0]


def _invalid_spec(e: Exception) -> int:
    print("❗️ The provided schema is invalid!", file=sys.stderr)
    print(str(e), file=sys.stderr)
    return 127


def _parse_aux(values: list[str]) -> dict[str, str]:
    out = {}
    for v in values:
        if "=" not in v:
            raise UsageError(f"--aux expects name=table, got {v!r}")
        name, ref = v.split("=", 1)
        out[name] = ref
    return out


def build_parser() -> argparse.ArgumentParser:
    """CLI matching the reference contract
    (/root/reference/fs_schema_validator/__main__.py:25-96): rule spec and
    subject default from $VALIDATION_SCHEMA_PATH / $VALIDATION_ROOT_DIR,
    --verbose echoes the inputs + inspected count, valid subjects print as
    sorted ✅ lines (behind --show-valid here: at 10^12 subjects the
    reference's unconditional print is not a sane default)."""
    p = argparse.ArgumentParser(prog="fs_schema_validator_spark")
    sub = p.add_subparsers(dest="command", required=True)
    v = sub.add_parser("validate", help="validate a table against a rule spec")
    v.add_argument(
        "--rules",
        default=os.environ.get("VALIDATION_SCHEMA_PATH"),
        help="YAML rule-spec path (default: $VALIDATION_SCHEMA_PATH)",
    )
    v.add_argument(
        "--table",
        default=os.environ.get("VALIDATION_ROOT_DIR"),
        help="subject table path or catalog table name "
        "(default: $VALIDATION_ROOT_DIR)",
    )
    v.add_argument(
        "--show-valid",
        action="store_true",
        help="print sorted ✅ lines for subjects with zero violations "
        "(limited by --max-print; reference prints these unconditionally)",
    )
    v.add_argument("--aux", action="append", default=[],
                   help="name=table auxiliary table (path or catalog table name)")
    v.add_argument("-b", "--binding", action="append", default=[],
                   help="binding override, e.g. -b idx=0..3 (repeatable)")
    v.add_argument("--subject", default="doc_id", help="subject key column")
    v.add_argument("--output", default=None, help="write violations parquet here")
    v.add_argument("--group", default=None, help="print per-group summary on this column")
    v.add_argument("--verbose", "-v", action="store_true")
    v.add_argument("--max-print", type=int, default=50,
                   help="max violation subjects to print (the exit code "
                   "counts every violation)")
    pr = sub.add_parser("profile", help="one-pass column profile of a table")
    pr.add_argument(
        "--table",
        default=os.environ.get("VALIDATION_ROOT_DIR"),
        help="table path or catalog table name (default: $VALIDATION_ROOT_DIR)",
    )
    pr.add_argument("--columns", default=None,
                    help="comma-separated columns (default: all)")
    pr.add_argument("--exact", action="store_true",
                    help="exact distinct counts (default: HLL approx)")
    return p


def cmd_validate(args: argparse.Namespace) -> int:
    if not args.rules or not args.table:
        print(
            "missing --rules/--table (or $VALIDATION_SCHEMA_PATH/"
            "$VALIDATION_ROOT_DIR)",
            file=sys.stderr,
        )
        return 2
    if args.max_print < 0:
        print(f"--max-print must be >= 0, got {args.max_print}", file=sys.stderr)
        return 2
    try:
        aux = _parse_aux(args.aux)
    except UsageError as e:
        print(str(e), file=sys.stderr)
        return 2

    try:
        bindings = dict(parse_assignment(b) for b in args.binding)
    except ParseError as e:
        print(f"binding cannot be parsed: {e}", file=sys.stderr)
        return 127

    if args.verbose:
        print(f"Schema path: {args.rules}")
        print(f"Root dir: {args.table}")
        if bindings:
            print("⚠️  Overriding the following bindings:")
            for k, v in bindings.items():
                print(f"  {k} = {v}")
        print()

    try:
        with open(args.rules) as f:
            rules_yaml = f.read()
    except OSError as e:
        print(f"cannot read rule spec: {e}", file=sys.stderr)
        return 127
    # the spec is checked before Spark starts
    try:
        rules = RuleSet.from_yaml(rules_yaml, bindings)
    except (RuleSetError, EvaluatorError, yaml.YAMLError) as e:
        return _invalid_spec(e)

    spark = get_spark(app_name="fsv-validate")
    spark.sparkContext.setLogLevel("WARN")
    try:
        df = _load(spark, args.table)
        tables = {
            name: _load(spark, ref, f"--aux {name}") for name, ref in aux.items()
        }
    except UsageError as e:
        print(str(e), file=sys.stderr)
        return 2

    engine = ValidationEngine(subject_col=args.subject)
    try:
        result = engine.validate(df, rules, tables)
    except RuleSetError as e:
        return _invalid_spec(e)
    except AnalysisException as e:
        # a rule naming a column the input does not have
        print(
            f"❗️ The provided schema is invalid: {_first_line(e)}", file=sys.stderr
        )
        return 127

    if args.output:
        result.sorted_violations().write.mode("overwrite").parquet(args.output)

    if args.group:
        result.summary(args.group).show(truncate=False)

    if args.verbose:
        metrics = result.scan_metrics()
        if metrics:
            print(f"Inspected {metrics.get('rows_scanned', 0)} rows.")
            print()

    if args.show_valid:
        for row in result.ok_subjects().limit(args.max_print).collect():
            print(f"✅ {row.subject}")

    if result.okay():
        if args.verbose:
            print("all rules passed")
    else:
        print()
        for row in result.grouped_by_subject().limit(args.max_print).collect():
            print(f"❗️ {row.subject}")
            for reason in row.reasons:
                print(f"     - {reason}")
    return result.exit_code()


def cmd_profile(args: argparse.Namespace) -> int:
    if not args.table:
        print("missing --table (or $VALIDATION_ROOT_DIR)", file=sys.stderr)
        return 2
    from ..operators.profile import table_profile

    spark = get_spark(app_name="fsv-profile")
    spark.sparkContext.setLogLevel("WARN")
    try:
        df = _load(spark, args.table)
    except UsageError as e:
        print(str(e), file=sys.stderr)
        return 2
    cols = args.columns.split(",") if args.columns else None
    for row in table_profile(df, cols, exact=args.exact).collect():
        print(
            f"{row.col_name}: rows={row.n_rows} nulls={row.n_nulls} "
            f"distinct={row.n_distinct} min={row.min_value} max={row.max_value}"
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "validate":
        return cmd_validate(args)
    if args.command == "profile":
        return cmd_profile(args)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
