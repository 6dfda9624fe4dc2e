"""Assemble rules into distributed violation plans.

Physical strategy (designed for the 10^12-row table, tested at sf*):

* All row rules fuse into ONE narrow projection over the scan — a single
  ``select`` building per-rule violation arrays, flattened and exploded.
  No shuffle; Parquet reader prunes to the columns the rules actually
  reference. The projection's ``transform``/``filter`` lambdas are
  ``CodegenFallback``, so it runs interpreted, outside whole-stage codegen.
* Table rules each contribute a small violations DataFrame:
  - uniqueness: groupBy(keys) with map-side partial counts (2-phase agg —
    the realized version of the reference's dead map/reduce seam,
    report.py:44-48);
  - token-range and referential are LIFTED into the fused scan: each
    dimension joins the scan once as a broadcast lookup of its distinct
    keys (rules reading the same ``(dim, dim_key)`` on the same column
    share it), and a rule's violation is one more element of the row's
    violation array — an out-of-range index found by JVM-side higher-order
    functions (transform/filter), or "unknown <column>" where the lookup
    finds no key. No job of their own;
  - completeness: a ``left_anti`` join of the small manifest against the
    distinct subject keys;
  - array-equality: a hash screen over the cached projection yields the
    flagged keys, cached and counted; one hint-free plan filters both
    array scans by that key set (Spark picks each join from its measured
    size: a broadcast below ``spark.sql.autoBroadcastJoinThreshold``, a
    shuffle above) and finds the first mismatching index of the flagged
    keys' arrays as a native expression (``first_mismatch_index``) — no
    Python;
  - drift: one bucketed-histogram aggregation over the cached projection,
    collected with the reference mass in one job; PSI or KS is finished on
    the driver (``functions.sketches.drift``) and comes back as literal
    rows, so the rule adds no shuffle to the violation relation.
* Violation outputs union by name into the canonical schema
  ``(subject string, rule_id string, rule_seq int, reason string)``.
* The union is materialised once, by ``engine.ValidationResult``: its
  persist-and-count job also latches the scan metrics, observed on the
  row-explode read of the cached projection. After that job nothing reads
  the projection or the equality key sets, so ``release()`` frees them.

Ordering contract: consumers sort by ``(subject, rule_seq)`` — declaration
order within a subject, sorted across subjects (reference report.py:27-33).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..rules import model as Mdl
from ..rules.loader import RuleSet, RuleSetError
from . import messages as M
from .columns import compile_checker, json_column_violations, render_reason

VIOLATION_SCHEMA = "subject string, rule_id string, rule_seq int, reason string"

# Per-row violation element carried through the fused scan.
_ROW_ERR_TYPE = "array<struct<rule_seq:int,rule_id:string,reason:string>>"

# Table rules checked inside the fused scan, as row rules are.
_LIFTED = (Mdl.TokenRangeRule, Mdl.ReferentialRule)


def key_string(col: str | Column) -> Column:
    """A subject or partition key (a column name or expression) as a
    string, nulls rendered '<null>' — on every surface, so a null key never
    falls out of a join or an ``isin`` filter (misattributed, never
    validated, or reported OK)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("string"), F.lit("<null>"))


def _columns_read(rule: Mdl.RuleBase) -> tuple[str, ...]:
    """The input columns a table rule cannot run without. A referential
    rule's column is not among them: its absence is a per-subject
    violation, as for the row rules."""
    if isinstance(rule, Mdl.UniqueRule):
        return rule.keys
    if isinstance(rule, Mdl.ArrayEqualityRule):
        return (rule.key, rule.column)
    if isinstance(rule, (Mdl.TokenRangeRule, Mdl.DriftRule, Mdl.StatsThresholdRule)):
        return (rule.column, rule.group_col)
    return ()


def _no_errs() -> Column:
    return F.array().cast(_ROW_ERR_TYPE)


def _err_elem(rule: Mdl.RuleBase, reason: Column) -> Column:
    """One violation element: struct<rule_seq, rule_id, reason>."""
    return F.struct(
        F.lit(rule.seq).alias("rule_seq"),
        F.lit(rule.rule_id).alias("rule_id"),
        reason.alias("reason"),
    )


def _rule_errs(rule: Mdl.RuleBase, reason: Column, cond: Column | None = None) -> Column:
    """One violation element (as a 1-element array) gated on `cond`."""
    arr = F.array(_err_elem(rule, reason))
    if cond is None:
        return arr
    return F.when(cond, arr).otherwise(_no_errs())


def _checker_errs(rule: Mdl.RuleBase, errs: Column) -> Column:
    """A spec checker's array<struct<path,msg>> as violation elements."""
    return F.transform(
        errs,
        lambda e: _err_elem(
            rule, render_reason(e.getField("path"), e.getField("msg"))
        ),
    )


def _missing_column(rule: Mdl.RuleBase) -> Column:
    """Column absent from the table: every subject fails existence (the
    reference's missing-file reason, report.py:24-25) instead of a crash."""
    return _rule_errs(rule, F.lit(f"`{rule.column}`: does not exist"))


def _compile_row_rule(rule: Mdl.RuleBase, schema: T.StructType) -> Column:
    """Compile one row rule to an array<struct<rule_seq,rule_id,reason>>."""
    if isinstance(rule, Mdl.ColumnSpecRule):
        if rule.column not in schema.names:
            return _missing_column(rule)
        dtype = schema[rule.column].dataType
        checker = compile_checker(rule.spec, dtype)
        return _checker_errs(rule, checker(F.col(rule.column), F.lit(rule.column)))
    if isinstance(rule, Mdl.JsonSpecRule):
        if rule.column not in schema.names:
            return _missing_column(rule)
        return _checker_errs(
            rule, json_column_violations(F.col(rule.column), rule.spec)
        )
    if isinstance(rule, Mdl.RowSpecRule):
        checker = compile_checker(rule.spec, schema)
        row = F.struct(*[F.col(n) for n in schema.names])
        return _checker_errs(rule, checker(row, F.lit("")))
    if isinstance(rule, Mdl.ExprRule):
        ok = F.expr(rule.assert_sql)
        # No reason, or a null one (its SQL hit a null input), falls back
        # to a static message; a null assertion result counts as a
        # violation (three-valued logic must not let nulls slip through a
        # validator).
        reason = F.lit(f"assertion failed: {rule.rule_id}")
        if rule.reason_sql is not None:
            reason = F.coalesce(F.expr(rule.reason_sql).cast("string"), reason)
        return _rule_errs(rule, reason, ~F.coalesce(ok, F.lit(False)))
    if isinstance(rule, Mdl.NotEmptyRule):
        if rule.allow_empty:
            return _no_errs()
        if rule.column not in schema.names:
            return _missing_column(rule)
        col = F.col(rule.column)
        dtype = schema[rule.column].dataType
        if isinstance(dtype, (T.ArrayType, T.MapType)):
            is_empty = F.size(col) == 0
        else:
            is_empty = F.length(col) == 0
        reason = F.lit(f"`{rule.column}`: cannot be empty")
        return _rule_errs(rule, reason, col.isNotNull() & is_empty)
    raise RuleSetError(f"not a row rule: {rule}")


def row_violation_array(
    rules: Sequence[Mdl.RuleBase], schema: T.StructType, extra: Sequence[Column]
) -> Column:
    """Every row rule's violations for one row, as ONE
    array<struct<rule_seq,rule_id,reason>> — a stateless expression,
    evaluated in the fused scan's one projection. `extra` appends further
    per-row violation arrays (the fused scan's lifted token-range and
    referential checks)."""
    arrays = [_compile_row_rule(r, schema) for r in rules]
    arrays.extend(extra)
    return F.flatten(F.array(*arrays)) if arrays else _no_errs()


def _violation_rows(
    df: DataFrame, subject: Column, rule: Mdl.RuleBase, reason: Column
) -> DataFrame:
    """A table rule's output in the canonical VIOLATION_SCHEMA; a null
    subject renders '<null>' (key_string), as on every other surface."""
    return df.select(
        key_string(subject).alias("subject"),
        F.lit(rule.rule_id).alias("rule_id"),
        F.lit(rule.seq).alias("rule_seq"),
        reason.alias("reason"),
    )


def first_mismatch_index(a: Column, b: Column) -> Column:
    """First index where arrays `a` and `b` differ, -1 where equal.

    Elements compare null-safely and in their own type, so a null element
    equals only a null and 2^53 differs from 2^53 + 1. A length mismatch
    past a common prefix reports ``min(size(a), size(b))``, the first
    position one side lacks; a null array reads as empty. Native
    higher-order functions, no Python. The arrays are zipped whole: a form
    that sliced them to the common prefix first ran ~3x slower."""
    a0, b0 = F.coalesce(a, F.array()), F.coalesce(b, F.array())
    m = F.least(F.size(a0), F.size(b0))
    # zip_with pads the shorter array with nulls: a hit at p - 1 >= m is
    # a padded position, which the length branch reports as m
    p = F.array_position(F.zip_with(a0, b0, lambda x, y: x.eqNullSafe(y)), False)
    return (
        F.when((p > 0) & (p - 1 < m), p - 1)
        .when(F.size(a0) != F.size(b0), m)
        .otherwise(-1)
        .cast("int")
    )


class CompiledPlan:
    """A rule set bound to a subject DataFrame and auxiliary tables."""

    def __init__(
        self,
        df: DataFrame,
        ruleset: RuleSet,
        subject_col: str,
        tables: Mapping[str, DataFrame],
    ) -> None:
        if "subject" in df.columns and subject_col != "subject":
            # "subject" is the engine's reserved output alias for the cast
            # subject key; a DIFFERENT data column by that name would be
            # silently shadowed in the fused projection (table rules over
            # it would validate the subject key instead) — fail loud.
            raise RuleSetError(
                "the input has a column named `subject` that is not the "
                "subject key; rename it (e.g. withColumnRenamed) — "
                "`subject` is the engine's reserved violations alias"
            )
        if subject_col not in df.columns:
            raise RuleSetError(f"subject column `{subject_col}` does not exist")
        for rule in ruleset.table_rules:
            for c in _columns_read(rule):
                if c not in df.columns:
                    raise RuleSetError(
                        f"rule `{rule.rule_id}` (seq {rule.seq}): column "
                        f"`{c}` does not exist"
                    )
        self.df = df
        self.ruleset = ruleset
        self.subject_col = subject_col
        self.tables = dict(tables)
        self.spark = df.sparkSession
        self._fused: DataFrame | None = None
        # other DataFrames this plan persisted (equality-screen key sets);
        # release() unpersists them with the fused projection
        self._cached: list[DataFrame] = []
        self._observation = None  # created by row_violations()

    # -- fused projection ---------------------------------------------------
    #
    # THE scan-count lever. The wide token/array columns dominate scan cost
    # (parquet decode of the tokens column saturates local memory bandwidth
    # long before CPUs do), so the plan touches them exactly ONCE:
    #
    #   * every row rule's violation array,
    #   * token-range and referential rules LIFTED into the row pass (each
    #     dim's key lookup broadcast-joined onto the scan instead of a
    #     separate join job),
    #   * the equality rules' screen hashes xxhash64(arr)/size(arr),
    #   * the scalar columns the remaining table rules group/join on,
    #
    # all computed in one projection over one scan, persisted as a NARROW
    # table (subject + a few scalars + mostly-empty violation arrays —
    # ~1/20th of the input width). Every table rule then reads the cached
    # projection; the only second touch of an array column is the equality
    # diagnosis re-fetch, which reads only hash-mismatched keys.

    def _lifted_rules(self) -> list[Mdl.TokenRangeRule | Mdl.ReferentialRule]:
        return [r for r in self.ruleset.table_rules if isinstance(r, _LIFTED)]

    def _equality_rules(self) -> list[Mdl.ArrayEqualityRule]:
        return [
            r for r in self.ruleset.table_rules if isinstance(r, Mdl.ArrayEqualityRule)
        ]

    def _scalar_cols_needed(self) -> list[str]:
        cols: set[str] = {self.subject_col}
        for r in self.ruleset.table_rules:
            if isinstance(r, Mdl.UniqueRule):
                cols.update(r.keys)
            elif isinstance(r, (Mdl.DriftRule, Mdl.StatsThresholdRule)):
                cols.update((r.column, r.group_col))
            elif isinstance(r, Mdl.ArrayEqualityRule):
                cols.add(r.key)
        # "subject" is the reserved alias of the cast subject key
        cols.discard("subject")
        return sorted(cols)

    def _lifted_token_range(self, rule: Mdl.TokenRangeRule) -> Column:
        """Token-range check as a row-scan violation array (vocab column is
        broadcast-joined onto the scan as _vocab_{seq}).

        Screen-then-detail: the native array_min/array_max bounds test (no
        interpreted lambda, ~7x cheaper) decides whether the row can violate
        at all; the index-bearing transform runs only on flagged rows. An
        empty array or an unknown group (null vocab) screens to null —
        nothing in range to violate — matching the join-based semantics."""
        vocab = f"_vocab_{rule.seq}"
        screen = F.coalesce(
            (F.array_min(F.col(rule.column)) < 0)
            | (F.array_max(F.col(rule.column)) >= F.col(vocab)),
            F.lit(False),
        )
        bad_idx = F.expr(
            f"array_min(filter(transform({rule.column}, (x, i) -> "
            f"IF(x < 0 OR x >= {vocab}, i, NULL)), v -> v IS NOT NULL))"
        )
        reason = F.format_string(
            "token out of range for %s at index %d",
            F.col(rule.group_col),
            bad_idx,
        )
        return F.when(screen, _rule_errs(rule, reason, bad_idx.isNotNull())).otherwise(
            _no_errs()
        )

    def _lifted_referential(self, rule: Mdl.ReferentialRule) -> Column:
        """Referential check as a row-scan violation array: the lookup's
        ``_known_{seq}`` marker is null where no dim key matched. A null
        key matches nothing, so it is unknown too."""
        if rule.column not in self.df.columns:
            return _missing_column(rule)
        return _rule_errs(
            rule,
            F.lit(f"unknown {rule.column}"),
            F.col(f"_known_{rule.seq}").isNull(),
        )

    def _lookups(self) -> dict[tuple[str, str, str], list]:
        """Lifted rules by the (dim, dim_key, scan column) lookup they read.
        A referential rule over an absent column reads none: it reports
        'does not exist' per subject."""
        out: dict[tuple[str, str, str], list] = {}
        for r in self._lifted_rules():
            if isinstance(r, Mdl.TokenRangeRule):
                col = r.group_col
            elif r.column in self.df.columns:
                col = r.column
            else:
                continue
            out.setdefault((r.dim, r.dim_key, col), []).append(r)
        return out

    def fused_projection(self) -> DataFrame:
        if self._fused is not None:
            return self._fused
        from pyspark.storagelevel import StorageLevel

        base = self.df
        for (dim, dim_key, col), rules in self._lookups().items():
            # one row per key, enforced: a dim with duplicate keys (a
            # versioned dim, a bad export) would MULTIPLY every matching
            # base row through the left join, double-emitting violations
            # and corrupting every other rule's counts (the max vocab
            # wins, deterministically)
            lookup = (
                self._aux(dim)
                .groupBy(F.col(dim_key).alias(col))
                .agg(
                    *[
                        F.max(r.vocab_col).alias(f"_vocab_{r.seq}")
                        if isinstance(r, Mdl.TokenRangeRule)
                        else F.lit(True).alias(f"_known_{r.seq}")
                        for r in rules
                    ]
                )
            )
            base = base.join(F.broadcast(lookup), on=col, how="left")

        viols = row_violation_array(
            self.ruleset.row_rules,
            self.df.schema,
            [
                self._lifted_token_range(r)
                if isinstance(r, Mdl.TokenRangeRule)
                else self._lifted_referential(r)
                for r in self._lifted_rules()
            ],
        )

        cols = [
            key_string(self.subject_col).alias("subject"),
            *[F.col(c) for c in self._scalar_cols_needed()],
            viols.alias("_viols"),
        ]
        for rule in self._equality_rules():
            cols.append(F.xxhash64(F.col(rule.column)).alias(f"_th_{rule.seq}"))
            cols.append(F.size(F.col(rule.column)).alias(f"_ts_{rule.seq}"))
        fused = base.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
        self._fused = fused
        return fused

    def release(self) -> None:
        if self._fused is not None:
            self._fused.unpersist()
            self._fused = None
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def observed_metrics(self) -> dict:
        """Metrics latched by the job that ran row_violations() (observe API)."""
        return dict(self._observation.get)

    # -- row rules: one fused scan ----------------------------------------

    def row_violations(self) -> DataFrame:
        """Row-rule violations, exploded from the fused projection.

        The scan metrics are observed here: rows scanned, and rows
        violating any rule evaluated in the row pass — the row rules and
        the lifted token-range and referential rules. They are observed on
        the read of the cached projection, so they latch in the job that
        materialises the violation relation — not in whichever query on
        the projection happens to finish first. Every rule set takes this
        path, so every validation latches them."""
        self._observation = Observation()
        return (
            self.fused_projection()
            .observe(
                self._observation,
                F.count(F.lit(1)).alias("rows_scanned"),
                F.sum((F.size("_viols") > 0).cast("long")).alias(
                    "rows_with_row_violations"
                ),
            )
            .select("subject", F.explode("_viols").alias("v"))
            .select(
                "subject",
                F.col("v.rule_id").alias("rule_id"),
                F.col("v.rule_seq").alias("rule_seq"),
                F.col("v.reason").alias("reason"),
            )
        )

    # -- table rules ------------------------------------------------------

    def _aux(self, name: str) -> DataFrame:
        if name not in self.tables:
            raise RuleSetError(f"rule references unknown table `{name}`")
        return self.tables[name]

    def _table_violations(self, rule: Mdl.RuleBase) -> DataFrame:
        # All scalar-column table rules read the cached narrow projection —
        # never the wide base scan (see fused_projection()).
        fused = self.fused_projection()

        if isinstance(rule, Mdl.UniqueRule):
            keys = [F.col(k) for k in rule.keys]
            dupes = (
                fused.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
            )
            # concat_ws skips nulls, so each key renders through key_string
            subject = F.concat_ws("|", *[key_string(k) for k in rule.keys])
            return _violation_rows(dupes, subject, rule, F.lit("duplicate key"))

        if isinstance(rule, Mdl.CompletenessRule):
            manifest = self._aux(rule.manifest).select(rule.key).distinct()
            present = fused.select(
                F.col(self.subject_col).alias(rule.key)
            ).distinct()
            # The manifest is the small side; the big side is reduced to its
            # distinct keys first so the anti-join shuffles keys, not rows.
            missing = manifest.join(present, on=rule.key, how="left_anti")
            return _violation_rows(
                missing, F.col(rule.key), rule, F.lit("does not exist")
            )

        if isinstance(rule, Mdl.ArrayEqualityRule):
            # Hash-screen join: shuffle (key, xxhash64(array)) — 16 bytes a
            # row — instead of the arrays themselves; re-join the arrays only
            # for keys whose hashes disagree (rare corruption). A hash match
            # on unequal arrays (p ~ 2^-64) would miss a violation; a hash
            # mismatch is always a real difference, so no false positives.
            # size() disambiguates null vs empty (xxhash64 maps both a null
            # array and some inputs to seed-derived values; size(null) is
            # null so eqNullSafe catches null-vs-empty). The subject-side
            # hashes come from the cached projection (computed in the one
            # pass over the arrays).
            lh = fused.select(
                F.col(rule.key),
                F.col(f"_th_{rule.seq}").alias("_ha"),
                F.col(f"_ts_{rule.seq}").alias("_sa"),
            )
            rh = self._aux(rule.reference).select(
                F.col(rule.key),
                F.xxhash64(F.col(rule.ref_column)).alias("_hb"),
                F.size(F.col(rule.ref_column)).alias("_sb"),
            )
            from ..functions.cache import track

            bad_keys = track(
                lh.join(rh, on=rule.key, how="inner")
                .filter(
                    ~F.col("_ha").eqNullSafe(F.col("_hb"))
                    | ~F.col("_sa").eqNullSafe(F.col("_sb"))
                )
                .select(rule.key)
                .distinct()
                .cache()
            )
            self._cached.append(bad_keys)
            n_bad = bad_keys.count()
            if n_bad == 0:
                # clean partition fast path: no array ever leaves the scan
                return self.spark.createDataFrame([], VIOLATION_SCHEMA)
            ref = self._aux(rule.reference).select(
                F.col(rule.key),
                F.col(rule.ref_column).alias("_ref_arr"),
            )
            # One plan, no join hints. The count above materialised the
            # cached key set, so the planner knows its exact size: below
            # spark.sql.autoBroadcastJoinThreshold it broadcasts the keys
            # into both array scans, so no array shuffles before the key
            # filter; above it every side shuffles. The two filtered sides
            # carry only the flagged keys' arrays, and AQE picks their join
            # from the sizes it measures at run time.
            survivors = self.df.select(F.col(rule.key), F.col(rule.column)).join(
                bad_keys, on=rule.key, how="inner"
            )
            ref_flt = ref.join(bad_keys, on=rule.key, how="inner")
            joined = survivors.join(ref_flt, on=rule.key, how="inner")
            mism = joined.select(
                F.col(rule.key),
                first_mismatch_index(
                    F.col(rule.column), F.col("_ref_arr")
                ).alias("mismatch_idx"),
            )
            # mismatch_idx == -1 here means the screen flagged a null-vs-
            # empty pair (hash/size differ) that the diagnosis — and the
            # DuckDB oracle's index arithmetic — deliberately treat as
            # EQUAL (null ≡ empty for the array invariant; nullness itself
            # is the spec/required rules' job). Dropping them is the
            # contract, not a leak.
            return _violation_rows(
                mism.filter(F.col("mismatch_idx") >= 0),
                F.col(rule.key),
                rule,
                F.format_string("token mismatch at index %d", F.col("mismatch_idx")),
            )

        if isinstance(rule, Mdl.DriftRule):
            return self._drift_violations(rule)

        if isinstance(rule, Mdl.StatsThresholdRule):
            col = F.col(rule.column)
            stats = fused.groupBy(rule.group_col).agg(
                F.count(col).alias("n"),
                F.min(col).alias("min"),
                F.max(col).alias("max"),
                F.avg(col).alias("avg"),
                F.stddev_pop(col).alias("stddev"),
                F.approx_count_distinct(col).alias("approx_distinct"),
            )
            bad = stats.filter(~F.coalesce(F.expr(rule.assert_sql), F.lit(False)))
            return _violation_rows(
                bad,
                F.col(rule.group_col),
                rule,
                F.lit(f"stats assertion failed: {rule.assert_sql}"),
            )

        raise RuleSetError(f"unknown table rule: {rule}")

    def _drift_violations(self, rule: Mdl.DriftRule) -> DataFrame:
        from ..functions.sketches import drift, histogram

        hist = histogram(
            self.fused_projection(),
            rule.column,
            rule.group_col,
            rule.lo,
            rule.hi,
            rule.buckets,
        )
        # groups render through key_string on both sides, as the
        # histogram's do, so a null group matches a null group
        ref = self._aux(rule.ref).select(
            key_string(rule.group_col).alias("grp"), F.col("bucket"), F.col("p")
        )
        stat = drift(hist, ref, rule.metric)
        label = rule.metric.upper()
        reason = F.format_string(
            f"distribution drift: {label} %.4f > %s",
            F.col("stat"),
            F.lit(M.fmt_num(rule.threshold)),
        )
        return _violation_rows(
            stat.filter(F.col("stat") > rule.threshold), F.col("grp"), rule, reason
        )

    # -- full plan --------------------------------------------------------

    def violations(self) -> DataFrame:
        """Canonical violations DataFrame from ONE pass over the wide scan.

        Row rules + lifted token-range and referential rules explode out of
        the cached fused projection; every other table rule aggregates/joins
        the same cached projection. Only the equality diagnosis re-fetch
        touches an array column a second time, and only for hash-mismatched
        keys."""
        parts = [self.row_violations()]
        parts.extend(
            self._table_violations(r)
            for r in self.ruleset.table_rules
            if not isinstance(r, _LIFTED)  # checked in the fused scan
        )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
