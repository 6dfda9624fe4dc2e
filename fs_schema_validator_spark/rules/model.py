"""Typed rule catalog — the engine's analog of the reference's Validator union.

The reference's validators are per-file probes (json/image/gltf/file/zip,
/root/reference/fs_schema_validator/__init__.py:25-28). Re-expressed over a
table, rules split into two physical families:

* **Row rules** — compile to Column expressions evaluated in ONE scan pass
  (fused into a single select; no shuffle). ``ColumnSpecRule``,
  ``RowSpecRule``, ``ExprRule``, ``NotEmptyRule``.
* **Table rules** — need a join or aggregation (dimension lookups,
  anti-joins, duplicate detection, drift). ``UniqueRule``,
  ``ReferentialRule``, ``CompletenessRule``, ``TokenRangeRule``,
  ``ArrayEqualityRule``, ``DriftRule``, ``StatsThresholdRule``. Most build
  their own small violations DataFrame, unioned with the row-rule
  violations; ``TokenRangeRule`` and ``ReferentialRule`` join a broadcast
  dimension lookup onto the fused scan and are checked there, per row.

Every rule carries ``rule_id`` (stable name) and receives a ``seq`` ordinal
in schema declaration order — the ordering contract (violations sort by
``(subject, rule_seq)``) reproduces the reference's
declaration-order-within-path, sorted-across-paths output
(report.py:27-33, __main__.py:82).
"""

from __future__ import annotations

from dataclasses import dataclass

from .spec import Spec


@dataclass(frozen=True)
class RuleBase:
    rule_id: str
    seq: int


@dataclass(frozen=True)
class ColumnSpecRule(RuleBase):
    """Apply a value-constraint spec tree to one column; paths root at the
    column name (e.g. ``tokens.3``)."""

    column: str
    spec: Spec


@dataclass(frozen=True)
class RowSpecRule(RuleBase):
    """Apply an ObjectSpec to the whole row; paths root at ``""`` so reasons
    render exactly like the reference's root JSON document checks."""

    spec: Spec


@dataclass(frozen=True)
class ExprRule(RuleBase):
    """Free-form SQL assertion with a SQL-rendered reason.

    ``assert_sql`` is a boolean SQL expression that must hold;
    ``reason_sql`` is a string SQL expression rendered for violating rows;
    without one (or where it renders null) the reason is the static
    "assertion failed: {rule_id}".
    """

    assert_sql: str
    reason_sql: str | None = None


@dataclass(frozen=True)
class JsonSpecRule(RuleBase):
    """Apply a value-constraint spec tree to a STRING column holding a JSON
    document, with per-value strict typing via VARIANT — the direct analog
    of the reference's JsonSchema validator (schemas/json.py:240-265).
    Reasons render with reference path semantics: root errors as
    "root object: ...", nested as "`a.b`: ..."."""

    column: str
    spec: Spec


@dataclass(frozen=True)
class NotEmptyRule(RuleBase):
    """Array/string/binary column must be non-empty unless ``allow_empty``
    (reference: FileSchema size>0, schemas/file.py:19-29, reason
    "cannot be empty")."""

    column: str
    allow_empty: bool = False


@dataclass(frozen=True)
class UniqueRule(RuleBase):
    """Key uniqueness (north-rule addition; no file analog). Exact duplicate
    finder via groupBy(keys).count > 1; reports one violation per duplicated
    key with reason "duplicate key"."""

    keys: tuple[str, ...]

    def __post_init__(self) -> None:
        if not self.keys:
            raise ValueError("unique requires at least one key column")


@dataclass(frozen=True)
class ReferentialRule(RuleBase):
    """Every value of ``column`` must exist in ``dim[dim_key]``; a null
    value never does. Reason: "unknown {column}"; a ``column`` absent from
    the table fails every subject with "`{column}`: does not exist".

    Physical strategy: checked inside the fused row scan. The dim's
    distinct keys are always broadcast (``F.broadcast``, whatever the
    dim's size) and left-joined onto the scan, shared with any other
    lifted rule reading the same ``(dim, dim_key)`` on the same column;
    a row whose key finds no match gets the violation."""

    column: str
    dim: str
    dim_key: str


@dataclass(frozen=True)
class CompletenessRule(RuleBase):
    """Every key in ``manifest[key]`` must exist in the subject table —
    the Spark analog of the reference's expanded-path existence probe
    (utils.py:6-11). Reason: "does not exist"."""

    manifest: str
    key: str


@dataclass(frozen=True)
class TokenRangeRule(RuleBase):
    """Every element of ``column`` must lie in ``[0, vocab)`` where vocab
    comes from a broadcast dimension keyed by ``group_col`` — the analog of
    declared-format-vs-content verification (schemas/image.py:54-74).
    Reason: "token out of range for {group} at index {j}"."""

    column: str
    group_col: str
    dim: str
    dim_key: str
    vocab_col: str


@dataclass(frozen=True)
class ArrayEqualityRule(RuleBase):
    """Element-wise equality of ``column`` against a reference table's array
    (the per-row token-array invariant; checksum analog of zip CRC,
    schemas/zip.py:19-32). Reason: "token mismatch at index {j}"."""

    column: str
    reference: str
    key: str
    ref_column: str


@dataclass(frozen=True)
class DriftRule(RuleBase):
    """Distribution drift of ``column`` per ``group_col`` vs a reference
    histogram table (north-rule addition). ``metric`` is "psi" (population
    stability index) or "ks" (bucketed two-sample Kolmogorov–Smirnov D),
    over ``buckets`` >= 1 equal-width buckets of ``[lo, hi)``, lo < hi.
    Violation per drifted group."""

    column: str
    group_col: str
    ref: str
    buckets: int = 16
    lo: float = 0.0
    hi: float = 1.0
    threshold: float = 0.2
    metric: str = "psi"

    def __post_init__(self) -> None:
        if self.metric not in ("psi", "ks"):
            raise ValueError(f"drift metric must be psi or ks, got {self.metric!r}")
        if self.buckets < 1:
            raise ValueError(f"drift buckets must be >= 1, got {self.buckets}")
        if not self.lo < self.hi:
            raise ValueError(f"drift needs lo < hi, got lo={self.lo} hi={self.hi}")


@dataclass(frozen=True)
class StatsThresholdRule(RuleBase):
    """Single-pass per-group stats screen: assert a SQL predicate over
    aggregated stats of a column (count/min/max/avg/stddev/approx distinct).
    """

    column: str
    group_col: str
    assert_sql: str


ROW_RULE_TYPES = (ColumnSpecRule, RowSpecRule, JsonSpecRule, ExprRule, NotEmptyRule)
