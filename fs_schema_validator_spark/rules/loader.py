"""Two-phase YAML rule-spec loader: untyped → gate → expand → typed.

Reproduces the reference's schema compilation pipeline
(/root/reference/fs_schema_validator/__init__.py:46-69):

1. ``yaml.safe_load`` → untyped dicts (``schema:`` list + ``bindings:`` map).
2. Type the bindings: 2-int list → RangeVal, string list → EnumVal,
   plain string → Str; caller-supplied overrides win (right-biased merge,
   the CLI ``-b`` analog: __init__.py:56).
3. Evaluate each rule's ``if:`` guard against the bindings; drop rules whose
   guard is false and strip the key (constant folding before expansion:
   __init__.py:144-155).
4. Expand every string field (recursively through nested dicts via a
   YAML-roundtrip, which must stay single-variant) with
   ``leave_unbound_vars_in=True``, and take the Cartesian product across
   fields (__init__.py:120-141). ``{{...}}`` escapes survive as literals —
   regexes with counted quantifiers are written ``\\d{{8}}``.
5. Decode each concrete dict into its kind's rule class (``spec.decode``,
   the spec trees' decoder too), assigning ``seq`` ordinals in
   declaration/expansion order (the ordering contract).
"""

from __future__ import annotations

import itertools
import re
from io import StringIO
from typing import Any, Iterator, Mapping

import yaml

from .. import evaluator
from ..evaluator import Bindings, EnumVal, RangeVal, Str, UnboundSymbolError
from . import model as Mdl
from .spec import SpecError, decode


class RuleSetError(ValueError):
    """Raised when a rule-spec document is invalid."""


def type_bindings(raw: Mapping[str, Any]) -> Bindings:
    """Type untyped binding values: [int,int]→range, [str,...]→enum, str→str."""
    out: Bindings = {}
    for name, v in raw.items():
        if isinstance(v, str):
            out[name] = Str(v)
        elif (
            isinstance(v, (list, tuple))
            and len(v) == 2
            and all(isinstance(x, int) and not isinstance(x, bool) for x in v)
        ):
            out[name] = RangeVal(v[0], v[1])
        elif isinstance(v, (list, tuple, set)) and all(isinstance(x, str) for x in v):
            out[name] = EnumVal(v)
        else:
            raise RuleSetError(
                f"binding `{name}` must be a string, [int, int] range, or list of strings"
            )
    return out


def _filter_by_guards(
    rules: list[dict[str, Any]], bindings: Bindings
) -> Iterator[dict[str, Any]]:
    for rule in rules:
        if "if" in rule:
            guard = rule.pop("if")
            if evaluator.evaluate(guard, bindings) is not True:
                continue
        yield rule


def _expand_value(
    value: Any, bindings: Bindings, unbound: set | None = None
) -> list[Any]:
    """Expand one field value; non-strings roundtrip through YAML text so
    nested specs see the same template semantics (single-variant only).
    `unbound` collects names of holes left in for the second pass."""
    if isinstance(value, str):
        return list(
            evaluator.expand(
                value, bindings, leave_unbound_vars_in=True, unbound=unbound
            )
        )
    if isinstance(value, (int, float, bool)) or value is None:
        return [value]
    text = yaml.safe_dump(value)
    expanded = list(
        evaluator.expand(
            text, bindings, leave_unbound_vars_in=True, unbound=unbound
        )
    )
    if len(expanded) != 1:
        raise RuleSetError(
            "a nested rule field cannot expand to more than one variant"
        )
    return [yaml.safe_load(StringIO(expanded[0]))]


def _contains_hole(value: Any) -> bool:
    if isinstance(value, str):
        return bool(_HOLE_RE.search(value))
    if isinstance(value, Mapping):
        return any(_contains_hole(v) for v in value.values())
    if isinstance(value, list):
        return any(_contains_hole(v) for v in value)
    return False


def _had_escape(value: Any) -> bool:
    if isinstance(value, str):
        return "{{" in value
    if isinstance(value, Mapping):
        return any(_had_escape(v) for v in value.values())
    if isinstance(value, list):
        return any(_had_escape(v) for v in value)
    return False


def _expand_rule(
    rule: dict[str, Any], bindings: Bindings
) -> Iterator[tuple[dict[str, Any], frozenset]]:
    """Yield (expanded rule dict, keys that still hold unresolved holes).

    A key is "open" (needs the phase-2 pass) when phase 1 reported an
    unbound hole in it, OR when its expanded value contains hole-shaped
    text that did NOT come from a ``{{...}}`` escape in the raw field —
    i.e. hole text injected through a bound binding VALUE (bindings:
    {tpl: "bad {$x}"} + reason: "{$tpl}") still gets resolved-or-rejected
    in phase 2 rather than silently shipping as literal rule text."""
    pools = []
    open_keys = set()
    for key, value in rule.items():
        unbound: set = set()
        expanded = _expand_value(value, bindings, unbound)
        pools.append([(key, v) for v in expanded])
        if unbound or (
            not _had_escape(value) and any(_contains_hole(v) for v in expanded)
        ):
            open_keys.add(key)
    frozen = frozenset(open_keys)
    return ((dict(combo), frozen) for combo in itertools.product(*pools))


# a leftover unbound hole, exactly as Hole.__str__ re-renders it in phase 1;
# the symbol grammar MIRRORS the evaluator's (parser.py _SYMBOL:
# [a-zA-Z][a-zA-Z\-_0-9]+ — hyphens allowed, min length 2) so a hyphenated
# binding like {$my-var} cannot slip through phase 2 unresolved
_HOLE_RE = re.compile(r"\{\$([a-zA-Z][a-zA-Z\-_0-9]+)(?::([^}]*))?\}")


def _resolve_inner(value: Any, bindings: Bindings, where: str) -> Any:
    """Phase-2 resolution of leftover ``{$name}`` holes (recursing through
    nested dicts/lists, e.g. specs). Substitutes via the evaluator's own
    Hole semantics (format specs, sorted enums); unlike phase 1, a hole
    that stays unbound is a HARD error — a misspelled binding must not
    survive into a compiled rule as literal text (a `{$nmae}` inside a
    regex would validate garbage). Strings without holes pass through
    untouched, so phase-1 ``{{...}}`` unescapes are never re-parsed."""
    if isinstance(value, str):
        from ..evaluator.values import BindingRef, Hole

        def sub(mt: re.Match) -> str:
            name, fmt = mt.group(1), mt.group(2)
            try:
                variants = list(
                    Hole(BindingRef(name), fmt).expand(bindings, False)
                )
            except UnboundSymbolError:
                raise RuleSetError(
                    f"binding `${name}` in {where} is still unbound after "
                    "schema-level and rule-level (inner_bindings) expansion"
                ) from None
            if len(variants) != 1:
                raise RuleSetError(
                    f"inner binding `${name}` in {where} must expand to "
                    "exactly one variant (reference: _expand_path asserts "
                    "single-variant in the second pass)"
                )
            return variants[0]

        return _HOLE_RE.sub(sub, value)
    if isinstance(value, Mapping):
        return {
            k: _resolve_inner(v, bindings, f"{where}.{k}")
            for k, v in value.items()
        }
    if isinstance(value, list):
        return [_resolve_inner(v, bindings, where) for v in value]
    return value


def _apply_inner_bindings(
    raw: dict[str, Any], seq: int, open_keys: frozenset
) -> dict[str, Any]:
    """Second expansion phase (reference: schema-level expansion leaves
    ``$inner`` holes in, then each validator resolves its own
    ``inner_bindings()`` — __init__.py:94-103,135, schemas/image.py:33-36).

    Rule-level bindings come from (a) an explicit ``inner_bindings:``
    mapping on the rule and (b) the rule's own hole-free scalar string
    fields (``column``, ``id``, …), the engine analog of a validator
    exposing its typed fields — so ``reason: "bad {$column}"`` works
    without declaring anything. Any hole neither phase binds raises
    RuleSetError.

    Only fields in `open_keys` — those phase 1 REPORTED as containing a
    genuinely unbound hole — are touched: literal ``{$x}`` text produced
    by the ``{{...}}`` escape is indistinguishable from a hole in the
    rendered string, so phase-1's collector is the source of truth and
    escaped text passes through untouched. (A field containing BOTH an
    unbound hole and escaped ``{{$y}}`` text is the one remaining
    ambiguity; declare such literals via a binding instead.)"""
    raw = dict(raw)
    inner = type_bindings(raw.pop("inner_bindings", None) or {})
    if not open_keys:
        return raw
    for k, v in raw.items():
        if isinstance(v, str) and k not in open_keys:
            inner.setdefault(k, Str(v))
    return {
        k: (
            _resolve_inner(v, inner, f"rule #{seq} field `{k}`")
            if k in open_keys
            else v
        )
        for k, v in raw.items()
    }


_RULE_KINDS: dict[str, type] = {
    "column_spec": Mdl.ColumnSpecRule,
    "row_spec": Mdl.RowSpecRule,
    "json_spec": Mdl.JsonSpecRule,
    "expr": Mdl.ExprRule,
    "not_empty": Mdl.NotEmptyRule,
    "unique": Mdl.UniqueRule,
    "referential": Mdl.ReferentialRule,
    "completeness": Mdl.CompletenessRule,
    "token_range": Mdl.TokenRangeRule,
    "array_equality": Mdl.ArrayEqualityRule,
    "drift_psi": Mdl.DriftRule,
    "stats_threshold": Mdl.StatsThresholdRule,
}

# YAML key -> rule field, where the two differ; the field names themselves
# (and `seq`, the declaration ordinal) are not YAML keys
_RENAMED = {"id": "rule_id", "assert": "assert_sql", "reason": "reason_sql"}


def _build_rule(raw: Mapping[str, Any], seq: int) -> Mdl.RuleBase:
    kind = raw.get("type")
    if kind is None:
        raise RuleSetError(f"rule #{seq} is missing required key `type`")
    cls = _RULE_KINDS.get(kind)
    if cls is None:
        raise RuleSetError(f"unknown rule type `{kind}`")
    what = f"`{kind}` rule (seq {seq})"
    reserved = {"seq", *_RENAMED.values()} & raw.keys()
    if reserved:
        raise RuleSetError(f"invalid {what}: unknown keys {sorted(reserved)}")
    fields = {_RENAMED.get(k, k): v for k, v in raw.items() if k != "type"}
    fields["rule_id"] = fields.get("rule_id") or f"r{seq:03d}.{kind}"
    fields["seq"] = seq
    if cls is Mdl.ArrayEqualityRule:
        fields.setdefault("ref_column", fields.get("column"))
    try:
        return decode(cls, fields, what)
    except SpecError as ex:
        raise RuleSetError(str(ex)) from ex


class RuleSet:
    """An ordered, fully-expanded list of typed rules."""

    def __init__(self, rules: list[Mdl.RuleBase]):
        self.rules = rules

    @classmethod
    def from_yaml(
        cls, text: str, extra_bindings: Bindings | None = None
    ) -> "RuleSet":
        doc = yaml.safe_load(text)
        if not isinstance(doc, Mapping) or "schema" not in doc:
            raise RuleSetError("rule spec must be a mapping with a `schema` list")
        raw_rules = doc["schema"] or []
        bindings = {
            **type_bindings(doc.get("bindings") or {}),
            **(extra_bindings or {}),
        }
        gated = list(_filter_by_guards([dict(r) for r in raw_rules], bindings))
        expanded = list(
            itertools.chain.from_iterable(_expand_rule(r, bindings) for r in gated)
        )
        return cls(
            [
                _build_rule(_apply_inner_bindings(raw, seq, open_keys), seq)
                for seq, (raw, open_keys) in enumerate(expanded)
            ]
        )

    @property
    def row_rules(self) -> list[Mdl.RuleBase]:
        return [r for r in self.rules if isinstance(r, Mdl.ROW_RULE_TYPES)]

    @property
    def table_rules(self) -> list[Mdl.RuleBase]:
        return [r for r in self.rules if not isinstance(r, Mdl.ROW_RULE_TYPES)]

    def __len__(self) -> int:
        return len(self.rules)

    def __iter__(self):
        return iter(self.rules)
