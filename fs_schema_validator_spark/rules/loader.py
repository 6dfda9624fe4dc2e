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
5. Parse each concrete dict into the typed rule union, assigning ``seq``
   ordinals in declaration/expansion order (the ordering contract).
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
from .spec import SpecError, parse_spec


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


_INT_FIELDS = {"buckets"}
_FLOAT_FIELDS = {"lo", "hi", "threshold"}
_BOOL_FIELDS = {"allow_empty"}


def _coerce_expanded_scalars(kwargs: dict[str, Any]) -> dict[str, Any]:
    """Template expansion stringifies everything; re-coerce numeric knobs."""
    out = dict(kwargs)
    for k, v in kwargs.items():
        if isinstance(v, str):
            try:
                if k in _INT_FIELDS:
                    out[k] = int(v)
                elif k in _FLOAT_FIELDS:
                    out[k] = float(v)
                elif k in _BOOL_FIELDS:
                    out[k] = v.lower() in ("1", "true", "yes")
            except ValueError as ex:
                raise SpecError(f"cannot coerce `{k}`={v!r} to a number") from ex
    return out


def _build_rule(raw: Mapping[str, Any], seq: int) -> Mdl.Rule:
    kind = raw.get("type")
    if kind is None:
        raise RuleSetError(f"rule #{seq} is missing required key `type`")
    kwargs = {k: v for k, v in raw.items() if k != "type"}
    rule_id = kwargs.pop("id", None) or f"r{seq:03d}.{kind}"

    try:
        kwargs = _coerce_expanded_scalars(kwargs)
        if kind == "column_spec":
            return Mdl.ColumnSpecRule(
                rule_id, seq, column=kwargs.pop("column"), spec=parse_spec(kwargs.pop("spec")), **kwargs
            )
        if kind == "row_spec":
            return Mdl.RowSpecRule(rule_id, seq, spec=parse_spec(kwargs.pop("spec")), **kwargs)
        if kind == "json_spec":
            return Mdl.JsonSpecRule(
                rule_id, seq, column=kwargs.pop("column"), spec=parse_spec(kwargs.pop("spec")), **kwargs
            )
        if kind == "expr":
            return Mdl.ExprRule(
                rule_id,
                seq,
                assert_sql=kwargs.pop("assert"),
                reason_sql=kwargs.pop("reason", f"'assertion failed: {rule_id}'"),
                **kwargs,
            )
        if kind == "not_empty":
            return Mdl.NotEmptyRule(rule_id, seq, **kwargs)
        if kind == "unique":
            keys = kwargs.pop("keys")
            if isinstance(keys, str):
                keys = [keys]
            return Mdl.UniqueRule(rule_id, seq, keys=tuple(keys), **kwargs)
        if kind == "referential":
            return Mdl.ReferentialRule(rule_id, seq, **kwargs)
        if kind == "completeness":
            return Mdl.CompletenessRule(rule_id, seq, **kwargs)
        if kind == "token_range":
            return Mdl.TokenRangeRule(rule_id, seq, **kwargs)
        if kind == "array_equality":
            kwargs.setdefault("ref_column", kwargs.get("column"))
            return Mdl.ArrayEqualityRule(rule_id, seq, **kwargs)
        if kind == "drift_psi":
            return Mdl.DriftRule(rule_id, seq, **kwargs)
        if kind == "stats_threshold":
            return Mdl.StatsThresholdRule(
                rule_id, seq, assert_sql=kwargs.pop("assert"), **kwargs
            )
    except (TypeError, KeyError, SpecError) as ex:
        raise RuleSetError(f"invalid `{kind}` rule (seq {seq}): {ex}") from ex
    raise RuleSetError(f"unknown rule type `{kind}`")


class RuleSet:
    """An ordered, fully-expanded list of typed rules."""

    def __init__(self, rules: list[Mdl.Rule]):
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
    def row_rules(self) -> list[Mdl.Rule]:
        return [r for r in self.rules if isinstance(r, Mdl.ROW_RULE_TYPES)]

    @property
    def table_rules(self) -> list[Mdl.Rule]:
        return [r for r in self.rules if not isinstance(r, Mdl.ROW_RULE_TYPES)]

    def __len__(self) -> int:
        return len(self.rules)

    def __iter__(self):
        return iter(self.rules)
