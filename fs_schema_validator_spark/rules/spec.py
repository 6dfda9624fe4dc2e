"""Value-constraint spec tree — the engine's column-level type system.

This is the analog of the reference's recursive JSON spec AST
(/root/reference/fs_schema_validator/schemas/json.py:22-222): a typed,
recursive constraint language over values. Here the subjects are Spark
columns (possibly nested structs/arrays/maps) instead of JSON documents, and
the tree compiles to Spark SQL ``Column`` expressions (see
``fs_schema_validator_spark.compiler.columns``), never per-row Python.

Strictness contract: a value must be of *exactly* the declared kind — the
compiler compares the column's declared Spark ``DataType`` at compile time
and never inserts casts (reference pins this via StrictInt/StrictStr/...:
schemas/json.py:12-15; "1" is not an int, 1 is not a bool).

Spec dicts use a ``type`` discriminator with the same aliases the reference
accepts (bool/boolean, int/integer, str/string, array/list,
fixed_array/tuple) and reject unknown keys (``extra="forbid"`` analog).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, fields
from typing import Any, Mapping, Union, get_args, get_origin, get_type_hints

Number = Union[int, float]


class SpecError(ValueError):
    """Raised when a spec dict cannot be parsed into a valid spec tree."""


@dataclass(frozen=True)
class BoolSpec:
    nullable: bool = False

    kind = "bool"
    type_name = "boolean"  # as rendered in "Input should be a valid {type_name}"


@dataclass(frozen=True)
class IntSpec:
    min: int | None = None
    exclusive_min: int | None = None
    max: int | None = None
    exclusive_max: int | None = None
    multiple_of: int | None = None
    nullable: bool = False

    kind = "int"
    type_name = "integer"


@dataclass(frozen=True)
class FloatSpec:
    min: Number | None = None
    exclusive_min: Number | None = None
    max: Number | None = None
    exclusive_max: Number | None = None
    multiple_of: Number | None = None
    nullable: bool = False

    kind = "float"
    type_name = "number"


@dataclass(frozen=True)
class StrSpec:
    min_length: int | None = None
    max_length: int | None = None
    regex: str | None = None
    nullable: bool = False

    kind = "str"
    type_name = "string"


@dataclass(frozen=True)
class ArraySpec:
    items: "Spec"
    min_items: int | None = None
    max_items: int | None = None
    nullable: bool = False

    kind = "array"
    type_name = "array"


@dataclass(frozen=True)
class FixedArraySpec:
    items: tuple["Spec", ...]
    nullable: bool = False

    kind = "fixed_array"
    type_name = "tuple"

    def __post_init__(self) -> None:
        if len(self.items) < 1:
            raise SpecError("fixed_array requires at least one item spec")


@dataclass(frozen=True)
class ObjectSpec:
    attrs: tuple[tuple[str, "Spec"], ...]  # ordered (name, spec) pairs
    nullable: bool = False

    kind = "object"
    type_name = "dictionary"


@dataclass(frozen=True)
class DictSpec:
    keys: "Spec"
    values: "Spec"
    nullable: bool = False

    kind = "dict"
    type_name = "dictionary"


@dataclass(frozen=True)
class EnumSpec:
    variants: tuple["Spec", ...]
    nullable: bool = False

    kind = "enum"
    type_name = "enum"

    def __post_init__(self) -> None:
        if len(self.variants) < 1:
            raise SpecError("enum requires at least one variant spec")


@dataclass(frozen=True)
class LiteralSpec:
    value: str | int | float
    nullable: bool = False

    kind = "literal"
    type_name = "literal"


Spec = Union[
    BoolSpec,
    IntSpec,
    FloatSpec,
    StrSpec,
    ArraySpec,
    FixedArraySpec,
    ObjectSpec,
    DictSpec,
    EnumSpec,
    LiteralSpec,
]

_KIND_ALIASES: dict[str, type] = {
    "bool": BoolSpec,
    "boolean": BoolSpec,
    "int": IntSpec,
    "integer": IntSpec,
    "float": FloatSpec,
    "str": StrSpec,
    "string": StrSpec,
    "array": ArraySpec,
    "list": ArraySpec,
    "fixed_array": FixedArraySpec,
    "tuple": FixedArraySpec,
    "object": ObjectSpec,
    "dict": DictSpec,
    "enum": EnumSpec,
    "literal": LiteralSpec,
}


def parse_spec(raw: Mapping[str, Any]) -> Spec:
    """Parse an untyped spec dict (from YAML) into the typed spec tree.

    Unknown ``type`` values and unknown keys are hard errors, mirroring the
    reference's discriminated union + ``extra="forbid"`` behavior.
    """
    if not isinstance(raw, Mapping):
        raise SpecError(f"spec must be a mapping, got {type(raw).__name__}")
    if "type" not in raw:
        raise SpecError("spec is missing required key `type`")
    kind = raw["type"]
    cls = _KIND_ALIASES.get(kind)
    if cls is None:
        raise SpecError(f"unknown spec type `{kind}`")
    return decode(cls, {k: v for k, v in raw.items() if k != "type"}, f"`{kind}` spec")


@functools.cache
def _field_types(cls: type) -> dict[str, Any]:
    hints = get_type_hints(cls)
    return {f.name: hints[f.name] for f in fields(cls)}


def decode(cls: type, mapping: Mapping[str, Any], what: str) -> Any:
    """Build the dataclass `cls` from an untyped mapping (YAML after
    template expansion), directed by its field types: a ``Spec`` field
    parses recursively, a tuple field takes a list (a tuple of
    ``(name, Spec)`` pairs takes a mapping), and a bool, int or float field
    re-types the string that binding interpolation left, as the
    reference's pydantic models do (e.g. a binding-driven ``min_items`` at
    tests/test_json.py:58-84); a bool accepts only 1/0, true/false and
    yes/no. A field whose type admits ``str`` keeps a string as it is. Any
    other value must already be an instance of the field's type (an int
    also counts for a float, a bool never for an int, None only for an
    optional field). An unknown key, a missing field or a rejected value
    is a SpecError naming `what`."""
    types = _field_types(cls)
    try:
        extra = set(mapping) - set(types)
        if extra:
            raise SpecError(f"unknown keys {sorted(extra)}")
        return cls(**{k: _decode_value(types[k], v, k) for k, v in mapping.items()})
    except (TypeError, ValueError) as ex:
        raise SpecError(f"invalid {what}: {ex}") from ex


def _admits(types: tuple, value: Any) -> bool:
    """Whether a non-string YAML value is an instance of a field type: an
    int also counts for a float, a bool never for an int, and None only
    for an optional field."""
    if isinstance(value, bool):
        return bool in types
    if isinstance(value, int) and float in types:
        return True
    return isinstance(value, types)


_BOOLS = {"1": True, "true": True, "yes": True, "0": False, "false": False, "no": False}


def _decode_value(tp: Any, value: Any, key: str) -> Any:
    if tp == Spec:
        return parse_spec(value)
    if get_origin(tp) is tuple:
        item = get_args(tp)[0]
        if get_origin(item) is tuple:  # ordered (name, value) pairs
            if not isinstance(value, Mapping):
                raise SpecError(f"`{key}` must be a mapping")
            return tuple(
                (k, _decode_value(get_args(item)[1], v, key)) for k, v in value.items()
            )
        if isinstance(value, str) and item is str:
            value = [value]
        if not isinstance(value, list):
            raise SpecError(f"`{key}` must be a list")
        return tuple(_decode_value(item, v, key) for v in value)
    types = get_args(tp) or (tp,)
    if not isinstance(value, str):
        if not _admits(types, value):
            names = " or ".join("null" if t is type(None) else t.__name__ for t in types)
            raise SpecError(f"`{key}` must be {names}, got {value!r}")
        return value
    if str in types:
        return value
    if bool in types:
        if value.lower() not in _BOOLS:
            raise SpecError(f"cannot coerce `{key}`={value!r} to a boolean")
        return _BOOLS[value.lower()]
    try:
        return float(value) if float in types else int(value)
    except ValueError:
        raise SpecError(f"cannot coerce `{key}`={value!r} to a number") from None
