"""Compile a value-constraint spec tree into Spark SQL Column expressions.

``compile_checker(spec, dtype)(value, path)`` returns one Column of type
``array<struct<path:string, msg:string>>`` holding every violation the value
commits against the spec — empty array means the value is valid. The whole
check for a row is therefore a single native expression; there is no
per-row Python anywhere on this path. Its ``transform``/``filter`` lambdas
are ``CodegenFallback``, so it is evaluated interpreted, outside
whole-stage codegen.

Design decisions (scale-driven):

* **Type strictness is compile-time for typed columns.** The checker is
  compiled against the column's declared ``DataType``. A declared-type
  mismatch compiles to a constant "Input should be a valid X" violation;
  value constraints under a mismatched type are never evaluated (the
  reference reports only the type error for strict types,
  fs_schema_validator/schemas/json.py:55,74,91,117).
* **VARIANT is one more declared type.** A column holding JSON text keeps
  its type per value, so ``json_column_violations`` parses it with
  ``try_parse_json`` and compiles the same spec against ``VariantType``.
  Every ``_compile_<kind>`` serves both value models: on VARIANT the type
  test moves to run time (``schema_of_variant`` tells BIGINT / STRING /
  DECIMAL / BOOLEAN / ARRAY / OBJECT apart per value, so "1" is still not
  an int), constraints read ``try_cast`` values, and composites recurse
  through ``array<variant>``, ``map<string, variant>`` and
  ``try_variant_get``. A missing key or a JSON null is null.
* **Paths are dynamic Columns.** Array-element paths carry the element
  index (``array.0`` — the reference renders dotted paths,
  schemas/json.py:249-261), so the path argument is a Column, built with
  ``concat`` inside ``transform`` lambdas. A root child has no leading dot.
* **Null = missing.** In a table a null non-nullable value reports
  "Field required" (the reference's missing-attr reason); ``nullable``
  specs accept null and skip inner checks.
* **Union semantics.** A value passes an enum spec if it satisfies ≥1
  variant; otherwise *every* variant's violations are emitted, non-literal
  variants with a ``.{kind}`` path suffix (reference behavior pinned at
  tests/test_json.py:198-204).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..rules import spec as S
from . import messages as M

# The violation element type produced by every checker.
ERR_SCHEMA = "array<struct<path:string,msg:string>>"

Checker = Callable[[Column, Column], Column]
Conds = list[tuple[Column, Column | str]]

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOATING = (T.FloatType, T.DoubleType)

# Scalar kind -> (declared Spark types, schema_of_variant test, try_cast type).
_SCALARS: dict[str, tuple[tuple[type, ...], Callable[[Column], Column], str]] = {
    "bool": ((T.BooleanType,), lambda t: t == "BOOLEAN", "boolean"),
    "int": (_INTEGRAL, lambda t: t == "BIGINT", "bigint"),
    # JSON decimals parse as DECIMAL(p,s), big or scientific ones as DOUBLE;
    # a JSON integer (BIGINT) is not a float — StrictFloat semantics.
    "float": (
        (*_FLOATING, T.DecimalType),
        lambda t: t.startswith("DECIMAL") | (t == "DOUBLE") | (t == "FLOAT"),
        "double",
    ),
    "str": ((T.StringType,), lambda t: t == "STRING", "string"),
}
_SCALAR_SPECS = (S.BoolSpec, S.IntSpec, S.FloatSpec, S.StrSpec, S.LiteralSpec)


def empty_errors() -> Column:
    return F.array().cast(ERR_SCHEMA)


def _err(path: Column, msg: Column | str) -> Column:
    msg_col = F.lit(msg) if isinstance(msg, str) else msg
    return F.struct(path.alias("path"), msg_col.alias("msg"))


def _const_error(msg: str) -> Checker:
    """A checker that always reports `msg` (compile-time type mismatch)."""

    def check(value: Column, path: Column) -> Column:
        return F.array(_err(path, msg))

    return check


def _collect_with_path(path: Column, conds: Conds) -> Column:
    if not conds:
        return empty_errors()
    items = [F.when(cond, _err(path, msg)) for cond, msg in conds]
    return F.array_compact(F.array(*items))


def _child_path(path: Column, seg: Column, dtype: T.DataType) -> Column:
    """Dotted child path of a `dtype` value; a ROOT child renders bare
    ('0', 'key', 'int'), not '.0' — the reference joins pydantic loc tuples
    with '.' so a root-level element has no leading dot
    (schemas/json.py:249-261), and the byte-stable message parity contract
    includes paths. Only a JSON document or a row (a VARIANT or a struct)
    can be the root; any other typed value sits under a named column, so
    its child paths skip the root test."""
    if not isinstance(dtype, (T.VariantType, T.StructType)):
        return F.concat(path, F.lit("."), seg)
    return F.when(path == "", seg).otherwise(F.concat(path, F.lit("."), seg))


def _is_variant(dtype: T.DataType) -> bool:
    return isinstance(dtype, T.VariantType)


def _guarded(
    dtype: T.DataType,
    declared: type | tuple[type, ...],
    runtime_ok: Callable[[Column], Column],
    to_value: Callable[[Column], Column],
    msg: str,
    body: Callable[[], Checker],
) -> Checker:
    """The one type test of every kind. A typed column is compared with
    `declared` at compile time: a mismatch is the constant `msg`, and
    `body` is never compiled. A VARIANT value passes ``schema_of_variant``
    to `runtime_ok` per value; the checker `body` builds then sees the
    value converted by `to_value`."""
    if _is_variant(dtype):
        check = body()

        def guarded(value: Column, path: Column) -> Column:
            return F.when(
                ~runtime_ok(F.schema_of_variant(value)), F.array(_err(path, msg))
            ).otherwise(check(to_value(value), path))

        return guarded
    if not isinstance(dtype, declared):
        return _const_error(msg)
    return body()


def _is_array(t: Column) -> Column:
    return t.startswith("ARRAY")


def _is_object(t: Column) -> Column:
    return t.startswith("OBJECT")


def _as_array(value: Column) -> Column:
    return value.try_cast("array<variant>")


def _wrap_nullable(spec: S.Spec, dtype: T.DataType, inner: Checker) -> Checker:
    def check(value: Column, path: Column) -> Column:
        absent = value.isNull()
        if _is_variant(dtype):
            absent = absent | F.is_variant_null(value)
        if spec.nullable:
            return F.when(absent, empty_errors()).otherwise(inner(value, path))
        return F.when(absent, F.array(_err(path, M.REQUIRED))).otherwise(
            inner(value, path)
        )

    return check


# ---------------------------------------------------------------------------
# scalar kinds


def _numeric_conds(spec: S.IntSpec | S.FloatSpec, value: Column) -> Conds:
    conds: Conds = []
    if spec.multiple_of is not None:
        conds.append((value % F.lit(spec.multiple_of) != 0, M.multiple_of(spec.multiple_of)))
    if spec.min is not None:
        conds.append((value < F.lit(spec.min), M.ge(spec.min)))
    if spec.exclusive_min is not None:
        conds.append((value <= F.lit(spec.exclusive_min), M.gt(spec.exclusive_min)))
    if spec.max is not None:
        conds.append((value > F.lit(spec.max), M.le(spec.max)))
    if spec.exclusive_max is not None:
        conds.append((value >= F.lit(spec.exclusive_max), M.lt(spec.exclusive_max)))
    return conds


def _str_conds(spec: S.StrSpec, value: Column) -> Conds:
    conds: Conds = []
    if spec.min_length is not None:
        conds.append((F.length(value) < spec.min_length, M.str_min_length(spec.min_length)))
    if spec.max_length is not None:
        conds.append((F.length(value) > spec.max_length, M.str_max_length(spec.max_length)))
    if spec.regex is not None:
        # rlike is search-semantics, matching the reference's use of
        # re.search via pydantic `pattern` — patterns anchor themselves.
        conds.append((~value.rlike(spec.regex), M.str_pattern(spec.regex)))
    return conds


def _scalar_conds(spec: S.Spec, value: Column) -> Conds:
    if isinstance(spec, (S.IntSpec, S.FloatSpec)):
        return _numeric_conds(spec, value)
    if isinstance(spec, S.StrSpec):
        return _str_conds(spec, value)
    if isinstance(spec, S.LiteralSpec):
        return [(value != F.lit(spec.value), M.literal(spec.value))]
    return []  # bool: the type is the whole constraint


def _scalar_kind(spec: S.Spec) -> str:
    """A literal takes its kind from the Python type of its value (bool is
    checked by exact type: it is an int subclass)."""
    if isinstance(spec, S.LiteralSpec):
        return {bool: "bool", int: "int", str: "str"}.get(type(spec.value), "float")
    return spec.kind


def _compile_scalar(spec: S.Spec, dtype: T.DataType) -> Checker:
    declared, runtime_ok, cast_to = _SCALARS[_scalar_kind(spec)]
    if isinstance(spec, S.LiteralSpec):
        msg = M.literal(spec.value)
    else:
        msg = M.not_valid(spec.type_name)

    def check(value: Column, path: Column) -> Column:
        return _collect_with_path(path, _scalar_conds(spec, value))

    return _guarded(
        dtype, declared, runtime_ok, lambda v: v.try_cast(cast_to), msg, lambda: check
    )


# ---------------------------------------------------------------------------
# ok-predicate fast path: a cheap boolean "value satisfies spec" expression
# for scalar specs, used to SCREEN array elements before materializing
# per-element violation structs (screening is ~5x cheaper per element than
# building detail arrays; details are computed only for violating rows).


def ok_predicate(spec: S.Spec, dtype: T.DataType) -> Callable[[Column], Column] | None:
    if not isinstance(spec, _SCALAR_SPECS) or _is_variant(dtype):
        return None  # composite specs and VARIANT values: no cheap screen
    if not isinstance(dtype, _SCALARS[_scalar_kind(spec)][0]):
        return lambda v: F.lit(False)

    def ok(v: Column) -> Column:
        pred = F.lit(True)
        for cond, _ in _scalar_conds(spec, v):
            pred = pred & ~cond
        return pred

    if spec.nullable:
        return lambda v: v.isNull() | ok(v)
    return lambda v: v.isNotNull() & ok(v)


def array_violation_screen(spec: S.Spec, dtype: T.DataType) -> Callable[[Column], Column] | None:
    """A whole-array "might contain a violating element" screen.

    For pure-bounds numeric item specs this avoids per-element lambda
    evaluation entirely: ``array_min``/``array_max`` are native (no
    interpreted HOF lambda), measured ~7x cheaper per pass. Null elements
    are screened via ``size != size(array_compact)`` (also native) when the
    item spec is non-nullable; min/max skip nulls so they cannot see them.
    Returns None when no native screen exists (fall back to exists())."""
    if not isinstance(spec, (S.IntSpec, S.FloatSpec)) or spec.multiple_of is not None:
        return None
    if not isinstance(dtype, _SCALARS[spec.kind][0]):
        return None  # type mismatch (const error) or VARIANT: no native screen

    def screen(arr: Column, spec=spec) -> Column:
        conds = []
        if spec.min is not None:
            conds.append(F.array_min(arr) < spec.min)
        if spec.exclusive_min is not None:
            conds.append(F.array_min(arr) <= spec.exclusive_min)
        if spec.max is not None:
            conds.append(F.array_max(arr) > spec.max)
        if spec.exclusive_max is not None:
            conds.append(F.array_max(arr) >= spec.exclusive_max)
        if not spec.nullable:
            conds.append(F.size(arr) != F.size(F.array_compact(arr)))
        if not conds:
            return F.lit(False)
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        # null comparisons (empty array -> null min/max) mean "nothing to
        # check" — not a violation
        return F.coalesce(out, F.lit(False))

    return screen


# ---------------------------------------------------------------------------
# composite kinds


def _compile_array(spec: S.ArraySpec, dtype: T.DataType) -> Checker:
    def body() -> Checker:
        item_type = dtype if _is_variant(dtype) else dtype.elementType
        item_checker = compile_checker(spec.items, item_type)
        item_ok = ok_predicate(spec.items, item_type)
        native_screen = array_violation_screen(spec.items, item_type)

        def check(value: Column, path: Column) -> Column:
            size_conds: Conds = []
            n = F.size(value)
            if spec.min_items is not None:
                size_conds.append(
                    (
                        n < spec.min_items,
                        F.concat(
                            F.lit(M.list_min_items_prefix(spec.min_items)), n.cast("string")
                        ),
                    )
                )
            if spec.max_items is not None:
                size_conds.append(
                    (
                        n > spec.max_items,
                        F.concat(
                            F.lit(M.list_max_items_prefix(spec.max_items)), n.cast("string")
                        ),
                    )
                )
            detail = F.flatten(
                F.transform(
                    value,
                    lambda e, i: item_checker(e, _child_path(path, i.cast("string"), dtype)),
                )
            )
            if native_screen is not None:
                # Native screen-then-detail: array_min/array_max/array_compact
                # (no interpreted lambda) decide whether ANY element violates;
                # the expensive struct-building detail pass runs only on rows
                # that actually contain a violation.
                detail = F.when(native_screen(value), detail).otherwise(empty_errors())
            elif item_ok is not None:
                # exists() screen: still per-element, but no struct allocation
                # for clean rows.
                detail = F.when(
                    F.exists(value, lambda e: ~item_ok(e)), detail
                ).otherwise(empty_errors())
            return F.concat(_collect_with_path(path, size_conds), detail)

        return check

    return _guarded(
        dtype, T.ArrayType, _is_array, _as_array, M.not_valid(spec.type_name), body
    )


def _compile_fixed_array(spec: S.FixedArraySpec, dtype: T.DataType) -> Checker:
    n = len(spec.items)
    if isinstance(dtype, T.StructType):
        checkers = [
            compile_checker(ispec, f.dataType)
            for ispec, f in zip(spec.items, dtype.fields[:n])
        ]
        names = [f.name for f in dtype.fields[:n]]

        def check_struct(value: Column, path: Column) -> Column:
            parts = []
            for i, chk in enumerate(checkers):
                ipath = _child_path(path, F.lit(str(i)), dtype)
                parts.append(chk(value.getField(names[i]), ipath))
            if len(dtype.fields) > n:
                parts.append(F.array(_err(path, M.tuple_max_items(n))))
            if len(dtype.fields) < n:
                for i in range(len(dtype.fields), n):
                    parts.append(F.array(_err(_child_path(path, F.lit(str(i)), dtype), M.REQUIRED)))
            return F.concat(*parts)

        return check_struct

    def body() -> Checker:
        item_type = dtype if _is_variant(dtype) else dtype.elementType
        checkers_arr = [compile_checker(ispec, item_type) for ispec in spec.items]

        def check(value: Column, path: Column) -> Column:
            size = F.size(value)
            parts = []
            for i, chk in enumerate(checkers_arr):
                ipath = _child_path(path, F.lit(str(i)), dtype)
                parts.append(
                    F.when(size <= i, F.array(_err(ipath, M.REQUIRED))).otherwise(
                        chk(F.get(value, i), ipath)
                    )
                )
            parts.append(
                F.when(size > n, F.array(_err(path, M.tuple_max_items(n)))).otherwise(
                    empty_errors()
                )
            )
            return F.concat(*parts)

        return check

    return _guarded(
        dtype, T.ArrayType, _is_array, _as_array, M.not_valid(spec.type_name), body
    )


def _compile_object(spec: S.ObjectSpec, dtype: T.DataType) -> Checker:
    variant = _is_variant(dtype)

    def body() -> Checker:
        present = {} if variant else {f.name: f.dataType for f in dtype.fields}
        compiled: list[tuple[str, Checker | None, S.Spec]] = []
        for name, attr_spec in spec.attrs:
            child_type = dtype if variant else present.get(name)
            chk = None if child_type is None else compile_checker(attr_spec, child_type)
            compiled.append((name, chk, attr_spec))

        def check(value: Column, path: Column) -> Column:
            parts = []
            for name, chk, attr_spec in compiled:
                apath = _child_path(path, F.lit(name), dtype)
                if chk is None:
                    # Attribute absent from the declared schema entirely: required
                    # unless nullable (reference: required-field semantics,
                    # schemas/json.py:170-172).
                    if not attr_spec.nullable:
                        parts.append(F.array(_err(apath, M.REQUIRED)))
                elif variant:
                    # a missing key is a SQL-null variant: "Field required"
                    child = F.try_variant_get(value, f"$.{name}", "variant")
                    parts.append(chk(child, apath))
                else:
                    parts.append(chk(value.getField(name), apath))
            if not parts:
                return empty_errors()
            return F.concat(*parts)

        return check

    return _guarded(
        dtype, T.StructType, _is_object, lambda v: v, M.not_valid(spec.type_name), body
    )


def _compile_dict(spec: S.DictSpec, dtype: T.DataType) -> Checker:
    def body() -> Checker:
        variant = _is_variant(dtype)
        # JSON object keys are always strings
        key_checker = compile_checker(spec.keys, T.StringType() if variant else dtype.keyType)
        value_checker = compile_checker(spec.values, dtype if variant else dtype.valueType)

        def check(value: Column, path: Column) -> Column:
            def entry(e: Column) -> Column:
                key = e.getField("key")
                kpath = _child_path(path, key.cast("string"), dtype)
                return F.concat(
                    key_checker(key, kpath), value_checker(e.getField("value"), kpath)
                )

            return F.flatten(F.transform(F.map_entries(value), entry))

        return check

    return _guarded(
        dtype,
        T.MapType,
        _is_object,
        lambda v: v.try_cast("map<string, variant>"),
        M.not_valid(spec.type_name),
        body,
    )


def _compile_enum(spec: S.EnumSpec, dtype: T.DataType) -> Checker:
    variant_checkers: list[tuple[S.Spec, Checker]] = [
        (v, compile_checker(v, dtype)) for v in spec.variants
    ]

    def check(value: Column, path: Column) -> Column:
        errors_per_variant = []
        for vspec, chk in variant_checkers:
            # Literal variants keep the plain path; typed variants add a
            # `.{kind}` suffix (e.g. `enum.int`).
            if isinstance(vspec, S.LiteralSpec):
                vpath = path
            else:
                vpath = _child_path(path, F.lit(vspec.kind), dtype)
            errors_per_variant.append(chk(value, vpath))
        matches_any = None
        for errs in errors_per_variant:
            ok = F.size(errs) == 0
            matches_any = ok if matches_any is None else (matches_any | ok)
        return F.when(matches_any, empty_errors()).otherwise(
            F.concat(*errors_per_variant)
        )

    return check


_COMPILERS = {
    **{cls: _compile_scalar for cls in _SCALAR_SPECS},
    S.ArraySpec: _compile_array,
    S.FixedArraySpec: _compile_fixed_array,
    S.ObjectSpec: _compile_object,
    S.DictSpec: _compile_dict,
    S.EnumSpec: _compile_enum,
}


def compile_checker(spec: S.Spec, dtype: T.DataType) -> Checker:
    """Compile `spec` against `dtype` into a violations checker: a
    column's declared type, or ``VariantType()`` for JSON values.

    The returned callable maps ``(value_column, path_column)`` to an
    ``array<struct<path,msg>>`` Column of violations (empty = valid),
    including null/required handling.
    """
    inner = _COMPILERS[type(spec)](spec, dtype)
    return _wrap_nullable(spec, dtype, inner)


def json_column_violations(json_col: Column, spec: S.Spec) -> Column:
    """Violations for a STRING column holding a JSON document.

    Unparseable text reports "Invalid JSON"; a SQL-null document reports
    "Field required" unless the top-level spec is nullable."""
    checker = compile_checker(spec, T.VariantType())
    v = F.try_parse_json(json_col)
    parse_failed = json_col.isNotNull() & v.isNull()
    return F.when(
        parse_failed, F.array(_err(F.lit(""), "Invalid JSON"))
    ).otherwise(checker(v, F.lit("")))


def render_reason(path: Column, msg: Column) -> Column:
    """Render the human-readable reason: ``\\`a.b\\`: msg`` or root form,
    the reference's dotted-path rendering (schemas/json.py:249-261).
    """
    return F.when(path == "", F.concat(F.lit("root object: "), msg)).otherwise(
        F.concat(F.lit("`"), path, F.lit("`: "), msg)
    )
