"""Stateless pipeline stages.

Covers (reference file in parens, all under
src/main/java/net/pincette/mongo/streams/):

- ``$match``        (Match.java:22-29)       -> df.filter
- ``$project``      (Project.java:121-141)   -> select / struct rebuild
- ``$addFields``/``$set`` (AddFields.java:76-85) -> withColumns / withField
- ``$unset``        (Unset.java:24-38)       -> drop / dropFields
- ``$replaceRoot``/``$replaceWith`` (ReplaceRoot.java:21-26, ReplaceWith.java:25-37)
- ``$setKey``       (SetKey.java:21-26)      -> __key column
- ``$unwind``       (Unwind.java:85-139)     -> explode family
- ``$redact``       (Redact.java:43-93)      -> schema-directed when() tree
- ``$trace``        (Trace.java:25-40)       -> passthrough + driver-side log
- ``$backTrace``    (BackTrace.java:23-37)   -> passthrough (engine-internal)

Everything compiles to native Columns; no UDFs, so Catalyst keeps
pushdown/pruning/codegen across these stages.
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..context import Context
from ..expressions import ExprContext, Remove, compile_expr
from ..match import compile_match
from ..paths import drop_path, nested_col, set_path, split_path
from ..pipeline import StageFn, register_stage

log = logging.getLogger("pincette_mongo_streams_spark")

KEY_COL = "__key"
"""Reserved column carrying the Kafka-style message key (Stage.java:16-17).
Materialized only when a stage needs it ($setKey, streaming sinks)."""


def _ectx(df: DataFrame) -> ExprContext:
    return ExprContext(schema=df.schema)


def _rekey_on_id(df: DataFrame) -> DataFrame:
    """Stages that change ``_id`` re-derive the message key from it
    (Util.java:86-88; ReplaceWith/Script/Merge behavior)."""
    if KEY_COL in df.columns and "_id" in df.columns:
        return df.withColumn(KEY_COL, F.col("_id").cast("string"))
    return df


# ---------------------------------------------------------------- $match


@register_stage("$match", "plan")
def match_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, _c: Context) -> DataFrame:
        return df.filter(compile_match(expression, _ectx(df)))

    return fn


# -------------------------------------------------------------- $project


def _parse_project(expression: dict) -> tuple[str, list[tuple[list[str], Any]]]:
    """Classify the spec into include/exclude mode (Project.java:121-141);
    computed expressions force include mode; mixing include with exclude is
    rejected except for ``_id: 0``.

    Single-key nested-object values descend to the leaf, building a dotted
    path, so ``{test4: {test3: false}}`` == ``{"test4.test3": 0}``
    (Project.java:62-69); descent stops at a ``$``-operator key, which
    marks the value as a computed expression at the path built so far
    (removeExpression, Project.java:110-115)."""
    entries: list[tuple[list[str], Any]] = []
    has_include = False
    has_exclude = False
    for path, value in expression.items():
        parts = split_path(path)
        while (
            isinstance(value, dict)
            and len(value) == 1
            and not next(iter(value)).startswith("$")
        ):
            key = next(iter(value))
            parts = parts + split_path(key)
            value = value[key]
        if value in (1, True):
            entries.append((parts, True))
            has_include = True
        elif value in (0, False):
            entries.append((parts, False))
            if parts != ["_id"]:
                has_exclude = True
        else:
            entries.append((parts, value))
            has_include = True
    if has_include and has_exclude:
        raise ValueError("$project cannot mix include and exclude (except _id: 0)")
    return ("include" if has_include else "exclude"), entries


class _Node:
    def __init__(self) -> None:
        self.children: dict[str, _Node] = {}
        self.leaf: Any = None  # True (include) or a computed expression

    def add(self, parts: list[str], leaf: Any) -> None:
        if len(parts) == 1:
            self.children.setdefault(parts[0], _Node()).leaf = leaf
        else:
            self.children.setdefault(parts[0], _Node()).add(parts[1:], leaf)


def _include_columns(
    node: _Node, schema: T.StructType | None, base: Column | None, ectx: ExprContext
) -> list[Column]:
    cols: list[Column] = []
    for name, child in node.children.items():
        fld = None
        if schema is not None:
            fld = next((f for f in schema.fields if f.name == name), None)
        source = (
            nested_col([name]) if base is None else base.getField(name)
        )
        if child.leaf is True and not child.children:
            if fld is not None:
                cols.append(source.alias(name))
            # include of a missing field: omitted (Mongo omits)
        elif child.leaf not in (None, True):
            compiled = compile_expr(child.leaf, ectx)
            if isinstance(compiled, Remove):
                continue  # static $$REMOVE -> drop (Project.java:46-47)
            cols.append(compiled.alias(name))
        elif child.children:
            sub_schema = fld.dataType if fld is not None and isinstance(fld.dataType, T.StructType) else None
            if fld is not None and sub_schema is None:
                # non-struct intermediate with nested include: Mongo drops it
                continue
            sub_base = source if fld is not None else None
            inner = _include_columns(child, sub_schema, sub_base, ectx)
            if inner:
                cols.append(F.struct(*inner).alias(name))
    return cols


@register_stage("$project", "plan")
def project_stage(expression: Any, ctx: Context) -> StageFn:
    mode, entries = _parse_project(expression)

    def fn(df: DataFrame, _c: Context) -> DataFrame:
        if mode == "exclude":
            out = df
            for parts, _v in entries:
                out = drop_path(out, ".".join(parts))
            return out
        root = _Node()
        id_entry = next((e for e in entries if e[0] == ["_id"]), None)
        include_id = "_id" in df.columns and (id_entry is None or id_entry[1] is not False)
        if include_id and id_entry is None:
            root.add(["_id"], True)  # include-mode keeps _id by default
        # Nested computed paths merge into the ORIGINAL head struct,
        # preserving untouched sibling fields (golden "$project include 3",
        # TestProject.java:111-138: test4.test2/test4.test3 become 10 while
        # test4.test1 stays) — the head is kept whole, then updated.
        nested_updates: list[tuple[list[str], Any]] = []
        whole_heads: list[str] = []
        for parts, v in entries:
            if v is False:
                continue
            if v is not True and len(parts) > 1:
                nested_updates.append((parts, v))
                if parts[0] not in whole_heads:
                    whole_heads.append(parts[0])
            else:
                root.add(parts, v)
        for head in whole_heads:
            root.add([head], True)
        ectx = _ectx(df)
        cols = _include_columns(root, df.schema, None, ectx)
        keep = [c for c in (KEY_COL,) if c in df.columns]
        # Update expressions read the original document (Project.java:105:
        # function.apply(json)), so evaluate them before narrowing.
        if not nested_updates:
            return df.select(*[F.col(k) for k in keep], *cols)
        compiled_updates = [
            (parts, compile_expr(v, ectx)) for parts, v in nested_updates
        ]
        tmp_cols = {
            f"__proj_upd_{i}": c
            for i, (_p, c) in enumerate(compiled_updates)
            if not isinstance(c, Remove)
        }
        out = df.withColumns(tmp_cols).select(
            *[F.col(k) for k in keep], *cols, *[F.col(t) for t in tmp_cols]
        )
        for i, (parts, _c) in enumerate(compiled_updates):
            tmp = f"__proj_upd_{i}"
            if tmp not in tmp_cols:  # static $$REMOVE -> drop the path
                out = drop_path(out, ".".join(parts))
                continue
            out = set_path(out, ".".join(parts), F.col(tmp))
        return out.drop(*tmp_cols.keys())

    return fn


# ---------------------------------------------------- $addFields / $set


# Sentinel ref: the expression reads fields we cannot enumerate statically
# (bare $$ROOT/$$CURRENT, dynamic $getField) — callers must assume it may
# read ANY field, including another target of the same stage.
_UNRESOLVED = object()


def _expr_field_refs(expr: Any, out: set) -> None:
    """All current-document field references in a raw expression document.

    Collects "$path" strings, "$$ROOT.x"/"$$CURRENT.x" reads, the
    implicit-CURRENT ``$getField`` forms ({"$getField": "a"} and
    {"$getField": {"field": "a"}} with no input — expressions.py resolves
    both against the current document), and ``$meta``'s hidden score
    column.  Adds ``_UNRESOLVED`` for forms whose read set cannot be
    enumerated.  ``$literal`` payloads are opaque strings, not refs."""
    if isinstance(expr, str):
        if expr.startswith("$$"):
            head, _, rest = expr[2:].partition(".")
            if head in ("ROOT", "CURRENT"):
                out.add(rest if rest else _UNRESOLVED)
        elif expr.startswith("$"):
            out.add(expr[1:])
    elif isinstance(expr, list):
        for e in expr:
            _expr_field_refs(e, out)
    elif isinstance(expr, dict):
        if len(expr) == 1:
            ((op, spec),) = expr.items()
            if op == "$literal":
                return
            if op == "$getField":
                if isinstance(spec, str):
                    out.add(spec)
                elif isinstance(spec, dict):
                    field = spec.get("field")
                    if not isinstance(field, str):
                        out.add(_UNRESOLVED)
                    elif "input" not in spec:
                        out.add(field)
                    else:
                        _expr_field_refs(spec["input"], out)
                else:
                    out.add(_UNRESOLVED)
                return
            if op == "$meta" and isinstance(spec, str):
                out.add("__meta_" + {"textScore": "searchScore"}.get(spec, spec))
                return
        for v in expr.values():
            _expr_field_refs(v, out)


def _addfields_batchable(expression: dict) -> bool:
    """True when every target is a top-level column and no expression
    reads a DIFFERENT target of this same stage — then all expressions
    see the input schema, and one ``withColumns`` call is semantically
    identical to the sequential set_path chain (a self-reference reads
    the input value either way).  The sequential path stays for dotted
    targets, $$REMOVE, and cross-field chains."""
    targets = list(expression)
    if any("." in t for t in targets):
        return False
    for t, expr in expression.items():
        refs: set = set()
        _expr_field_refs(expr, refs)
        for r in refs:
            if r is _UNRESOLVED:
                return False
            head = r.split(".", 1)[0]
            if head != t and head in targets:
                return False
    return True


@register_stage("$addFields", "plan")
@register_stage("$set", "plan")
def add_fields_stage(expression: Any, ctx: Context) -> StageFn:
    batchable = isinstance(expression, dict) and _addfields_batchable(expression)

    def fn(df: DataFrame, _c: Context) -> DataFrame:
        if batchable:
            ectx = _ectx(df)
            compiled = {p: compile_expr(e, ectx) for p, e in expression.items()}
            if not any(isinstance(c, Remove) for c in compiled.values()):
                # ONE analyzer pass for the whole stage instead of one
                # per field (r13: a 4-field $addFields cost ~4 analyzer
                # passes over growing plans, pure plan-build latency)
                return df.withColumns(compiled)
        out = df
        for path, expr in expression.items():
            compiled = compile_expr(expr, _ectx(out))
            if isinstance(compiled, Remove):
                out = drop_path(out, path)
            else:
                out = set_path(out, path, compiled)
        return out

    return fn


# ----------------------------------------------------------------- $unset


@register_stage("$unset", "plan")
def unset_stage(expression: Any, ctx: Context) -> StageFn:
    paths = expression if isinstance(expression, list) else [expression]

    def fn(df: DataFrame, _c: Context) -> DataFrame:
        out = df
        for p in paths:
            out = drop_path(out, p)
        return out

    return fn


# ------------------------------------------- $replaceWith / $replaceRoot


@register_stage("$replaceWith", "plan")
def replace_with_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, _c: Context) -> DataFrame:
        compiled = compile_expr(expression, _ectx(df))
        tmp = df.select(
            *[F.col(k) for k in (KEY_COL,) if k in df.columns], compiled.alias("__root")
        )
        t = tmp.schema["__root"].dataType
        if not isinstance(t, T.StructType):
            # non-object result: reference passes the original through
            # (ReplaceWith.java:30-33); statically non-object -> identity
            return df
        keep = [F.col(KEY_COL)] if KEY_COL in df.columns else []
        out = tmp.select(*keep, F.col("__root.*"))
        return _rekey_on_id(out)

    return fn


@register_stage("$replaceRoot", "plan")
def replace_root_stage(expression: Any, ctx: Context) -> StageFn:
    # sugar for $replaceWith (ReplaceRoot.java:21-26)
    return replace_with_stage(expression["newRoot"], ctx)


# ---------------------------------------------------------------- $setKey


@register_stage("$setKey", "plan")
def set_key_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, _c: Context) -> DataFrame:
        return df.withColumn(KEY_COL, compile_expr(expression, _ectx(df)).cast("string"))

    return fn


# ---------------------------------------------------------------- $unwind


@register_stage("$unwind", "plan")
def unwind_stage(expression: Any, ctx: Context) -> StageFn:
    if isinstance(expression, str):
        spec = {"path": expression}
    else:
        spec = expression
    path = spec["path"]
    if not path.startswith("$"):
        raise ValueError("$unwind path must start with '$'")
    parts = split_path(path[1:])
    preserve = bool(spec.get("preserveNullAndEmptyArrays", False))
    index_field = spec.get("includeArrayIndex")
    new_ids = bool(spec.get("newIds", False))

    def fn(df: DataFrame, _c: Context) -> DataFrame:
        src = nested_col(parts)
        others = [F.col(c) for c in df.columns]
        if index_field is not None:
            gen = F.posexplode_outer(src) if preserve else F.posexplode(src)
            out = df.select(*others, gen.alias("__pos", "__val"))
            out = set_path(out, ".".join(parts), F.col("__val"))
            out = set_path(out, index_field, F.col("__pos").cast("long"))
            out = out.drop("__pos", "__val")
        else:
            gen = F.explode_outer(src) if preserve else F.explode(src)
            out = df.select(*others, gen.alias("__val"))
            out = set_path(out, ".".join(parts), F.col("__val"))
            out = out.drop("__val")
        if new_ids and "_id" in out.columns:
            out = out.withColumn("_id", F.uuid())
            out = _rekey_on_id(out)
        return out

    return fn


# ---------------------------------------------------------------- $redact

_KEEP = "__KEEP__"
_PRUNE = "__PRUNE__"
_DESCEND = "__DESCEND__"


def _redact_ctx(schema: T.StructType | None, base: Column | None) -> ExprContext:
    from ..paths import has_path

    def resolver(parts: list[str]) -> Column:
        if schema is not None and not has_path(schema, parts):
            return F.lit(None)  # missing at this level (Mongo "missing")
        if base is None:
            return nested_col(parts)
        return nested_col(parts, base)

    return ExprContext(
        schema=schema,
        variables={
            "KEEP": F.lit(_KEEP),
            "PRUNE": F.lit(_PRUNE),
            "DESCEND": F.lit(_DESCEND),
        },
        resolver=resolver,
    )


def _redact_value(expr: Any, t: T.DataType, col: Column) -> Column:
    """Rebuild a nested value under $redact recursion (Redact.java:56-93):
    the expression is evaluated at every nested object, including objects
    inside arrays; pruned array elements are removed from the array."""
    if isinstance(t, T.StructType):
        decision = compile_expr(expr, _redact_ctx(t, col))
        rebuilt = F.struct(
            *[
                _redact_value(expr, f.dataType, col.getField(f.name)).alias(f.name)
                for f in t.fields
            ]
        )
        return (
            F.when(col.isNull(), F.lit(None).cast(t))
            .when(decision == _PRUNE, F.lit(None).cast(t))
            .when(decision == _KEEP, col)
            .otherwise(rebuilt)
        )
    if isinstance(t, T.ArrayType) and isinstance(t.elementType, T.StructType):
        elem_t = t.elementType
        mapped = F.transform(col, lambda e: _redact_value(expr, elem_t, e))
        return F.filter(mapped, lambda e: e.isNotNull())
    return col


@register_stage("$redact", "plan")
def redact_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, _c: Context) -> DataFrame:
        root_decision = compile_expr(expression, _redact_ctx(df.schema, None))
        out = df.withColumn("__redact", root_decision).filter(F.col("__redact") != _PRUNE)
        cols: list[Column] = []
        for f in df.schema.fields:
            if f.name == KEY_COL:
                cols.append(F.col(f.name))
                continue
            rebuilt = _redact_value(expression, f.dataType, F.col(f.name))
            cols.append(
                F.when(F.col("__redact") == _KEEP, F.col(f.name))
                .otherwise(rebuilt)
                .alias(f.name)
            )
        return out.select(*cols)

    return fn


# ------------------------------------------------------ $trace/$backTrace


@register_stage("$trace", "plan")
def trace_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, _c: Context) -> DataFrame:
        # The reference logs every document at INFO (Trace.java:25-40).  A
        # distributed engine logs a sample driver-side and keeps the stage a
        # passthrough so it never breaks the plan.
        try:
            for row in df.limit(20).collect():
                log.info("$trace: %s", row.asDict(recursive=True))
        except Exception:  # pragma: no cover - tracing must never fail the job
            pass
        return df

    return fn


@register_stage("$backTrace", "plan")
def back_trace_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, _c: Context) -> DataFrame:
        return df  # backpressure introspection is engine-internal in Spark

    return fn
