"""Sink-ish stages: ``$merge``, ``$out``, ``$delete``.

Reference (src/main/java/net/pincette/mongo/streams/):

- ``$merge`` (Merge.java:151-180): upsert into collection ``into`` keyed by
  ``on`` field(s) (string or array, default ``_id`` — Util.java:99-111).
  ``whenMatched``: ``merge`` (default, shallow field merge —
  Merge.java:118-122), ``replace``, ``keepExisting``, ``fail``;
  ``whenNotMatched``: ``insert`` (default, UUID ``_id`` when absent —
  Merge.java:60-64), ``fail``, else discard.  Extension ``key``: expression
  whose value becomes the stored ``_id`` (Merge.java:159-161).  The stage
  emits what was written/kept with the incoming ``_id`` restored
  (Merge.java:142-149) — it is a passthrough with side effects.
- ``$out`` (Out.java:29-41): sugar for
  ``$merge {into, on: _id, whenMatched: replace, whenNotMatched: insert}``.
- ``$delete`` (Delete.java:38-71): per message ``deleteMany`` in collection
  ``from`` where the ``on`` fields equal the message values; passthrough;
  messages missing an ``on`` field are dropped.

Spark-first strategy: instead of one Mongo round-trip per message, each
micro-batch/batch resolves as ONE distributed join between the stream and
the target (classic MERGE INTO shape: update = join + union of untouched
rows).  Targets live in the Context collection store (parquet/Delta/Mongo
connector in production, in-memory in the harness).  Per-key multiplicity
is resolved pre-join (last source row per key by the pipeline order column)
so the join stays 1:1 — at 100 TB this is a single co-partitioned
shuffle instead of N round-trips.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..context import Context, pin
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage
from .stateless import KEY_COL, _rekey_on_id


def _on_fields(expression: dict) -> list[str]:
    on = expression.get("on", "_id")
    return on if isinstance(on, list) else [on]


def _last_per_key(df: DataFrame, keys: list[str], ctx: Context) -> DataFrame:
    from pyspark.sql import Window

    order = F.col(ctx.order_by) if ctx.order_by and ctx.order_by in df.columns else F.lit(0)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(order.desc())
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


_WM_STAGES = {"$set", "$addFields", "$unset", "$project", "$replaceRoot",
              "$replaceWith"}


def _apply_update_pipeline(
    stages: list[dict], source: DataFrame, target: DataFrame,
    let: Optional[dict] = None,
) -> dict[str, Column]:
    """whenMatched update pipeline -> {field: Column} over the joined
    frame: the root document is the matched TARGET row (``__t_*``
    columns), ``$$new`` is the incoming source document (or the ``let``
    variables when given — Mongo 5.0 semantics: ``let`` replaces the
    default ``{new: "$$ROOT"}`` binding, evaluated over the SOURCE doc).
    MongoDB allows exactly $addFields/$set/$project/$unset/$replaceRoot/
    $replaceWith here; field paths are top-level (nested write paths
    raise)."""
    src_cols = [x for x in source.columns if x != "__in_id"]
    new_doc = F.struct(*[F.col(x).alias(x) for x in src_cols])
    extra_vars: dict[str, Column] = {}
    if let:
        sctx = ExprContext(schema=source.schema)
        extra_vars = {k: compile_expr(v, sctx) for k, v in let.items()}
    fields: dict[str, Column] = {
        name: F.col(f"__t_{name}") for name in target.columns
    }

    def res(parts: list[str]) -> Column:
        if parts[0] not in fields:
            return F.lit(None)
        base = fields[parts[0]]
        for p in parts[1:]:
            base = base.getField(p)
        return base

    for stage in stages:
        (op, spec), = stage.items()
        if op not in _WM_STAGES:
            raise ValueError(
                f"whenMatched pipeline allows {sorted(_WM_STAGES)}; got {op}"
            )
        root = (
            F.struct(*[c.alias(n) for n, c in fields.items()])
            if fields else F.lit(None)
        )
        # Mongo 5.0: `let` REPLACES the default {new: $$ROOT} binding —
        # $$new is undefined when let is given unless the user rebinds it
        base_vars = {} if let else {"new": new_doc}
        ectx = ExprContext(
            schema=None,
            variables={**base_vars, "ROOT": root,
                       "CURRENT": root, **extra_vars},
            resolver=res,
        )
        if op in ("$set", "$addFields"):
            updates = {}
            for k, v in spec.items():
                if "." in k:
                    raise NotImplementedError(
                        "whenMatched pipeline: top-level field paths only"
                    )
                updates[k] = compile_expr(v, ectx)
            fields = {**fields, **updates}
        elif op == "$unset":
            names = spec if isinstance(spec, list) else [spec]
            fields = {k: c for k, c in fields.items() if k not in names}
        elif op == "$project":
            def _is_incl(v: Any) -> bool:
                # Mongo: ANY nonzero number (or True) includes the field
                return (v is True or (isinstance(v, (int, float))
                                      and not isinstance(v, bool) and v != 0))

            def _is_excl(v: Any) -> bool:
                return v is False or (isinstance(v, (int, float))
                                      and not isinstance(v, bool) and v == 0)

            includes = {k: v for k, v in spec.items() if not _is_excl(v)}
            excludes = {k for k, v in spec.items() if _is_excl(v)}
            if includes and excludes - {"_id"}:
                raise ValueError("whenMatched $project: cannot mix "
                                 "include and exclude")
            if includes:
                nf = {}
                for k, v in includes.items():
                    if "." in k:
                        raise NotImplementedError(
                            "whenMatched pipeline: top-level paths only"
                        )
                    nf[k] = (fields.get(k, F.lit(None))
                             if _is_incl(v) else compile_expr(v, ectx))
                if "_id" in fields and "_id" not in excludes and "_id" not in nf:
                    nf["_id"] = fields["_id"]
                fields = nf
            else:
                fields = {k: c for k, c in fields.items() if k not in excludes}
        else:  # $replaceRoot / $replaceWith
            expr = spec["newRoot"] if op == "$replaceRoot" else spec
            if expr == "$$new":
                fields = {x: F.col(x) for x in src_cols}
            elif isinstance(expr, dict) and not any(
                k.startswith("$") for k in expr
            ):
                # compile against the PRE-stage fields (the resolver
                # closure reads `fields` late — assigning first would
                # resolve the literal's own keys / nulls instead of the
                # old document)
                nf = {k: compile_expr(v, ectx) for k, v in expr.items()}
                fields = nf
            else:
                raise NotImplementedError(
                    "whenMatched $replaceRoot/$replaceWith: $$new or an "
                    "object literal"
                )
    return fields


@register_stage("$merge", "per_batch")
def merge_stage(expression: Any, ctx: Context) -> StageFn:
    if isinstance(expression, str):
        expression = {"into": expression}
    into = expression["into"]
    if isinstance(into, dict):
        # MongoDB object form {db, coll} — routed through the qualified
        # collection name, like the $lookup `database` extension
        into = f"{into['db']}.{into['coll']}"
    on = _on_fields(expression)
    when_matched = expression.get("whenMatched", "merge")
    when_not_matched = expression.get("whenNotMatched", "insert")
    wm_pipeline = None
    if not isinstance(when_matched, str):
        # MongoDB's pipeline-form whenMatched (engine superset — the
        # reference rejects it, Pipeline.java:124-125): an update
        # pipeline over each matched TARGET doc with $$new = the
        # incoming doc.  Compiled to per-field Columns on the join.
        if not isinstance(when_matched, list):
            raise ValueError("whenMatched: mode string or update pipeline")
        wm_pipeline = when_matched
        when_matched = "__pipeline__"

    def fn(df: DataFrame, c: Context) -> StageFn:
        source = df.drop(KEY_COL) if KEY_COL in df.columns else df
        ectx = ExprContext(schema=source.schema)
        # the OUTPUT message carries the incoming _id (setId,
        # Merge.java:142-149) even when `key` re-derives the stored _id
        restore_id = "_id" in source.columns
        if restore_id:
            source = source.withColumn("__in_id", F.col("_id"))
        if "key" in expression:
            source = source.withColumn("_id", compile_expr(expression["key"], ectx))
        elif when_not_matched == "insert" and "_id" not in source.columns and "_id" in on:
            source = source.withColumn("_id", F.uuid())
        for f in on:
            if f not in source.columns:
                raise ValueError(f"$merge: missing 'on' field {f} (Merge.java:163-165)")
        source = _last_per_key(source, on, c)
        try:
            target = c.collection(into)
        except KeyError:
            target = source.limit(0)
        t = target.select([F.col(x).alias(f"__t_{x}") for x in target.columns])
        cond = None
        for f in on:
            clause = F.col(f).eqNullSafe(F.col(f"__t_{f}"))
            cond = clause if cond is None else cond & clause
        joined = source.join(t, cond, "full_outer")
        matched = F.col(f"__t_{on[0]}").isNotNull() & F.col(on[0]).isNotNull()
        src_only = F.col(f"__t_{on[0]}").isNull()
        tgt_only = F.col(on[0]).isNull()

        wm_fields: dict[str, Column] = {}
        if wm_pipeline is not None:
            wm_fields = _apply_update_pipeline(
                wm_pipeline, source, target, expression.get("let")
            )
        out_cols: list[Column] = []
        all_fields = [x for x in dict.fromkeys(list(source.columns) + list(target.columns)
                                               + list(wm_fields))
                      if x != "__in_id"]
        for name in all_fields:
            s = F.col(name) if name in source.columns else F.lit(None)
            tg = F.col(f"__t_{name}") if name in target.columns else F.lit(None)
            if when_matched == "__pipeline__":
                m = wm_fields.get(name, F.lit(None))
            elif when_matched == "merge":
                # shallow field merge: source fields overwrite, target-only
                # fields survive (Merge.java:118-122)
                m = F.coalesce(s, tg) if name in source.columns and name in target.columns else (
                    s if name in source.columns else tg
                )
            elif when_matched == "replace":
                m = s
            elif when_matched == "keepExisting":
                m = tg
            elif when_matched == "fail":
                m = s  # detected below
            else:
                raise ValueError(f"bad whenMatched {when_matched}")
            val = (
                F.when(matched, m)
                .when(src_only, s if when_not_matched == "insert" else F.lit(None))
                .otherwise(tg)
            )
            out_cols.append(val.alias(name))
        carry = [F.col("__in_id")] if restore_id else []
        written = joined.select(F.col(on[0]).isNotNull().alias("__from_src"),
                                matched.alias("__matched"), *carry, *out_cols)
        if c.micro_batch or "fail" in (when_matched, when_not_matched):
            # one materialization of the join serves the fail probes, the
            # emitted messages and the new target (a bare filter over it,
            # so write_collection stores it as is)
            written = pin(written, eager=True)
        if when_matched == "fail":
            n = written.filter("__matched").limit(1).count()
            if n:
                raise RuntimeError("$merge whenMatched: fail — duplicate key (Merge.java:95-98)")
        if when_not_matched == "fail":
            n = written.filter(F.col("__from_src") & ~F.col("__matched")).limit(1).count()
            if n:
                raise RuntimeError("$merge whenNotMatched: fail (Merge.java:95-98)")
        keep_in_target = ~(F.col("__from_src") & ~F.col("__matched") & F.lit(when_not_matched != "insert"))
        new_target = written.filter(keep_in_target).select([F.col(x) for x in all_fields])
        c.write_collection(into, new_target)
        # emitted messages: what was written/kept for each incoming doc,
        # with the incoming _id restored (setId — Merge.java:142-149)
        emit_cols = [
            F.col("__in_id").alias("_id") if x == "_id" and restore_id else F.col(x)
            for x in all_fields
        ]
        emitted = written.filter(
            F.col("__from_src") & (F.col("__matched") | F.lit(when_not_matched == "insert"))
        ).select(emit_cols)
        return _rekey_on_id(emitted)

    return fn


@register_stage("$out", "per_batch")
def out_stage(expression: Any, ctx: Context) -> StageFn:
    # sugar (Out.java:29-41)
    coll = expression if isinstance(expression, str) else expression["coll"]
    return merge_stage(
        {"into": coll, "on": "_id", "whenMatched": "replace", "whenNotMatched": "insert"}, ctx
    )


@register_stage("$delete", "per_batch")
def delete_stage(expression: Any, ctx: Context) -> StageFn:
    from_coll = expression["from"]
    on = _on_fields(expression)

    def fn(df: DataFrame, c: Context) -> DataFrame:
        # messages missing an 'on' value are dropped (Delete.java:61-66)
        if any(f not in df.columns for f in on):
            # an `on` field absent from the schema: every message misses
            # it -> all dropped, nothing deleted
            return df.filter(F.lit(False))
        present = None
        for f in on:
            clause = F.col(f).isNotNull()
            present = clause if present is None else present & clause
        out = df.filter(present)
        target = c.collection(from_coll)
        keys = out.select([F.col(f).alias(f"__k_{f}") for f in on]).distinct()
        cond = None
        for f in on:
            # plain equality: the key set filtered null `on` values above,
            # so a null-safe comparison adds nothing — and its composite
            # coalesce/isnull key would forfeit the single-key
            # HashedRelation fast path on the anti join
            clause = F.col(f) == F.col(f"__k_{f}")
            cond = clause if cond is None else cond & clause
        # no broadcast hint: the delete-key set is micro-batch-bounded in
        # streaming but can be arbitrarily large in batch mode — AQE
        # converts to broadcast at runtime when the side is actually small
        remaining = target.join(keys, cond, "left_anti")
        c.write_collection(from_coll, remaining)
        return out

    return fn
