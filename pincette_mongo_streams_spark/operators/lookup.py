"""``$lookup`` — left outer join of the stream against a collection.

Reference (src/main/java/net/pincette/mongo/streams/Lookup.java:131-159):
two forms — (a) ``localField``/``foreignField`` equality, rewritten by the
reference into a one-stage ``$match`` sub-pipeline with the local value
array-wrapped (Lookup.java:110-114,197-200); (b) ``pipeline`` + ``let``
with ``$$var`` substitution (Lookup.java:116-129).  The matched docs land
as an array in field ``as``; ``inner: true`` drops messages with empty
results (158); ``unwind: true`` flattens to one message per result, always
inner (144-148).

Spark-first physical strategy (the reference runs one Mongo aggregation
per message — we run one distributed join per pipeline):

- equality form: pre-aggregate the foreign side per key
  (``groupBy(foreignField).agg(collect_list(struct(*)))``) then LEFT join.
  Dimension tables are broadcast (``F.broadcast``) below a size threshold so
  the fact side never shuffles — the scan stays pipeline-local at 100 TB.
- array-valued local fields join on membership via an exploded bridge.
- pipeline form: compile the sub-pipeline against the foreign DataFrame
  with ``$$var`` bindings; uncorrelated sub-pipelines become a broadcast
  cross/equi join; correlated equality patterns are extracted into join
  keys.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..context import Context, pin
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage

BROADCAST_SIZE_LIMIT = 64 << 20  # bytes (optimizer estimate); beyond this
# the pre-aggregated foreign side shuffle-joins instead of broadcasting — a
# 100x dimension must never be forced onto every executor's heap


def _foreign_struct(df: DataFrame) -> Column:
    return F.struct(*[F.col(c) for c in df.columns])


def _fits_broadcast(df: DataFrame,
                    size_of: Optional[DataFrame] = None) -> Optional[bool]:
    """Whether the optimizer's size estimate stays under
    ``BROADCAST_SIZE_LIMIT``; None when no estimate is available.

    ``size_of`` probes the foreign INPUT rather than the fresh aggregate
    plan: per-key aggregation only shrinks the data, the input DataFrame's
    optimized plan is cached across pipeline compiles (no repeated
    analysis cost), and an over-estimate only errs toward the safe
    shuffle join."""
    try:
        probe = size_of if size_of is not None else df
        size = int(probe._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return size <= BROADCAST_SIZE_LIMIT


def _maybe_broadcast(df: DataFrame, size_of: Optional[DataFrame] = None) -> DataFrame:
    """Broadcast the pre-aggregated foreign side only when the optimizer's
    size estimate stays under ``BROADCAST_SIZE_LIMIT``.  Above the limit the
    join is left unhinted: it plans as a shuffle hash/sort-merge join, and
    AQE still converts it to broadcast at runtime if the *actual* post-
    aggregation size turns out small (runtime stats beat estimates)."""
    if _fits_broadcast(df, size_of):
        return F.broadcast(df)
    return df


_NULLS_CACHE: dict = {}


def _key_has_nulls(frame: DataFrame, field: str) -> Optional[bool]:
    """Whether the foreign key column contains nulls, answered from
    parquet footer statistics (driver-side, cached) — None when the
    frame is not file-backed, the column does not resolve to a file
    column, or statistics are missing.

    Used to gate the small-side shared-agg materialization (r13 A/B:
    the checkpoint costs a consistent ~0.07-0.1 s per query at sf0.1
    — lookup_pipeline 5-pair median 0.753 ckpt vs 0.679 without — and
    only PAYS when the key has nulls, because null-count stats already
    prune the null-branch scan to footer reads otherwise).  A False
    from file stats stays valid under any row filter; a sub-pipeline
    that COMPUTES a column of the same name can defeat it, in which
    case the only consequence is the pre-r12 two-subtree plan — a
    bounded re-scan of a broadcast-fit input, never a wrong answer."""
    try:
        files = frame.inputFiles()
    except Exception:
        return None
    if not files or len(files) > 64:
        return None
    try:
        import os

        import pyarrow.parquet as pq

        total = 0
        for uri in files:
            if not uri.endswith(".parquet"):
                return None
            if "://" in uri and not uri.startswith("file://"):
                # object store: answer unknown -> the caller keeps the
                # materialization (the conservative side exactly where
                # re-scans are priciest)
                return None
            path = uri[7:] if uri.startswith("file://") else uri
            st = os.stat(path)
            key = (path, st.st_size, st.st_mtime_ns, field)
            n = _NULLS_CACHE.get(key)
            if n is None:
                md = pq.ParquetFile(path).metadata
                idx = next(
                    (i for i in range(md.num_columns)
                     if md.schema.column(i).name == field), None)
                if idx is None:
                    return None
                n = 0
                for rg in range(md.num_row_groups):
                    stats = md.row_group(rg).column(idx).statistics
                    if stats is None or stats.null_count is None:
                        return None
                    n += stats.null_count
                _NULLS_CACHE[key] = n
            total += n
        return total > 0
    except Exception:
        return None


def _substitute_vars(node: Any, bindings: dict[str, Any]) -> Any:
    """Replace ``$$var`` references with literal bindings — the compile-time
    analog of Lookup.replaceVariables (Lookup.java:122-128)."""
    if isinstance(node, str) and node.startswith("$$"):
        name = node[2:].split(".")[0]
        if name in bindings:
            return bindings[name]
        return node
    if isinstance(node, list):
        return [_substitute_vars(v, bindings) for v in node]
    if isinstance(node, dict):
        return {k: _substitute_vars(v, bindings) for k, v in node.items()}
    return node


@register_stage("$lookup", "plan")
def lookup_stage(expression: Any, ctx: Context) -> StageFn:
    as_field = expression["as"]
    inner = bool(expression.get("inner", False))
    unwind = bool(expression.get("unwind", False))
    # set by plans.optimize when downstream only reads size(as): count
    # matches per key instead of materializing match arrays
    count_only = bool(expression.get("__countOnly__", False))
    if unwind:
        inner = True  # Lookup.java:144-148

    def fn(df: DataFrame, c: Context) -> DataFrame:
        # `connectionString`/`database` extension (Lookup.java:74-78):
        # another database's collection resolves through the qualified
        # name "db.coll" (collections dict or collection_loader route it
        # to the other catalog/connection)
        from_name = expression["from"]
        if "database" in expression:
            from_name = f"{expression['database']}.{from_name}"
        foreign = c.collection(from_name)
        if "localField" in expression:
            out = _equality_lookup(
                df, foreign, expression["localField"], expression["foreignField"],
                as_field, count_only,
            )
        else:
            out = _pipeline_lookup(df, foreign, expression, as_field, c, count_only)
        if unwind:
            out = out.withColumn(as_field, F.explode(as_field))
        elif inner:
            out = out.filter(
                (F.col(as_field) > 0) if count_only else (F.size(as_field) > 0)
            )
        return out

    return fn


def _match_agg(foreign: DataFrame, count_only: bool) -> Column:
    """The per-key foreign aggregate: match arrays, or (size-only rewrite,
    plans/optimize.py) just the match count — int to mirror size()'s type."""
    if count_only:
        return F.count(F.lit(1)).cast("int").alias("__matches")
    return F.collect_list(_foreign_struct(foreign)).alias("__matches")


def _matches_type(foreign: DataFrame) -> T.ArrayType:
    """The ``__matches`` column type, computed from the FOREIGN input's
    (already-analyzed, session-cached) schema instead of calling
    ``.schema`` on the fresh aggregate plan — a ``.schema`` on an
    intermediate frame forces a full analyzer pass over that subtree
    per pipeline compile (r12 build-latency lever: ~100 ms per $lookup
    compile at sf0.1)."""
    return T.ArrayType(T.StructType(list(foreign.schema.fields)))


def _empty_matches(foreign: DataFrame, count_only: bool) -> Column:
    if count_only:
        return F.lit(0)
    return F.array().cast(_matches_type(foreign))


def _equality_lookup(
    df: DataFrame,
    foreign: DataFrame,
    local_field: str,
    foreign_field: str,
    as_field: str,
    count_only: bool = False,
) -> DataFrame:
    lt = next((f.dataType for f in df.schema.fields if f.name == local_field), None)
    # pre-aggregate foreign per key: one row per key -> join output stays
    # one row per stream message, no post-join re-grouping shuffle
    fkey = F.col(foreign_field)
    grouped = (
        foreign.groupBy(fkey.alias("__fk"))
        .agg(_match_agg(foreign, count_only))
    )
    small = _fits_broadcast(grouped, size_of=foreign)
    if isinstance(lt, T.ArrayType):
        if small:
            grouped = F.broadcast(grouped)
        # array-valued local field: membership join via exploded bridge,
        # then regroup per row id (Lookup.java:197-200 array-wraps locals)
        df_id = df.withColumn("__rid", F.monotonically_increasing_id())
        bridge = df_id.select("__rid", F.explode_outer(F.col(local_field)).alias("__lk"))
        joined = bridge.join(grouped, bridge["__lk"] == grouped["__fk"], "left")
        regroup = (
            F.sum(F.coalesce(F.col("__matches"), F.lit(0))).cast("int")
            if count_only
            else F.flatten(F.collect_list("__matches"))
        )
        matches = joined.groupBy("__rid").agg(regroup.alias(as_field))
        out = df_id.join(matches, "__rid", "left").drop("__rid")
        empty = _empty_matches(foreign, count_only)
        return out.withColumn(as_field, F.coalesce(F.col(as_field), empty))
    return _null_split_join(
        df, grouped, F.col(local_field), as_field, count_only, foreign,
        small=small, key_nulls=_key_has_nulls(foreign, foreign_field),
    )


def _null_split_join(
    df: DataFrame,
    grouped: DataFrame,
    local: Column,
    as_field: str,
    count_only: bool,
    foreign: DataFrame,
    small: Optional[bool] = None,
    key_nulls: Optional[bool] = None,
) -> DataFrame:
    """Join the stream against the per-key pre-aggregated foreign side
    with Mongo's null-matches-null semantics WITHOUT a null-safe join.

    ``eqNullSafe`` on a single bigint key compiles to the composite
    broadcast key ``(coalesce(k, 0), isnull(k))``, which drops Spark's
    long-key HashedRelation fast path — measured ~4-5x slower probe at
    sf0.1.  Instead: a plain equality join (null locals simply don't
    match), plus the null-key group — AT MOST ONE row after per-key
    aggregation — reduced to exactly one (possibly-null) value and
    cross-broadcast to every stream row.  When footer statistics PROVE
    the foreign key null-free (``key_nulls is False``), the null tail
    is dropped outright — one fewer scheduled job per lookup (r13 job
    audit: lookup_pipeline 4 -> 3 jobs) and no materialization
    question left to answer.

    ``small=True`` (the foreign input fits the broadcast budget) AND
    ``key_nulls`` is not proven False: the per-key aggregate is lazily
    materialized BEFORE the split, so both branches read ONE
    materialization of one scan+shuffle — a plain ``.filter`` split
    instead would let Catalyst push the key's IsNull/IsNotNull
    predicates through both aggregate subtrees into two separate scans.
    The r13 focused A/B (VERDICT r12 #3) measured the materialization
    itself at a consistent ~0.07-0.1 s per query at sf0.1
    (lookup_pipeline 5-pair interleaved median 0.753 s with vs
    0.679 s without, no-null key) — NOT neutral as the r12 whole-suite
    pairs suggested — while it only PAYS when the key HAS nulls
    (otherwise parquet null-count statistics prune the null-branch
    scan to a footer read anyway).  So the caller passes
    ``key_nulls`` from file footer statistics (``_key_has_nulls``):
    stats proving zero nulls -> plain filter split (this page); nulls
    present or unknown -> materialize once.  The materialization is
    bounded by the same budget that lets the join broadcast, and the
    foreign side of a $lookup is always a static collection, so
    checkpointing is legal in streaming pipelines too.  The
    materialization is ``context.pin``: durable with a checkpoint
    directory, ``localCheckpoint`` otherwise.

    ``small=False/None`` (foreign side above the budget, or no
    estimate): materializing the aggregate could spill executor disks,
    so the two-subtree split stays — Catalyst pushes IsNull/IsNotNull
    into both scans (``PushedFilters: [IsNull(k)]``), and parquet
    row-group null-count statistics prune the null-branch scan to
    footer reads when the key has no nulls.  Either way the extra join
    is a single-row IdentityBroadcastMode nested loop
    (metadata-sized)."""
    empty = _empty_matches(foreign, count_only)
    if key_nulls is False:
        # r13 job cut: stats prove the foreign key null-free, so the
        # null-key group is EMPTY — drop the whole null tail (its
        # 1-row broadcast was one scheduled job per lookup, ~0.06 s of
        # fresh-action floor) and the isNotNull filter with it.  Null
        # locals simply don't match and coalesce to the empty array.
        main = F.broadcast(grouped) if small else grouped
        joined = df.join(main, local == F.col("__fk"), "left")
        out_col = F.coalesce(F.col("__matches"), empty).alias(as_field)
        cols = [out_col if c == as_field else F.col(c)
                for c in df.columns]
        if as_field not in df.columns:
            cols.append(out_col)
        return joined.select(*cols)
    if small:
        # r13 nullability gate: the shared materialization only pays
        # when the key HAS nulls (otherwise parquet null-count stats
        # prune the null-branch scan to a footer read, and the A/B
        # measured the checkpoint itself at ~0.07-0.1 s per query at
        # sf0.1).  Nulls present or unknown -> materialize once.
        grouped = pin(grouped)
        main = F.broadcast(grouped.filter(F.col("__fk").isNotNull()))
    else:
        main = grouped.filter(F.col("__fk").isNotNull())
    joined = df.join(
        main,
        local == F.col("__fk"),
        "left",
    )
    # the null-key group is ALREADY <=1 row (post-aggregation keys are
    # unique), so a LeftOuter broadcast nested loop on a true condition
    # replaces the old  .agg(first)  + cross join: the agg existed only
    # to manufacture exactly-one-row for the cross, at the price of a
    # partial/final agg pair around a SinglePartition exchange — two
    # AQE stage jobs per lookup for <=1 row of data (r12).  LeftOuter
    # handles the zero-null-keys case directly (build side empty ->
    # null column).
    nullrow = (
        grouped.filter(F.col("__fk").isNull())
        .select(F.col("__matches").alias("__null_matches"))
    )
    joined = joined.join(F.broadcast(nullrow), F.lit(True), "left")
    picked = F.when(local.isNull(), F.col("__null_matches")).otherwise(
        F.col("__matches")
    )
    # one projection instead of withColumn + drop (two eager analyzer
    # passes over the join tree — r12 build-latency lever), preserving
    # withColumn's replace-in-place column order
    out_col = F.coalesce(picked, empty).alias(as_field)
    cols = [out_col if c == as_field else F.col(c) for c in df.columns]
    if as_field not in df.columns:
        cols.append(out_col)
    return joined.select(*cols)


# correlated non-equality predicates in a sub-pipeline $match
# ({f: {$gte: "$$var"}} — TestLookup "$lookup 10") become residual join
# conditions on the foreign field vs the local let-expression
_RESIDUAL_OPS = {
    "$eq": lambda f, v: f.eqNullSafe(v),
    "$ne": lambda f, v: ~f.eqNullSafe(v),
    "$gt": lambda f, v: f > v,
    "$gte": lambda f, v: f >= v,
    "$lt": lambda f, v: f < v,
    "$lte": lambda f, v: f <= v,
    "$in": lambda f, v: F.array_contains(v, f),
}


def _let_var(v: Any, let: dict) -> Any:
    """The let-expression bound by a ``"$$var"`` string, or None.
    ``$$var.sub.path`` rewrites to a ``$let`` so the sub-path resolves
    against the bound value (Lookup.replaceVariables substitutes into
    the pipeline the same way — Lookup.java:122-128)."""
    if isinstance(v, str) and v.startswith("$$") and v[2:].split(".")[0] in let:
        head, *path = v[2:].split(".")
        if path:
            return {"$let": {"vars": {head: let[head]}, "in": v}}
        return let[head]
    return None


def _pipeline_lookup(
    df: DataFrame,
    foreign: DataFrame,
    expression: dict,
    as_field: str,
    c: Context,
    count_only: bool = False,
) -> DataFrame:
    from ..pipeline import compile_pipeline

    let = expression.get("let", {})
    sub = expression.get("pipeline", [])
    # Correlated-equality extraction: a leading {$match: {f: "$$var"}} (or
    # {$match: {$expr: {$eq: [...]}}}) becomes distributed join keys;
    # operator-form correlations become residual join conditions; the
    # rest of the sub-pipeline runs on the foreign side pre-join.
    join_pairs: list[tuple[str, Any]] = []  # (foreign field, local expr)
    residuals: list[tuple[str, str, Any]] = []  # (foreign field, op, local expr)
    rest: list[dict] = []
    for i, stage in enumerate(sub):
        if i == 0 and set(stage) == {"$match"} and isinstance(stage["$match"], dict):
            q = stage["$match"]
            simple = {}
            for k, v in q.items():
                bound = _let_var(v, let)
                if bound is not None:
                    join_pairs.append((k, bound))
                    continue
                if isinstance(v, dict) and len(v) == 1:
                    op, operand = next(iter(v.items()))
                    op_bound = _let_var(operand, let) if op in _RESIDUAL_OPS else None
                    if op_bound is not None:
                        residuals.append((k, op, op_bound))
                        continue
                simple[k] = v
            if simple:
                rest.append({"$match": simple})
        else:
            rest.append(stage)
    if rest:
        transformed = compile_pipeline(_substitute_vars(rest, {}), c)(foreign)
    else:
        transformed = foreign
    if not join_pairs and not residuals:
        # uncorrelated: every row gets the same (small) result array
        agg = (
            F.count(F.lit(1)).cast("int")
            if count_only
            else F.collect_list(_foreign_struct(transformed))
        )
        collected = transformed.agg(agg.alias(as_field))
        return df.crossJoin(F.broadcast(collected))
    if residuals:
        # general correlated plan: join per stream row (equality clauses
        # still drive the hash join; residuals filter it), then regroup by
        # a row id — one extra shuffle, only paid on non-equi correlation
        ectx = ExprContext(schema=df.schema)
        df_id = df.withColumn("__rid", F.monotonically_increasing_id())
        f_pref = transformed.select(
            [F.col(x).alias(f"__f_{x}") for x in transformed.columns]
        )
        cond = None
        for fk, local_expr in join_pairs:
            clause = compile_expr(local_expr, ectx).eqNullSafe(F.col(f"__f_{fk}"))
            cond = clause if cond is None else cond & clause
        for fk, op, local_expr in residuals:
            clause = _RESIDUAL_OPS[op](F.col(f"__f_{fk}"), compile_expr(local_expr, ectx))
            cond = clause if cond is None else cond & clause
        fstruct = F.struct(
            *[F.col(f"__f_{x}").alias(x) for x in transformed.columns]
        )
        agg = (
            F.count(F.lit(1)).cast("int")
            if count_only
            else F.collect_list(fstruct)
        )
        matches = (
            df_id.join(f_pref, cond, "inner")
            .groupBy("__rid")
            .agg(agg.alias("__matches"))
        )
        out = df_id.join(matches, "__rid", "left").drop("__rid")
        empty = _empty_matches(transformed, count_only)
        return out.withColumn(
            as_field, F.coalesce(F.col("__matches"), empty)
        ).drop("__matches")
    ectx = ExprContext(schema=df.schema)
    if len(join_pairs) == 1:
        # single correlated key: the null-split plan keeps the long-key
        # HashedRelation fast path (see _null_split_join)
        fk, local_expr = join_pairs[0]
        grouped = (
            transformed.groupBy(F.col(fk).alias("__fk"))
            .agg(_match_agg(transformed, count_only))
        )
        return _null_split_join(
            df, grouped, compile_expr(local_expr, ectx), as_field,
            count_only, transformed,
            small=_fits_broadcast(grouped, size_of=foreign),
            key_nulls=_key_has_nulls(transformed, fk),
        )
    # multi-key correlation: composite keys don't have a long fast path
    # to protect — the straightforward null-safe join stays
    grouped = (
        transformed.groupBy(*[F.col(fk).alias(f"__fk{i}") for i, (fk, _) in enumerate(join_pairs)])
        .agg(_match_agg(transformed, count_only))
    )
    grouped = _maybe_broadcast(grouped, size_of=foreign)
    cond = None
    for i, (_fk, local_expr) in enumerate(join_pairs):
        clause = compile_expr(local_expr, ectx).eqNullSafe(F.col(f"__fk{i}"))
        cond = clause if cond is None else (cond & clause)
    joined = df.join(grouped, cond, "left")
    empty = _empty_matches(transformed, count_only)
    out = joined.withColumn(as_field, F.coalesce(F.col("__matches"), empty))
    return out.drop("__matches", *[f"__fk{i}" for i in range(len(join_pairs))])
