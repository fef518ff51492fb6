"""Aggregation stages: ``$group``, ``$bucket``, ``$count``.

Reference semantics (src/main/java/net/pincette/mongo/streams/):

- ``$group`` (Group.java:405-431): key = ``_id`` expression (a literal means
  one global group emitted with ``_id: null`` — Group.java:381-399,415-417);
  accumulator registry at Group.java:106-117.  The reference emits the whole
  updated group document per state-changing input; in batch the final state
  is what matters (SURVEY.md §2.4 emission protocol), and in streaming the
  same compiled aggregation runs in update output mode.
- ``$bucket`` (Bucket.java:74-115): rewritten into ``$group`` with
  ``_id = {$switch: ...}`` over the ordered boundaries — the same desugaring
  the reference performs, reproduced at compile level so Catalyst sees one
  aggregation.
- ``$count`` (Count.java:27-41): rewritten to
  ``$group {_id: null, <field>: {$sum: 1}}`` with ``_id`` removed.

Accumulator mapping (Group.java:106-117 -> Spark):
``$sum``->sum, ``$avg``->avg, ``$min``/``$max``->min/max, ``$push``->
collect_list, ``$addToSet``->array_sort(collect_set) (the reference sorts
set output by total JSON order — Group.java:130-149), ``$count``->count(*),
``$first``/``$last``->min_by/max_by over the pipeline order column when one
is configured (batch determinism), ``$mergeObjects``-> order-sorted
struct-merge fold, ``$stdDevPop``->stddev_pop.

Deliberate deviation (documented in README): the reference's ``$stdDevPop``
selector emits the running *count* instead of sigma (Group.java:451-453,
golden-tested at TestGroup.java:214-227 — a reference quirk); this engine
emits the mathematically correct population stddev.

Mixed-type total order (SURVEY.md §2.3a last row — the reference compares
via net.pincette.mongo.Util.compare's BSON-bracket total JSON order for
``$min/$max/$addToSet`` and ``$bucket`` boundaries): this engine's STANCE
is that it is a *typed-column* engine.  A Spark column holds exactly one
data type, so a group can never contain, say, an int and a string — the
open-world case the BSON bracket order exists for cannot be represented.
What CAN mix is resolved at plan time by Catalyst's coercion rules, and
the result matches MongoDB:

- numeric widths (int vs double) coerce to the widest numeric type, and
  comparison is numeric — identical to BSON's cross-numeric comparison;
- null/missing are IGNORED by ``$min/$max`` (Spark aggregate semantics =
  MongoDB's, which skips null/missing);
- genuinely heterogeneous data must live in a string/JSON column, where
  ordering is lexicographic on the encoded form — a user-visible,
  documented boundary, pinned in tests/test_mixed_type_order.py.
"""

from __future__ import annotations

import re
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage


def _is_literal_id(expr: Any) -> bool:
    if expr is None or isinstance(expr, (bool, int, float)):
        return True
    if isinstance(expr, str):
        return not expr.startswith("$")
    return False


def _order_col(df: DataFrame, ctx: Context) -> Optional[Column]:
    if ctx.order_by and ctx.order_by in df.columns:
        return F.col(ctx.order_by)
    return None


def _merge_structs_sorted(values: Column, elem_t: T.DataType) -> Column:
    """Fold an array of (order, value) structs into one shallow-merged value
    struct, later non-null fields winning (Group.java:291-304)."""
    if not isinstance(elem_t, T.StructType):
        raise NotImplementedError("$mergeObjects needs struct-typed values")
    ordered = F.array_sort(values)

    def merge(acc: Column, nxt: Column) -> Column:
        return F.struct(
            *[
                F.coalesce(nxt.getField("v").getField(f.name), acc.getField(f.name)).alias(f.name)
                for f in elem_t.fields
            ]
        )

    init = F.lit(None).cast(elem_t)
    first = F.struct(*[F.lit(None).cast(f.dataType).alias(f.name) for f in elem_t.fields])
    return F.aggregate(ordered, first, lambda acc, x: merge(acc, x))


def compile_accumulator(
    name: str, op: str, arg: Any, ectx: ExprContext, order: Optional[Column]
) -> Column:
    value = None if op == "$count" else compile_expr(arg, ectx)
    if op == "$sum":
        return F.sum(value).alias(name)
    if op == "$avg":
        return F.avg(value).alias(name)
    if op == "$min":
        return F.min(value).alias(name)
    if op == "$max":
        return F.max(value).alias(name)
    if op == "$push":
        if order is not None:
            return F.transform(
                F.array_sort(F.collect_list(F.struct(order.alias("o"), value.alias("v")))),
                lambda s: s.getField("v"),
            ).alias(name)
        return F.collect_list(value).alias(name)
    if op == "$addToSet":
        return F.array_sort(F.collect_set(value)).alias(name)
    if op == "$count":
        if arg != {}:
            raise ValueError("$count accumulator takes {} (Group.java:208-220)")
        return F.count(F.lit(1)).alias(name)
    if op == "$first":
        if order is not None:
            return F.min_by(value, order).alias(name)
        return F.first(value).alias(name)
    if op == "$last":
        if order is not None:
            return F.max_by(value, order).alias(name)
        return F.last(value).alias(name)
    if op == "$stdDevPop":
        return F.stddev_pop(value).alias(name)
    if op == "$stdDevSamp":
        return F.stddev_samp(value).alias(name)
    return _compile_accumulator_superset(name, op, arg, ectx, order)


def topn_struct_and_cmp(sort_by: dict, output: Column, ectx: ExprContext):
    """Compile a MongoDB multi-key ``sortBy`` document for the
    $top/$bottom/$topN/$bottomN family: returns the (k0..kn, v) struct to
    collect and an ``array_sort`` comparator implementing Mongo sort
    semantics per key (direction honored, nulls lowest — so nulls sort
    first ascending / last descending).  Shared with the window-frame
    variants in operators/extended.py."""
    keys = [(compile_expr("$" + f, ectx), d) for f, d in sort_by.items()]
    struct = F.struct(
        *[c.alias(f"k{i}") for i, (c, _) in enumerate(keys)],
        output.alias("v"),
    )
    directions = [d for _, d in keys]

    def cmp(left: Column, right: Column) -> Column:
        result = F.lit(0)
        for i in range(len(directions) - 1, -1, -1):
            lf, rf = left.getField(f"k{i}"), right.getField(f"k{i}")
            lt = F.lit(-1 if directions[i] == 1 else 1)
            gt = F.lit(1 if directions[i] == 1 else -1)
            result = (
                F.when(lf.isNull() & rf.isNull(), result)
                .when(lf.isNull(), lt)
                .when(rf.isNull(), gt)
                .when(lf < rf, lt)
                .when(lf > rf, gt)
                .otherwise(result)
            )
        return result

    return struct, cmp


def sorted_output_array(collected: Column, cmp) -> Column:
    """array of outputs in sortBy order from a collected (k.., v) array."""
    return F.transform(F.array_sort(collected, cmp), lambda s: s.getField("v"))


def _compile_accumulator_superset(
    name: str, op: str, arg: Any, ectx: ExprContext, order: Optional[Column]
) -> Column:
    """Accumulators beyond the reference's registry (Group.java:106-117),
    completing MongoDB's public accumulator surface as a superset."""
    if op in ("$firstN", "$lastN"):
        value = compile_expr(arg["input"], ectx)
        n = arg["n"]
        if order is None:
            # no pipeline order column: arrival order is undefined (same as
            # Mongo without a sort) — take an arbitrary-but-valid N.
            # monotonically_increasing_id() is rejected inside aggregates
            # (AGGREGATE_FUNCTION_WITH_NONDETERMINISTIC_EXPRESSION).
            ordered = F.collect_list(value)
        else:
            ordered = F.transform(
                F.array_sort(
                    F.collect_list(F.struct(order.alias("o"), value.alias("v")))
                ),
                lambda s: s.getField("v"),
            )
        if op == "$lastN":
            return F.slice(
                ordered, F.greatest(F.size(ordered) - n + 1, F.lit(1)), F.lit(n)
            ).alias(name)
        return F.slice(ordered, 1, n).alias(name)
    if op in ("$maxN", "$minN"):
        value = compile_expr(arg["input"], ectx)
        n = arg["n"]
        s = F.array_sort(F.collect_list(value))
        return F.slice(F.reverse(s) if op == "$maxN" else s, 1, n).alias(name)
    if op in ("$top", "$bottom", "$topN", "$bottomN"):
        # sortBy: {field: 1|-1, ...} (multi-key); output evaluated per doc
        sort_by = arg["sortBy"]
        if not isinstance(sort_by, dict) or not sort_by:
            raise ValueError(f"{op} needs a non-empty sortBy document")
        out = compile_expr(arg["output"], ectx)
        if len(sort_by) == 1 and op in ("$top", "$bottom"):
            # single-key fast path: min_by/max_by needs no array materialization
            field, direction = next(iter(sort_by.items()))
            sort_col = compile_expr("$" + field, ectx)
            want_min = (op == "$top") == (direction == 1)
            agg = F.min_by(out, sort_col) if want_min else F.max_by(out, sort_col)
            return agg.alias(name)
        struct, cmp = topn_struct_and_cmp(sort_by, out, ectx)
        in_order = sorted_output_array(F.collect_list(struct), cmp)
        if op == "$top":
            return F.element_at(in_order, 1).alias(name)
        if op == "$bottom":
            return F.element_at(in_order, -1).alias(name)
        n = arg["n"]
        # $topN = head, $bottomN = tail, both KEEPING the sortBy order
        # (Mongo does not reverse the tail)
        if op == "$topN":
            return F.slice(in_order, 1, n).alias(name)
        return F.slice(
            in_order, F.greatest(F.size(in_order) - n + 1, F.lit(1)), F.lit(n)
        ).alias(name)
    if op == "$median":
        return F.median(compile_expr(arg["input"], ectx)).alias(name)
    if op == "$percentile":
        value = compile_expr(arg["input"], ectx)
        ps = arg["p"]
        return F.percentile(value, F.array(*[F.lit(p) for p in ps])).alias(name)
    if op == "$approxCountDistinct":
        # engine superset: the 100 TB path for cardinality — a
        # HyperLogLog++ sketch (fixed-size state, partial-aggregated)
        # where $addToSet + $size would materialize the full value set
        if isinstance(arg, dict):
            value = compile_expr(arg["input"], ectx)
            rsd = float(arg.get("relativeSD", 0.05))
        else:
            value = compile_expr(arg, ectx)
            rsd = 0.05
        return F.approx_count_distinct(value, rsd=rsd).alias(name)
    if op == "$approxQuantile":
        # engine superset: Greenwald-Khanna sketch — bounded state where
        # exact $percentile collects per-group sorted values
        value = compile_expr(arg["input"], ectx)
        ps = arg["p"]
        acc = float(arg.get("accuracy", 10000))
        return F.percentile_approx(
            value, F.array(*[F.lit(p) for p in ps]), F.lit(int(acc))
        ).alias(name)
    raise NotImplementedError(f"unsupported accumulator {op}")


# SQL templates for the generated-SQL $group fast path.  Each template is
# the exact sql() name of the Column function the generic path builds —
# F.sum -> sum, F.array_sort(F.collect_set) -> array_sort(collect_set) —
# so the analyzed plan is identical; only the number of py4j round trips
# changes (~79 ms of driver latency per $group plan build measured at
# r13 vs ~30 ms for one spark.sql call).
_SIMPLE_ACC_SQL = {
    "$sum": "sum({v})",
    "$avg": "avg({v})",
    "$min": "min({v})",
    "$max": "max({v})",
    "$stdDevPop": "stddev_pop({v})",
    "$stdDevSamp": "stddev_samp({v})",
    "$push": "collect_list({v})",
    "$addToSet": "array_sort(collect_set({v}))",
}

_PLAIN_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _num_sql(x) -> str:
    """A numeric Python literal as Spark SQL text with the SAME type
    ``F.lit`` would produce: floats need the ``D`` suffix (a bare
    ``2.5`` parses as DECIMAL, while ``F.lit(2.5)`` is DOUBLE)."""
    if isinstance(x, float):
        return repr(x) + "D"
    return repr(x)


def _acc_sql_terms(accumulators: dict, df: DataFrame) -> Optional[list[str]]:
    """``name AS sql`` terms for accumulators coverable by
    ``_SIMPLE_ACC_SQL`` over plain field refs or numeric literals
    (``$count`` included); None when any accumulator falls outside."""
    sel: list[str] = []
    for name, acc in accumulators.items():
        if not _PLAIN_IDENT.match(name):
            return None
        if not isinstance(acc, dict) or len(acc) != 1:
            return None  # generic path raises the contract error
        op, arg = next(iter(acc.items()))
        if op == "$count":
            if arg != {}:
                return None
            sel.append(f"count(1) AS `{name}`")
            continue
        tpl = _SIMPLE_ACC_SQL.get(op)
        if tpl is None:
            return None
        if isinstance(arg, str) and arg.startswith("$") \
                and not arg.startswith("$$"):
            ref = arg[1:]
            if not _PLAIN_IDENT.match(ref) or ref not in df.columns:
                return None
            v = f"`{ref}`"
        elif isinstance(arg, (int, float)) and not isinstance(arg, bool):
            v = _num_sql(arg)
        else:
            return None
        sel.append(tpl.format(v=v) + f" AS `{name}`")
    return sel


def _simple_group_sql(
    id_expr: Any, accumulators: dict, df: DataFrame
) -> Optional[str]:
    """One generated-SQL statement for the common $group shape — plain
    top-level field-ref ``_id`` plus accumulators from ``_SIMPLE_ACC_SQL``
    over plain field refs or numeric literals (``$count`` included).
    Returns None whenever ANY piece falls outside that shape (dotted
    paths, expressions, order-dependent accumulators, array-typed keys)
    so the generic Column path keeps full semantics."""
    if not (isinstance(id_expr, str) and id_expr.startswith("$")
            and not id_expr.startswith("$$")):
        return None
    key = id_expr[1:]
    if not _PLAIN_IDENT.match(key) or key not in df.columns:
        return None
    kt = df.schema[key].dataType
    if isinstance(kt, T.ArrayType):  # array _id filter path — generic
        return None
    terms = _acc_sql_terms(accumulators, df)
    if terms is None:
        return None
    sel = [f"`{key}` AS _id"] + terms
    return (f"SELECT {', '.join(sel)} FROM {{df}} GROUP BY `{key}`")


@register_stage("$group", "aggregate")
def group_stage(expression: Any, ctx: Context) -> StageFn:
    id_expr = expression["_id"]
    accumulators = {k: v for k, v in expression.items() if k not in ("_id", "_collection")}

    def fn(df: DataFrame, c: Context) -> DataFrame:
        if accumulators and _order_col(df, c) is None:
            sql = _simple_group_sql(id_expr, accumulators, df)
            if sql is not None:
                return df.sparkSession.sql(sql, df=df)
        ectx = ExprContext(schema=df.schema)
        order = _order_col(df, c)
        if _is_literal_id(id_expr):
            # literal _id -> single global group re-emitted as null
            # (Group.java:381-399,415-417)
            key = F.lit(None).cast("string").alias("_id")
        else:
            key = compile_expr(id_expr, ectx).alias("_id")
        aggs: list[Column] = []
        deferred: dict[str, tuple[Any, Any]] = {}
        for name, acc in accumulators.items():
            if not isinstance(acc, dict) or len(acc) != 1:
                raise ValueError(f"bad accumulator {name}: {acc}")
            op, arg = next(iter(acc.items()))
            if op == "$mergeObjects":
                deferred[name] = (op, arg)
                continue
            aggs.append(compile_accumulator(name, op, arg, ectx, order))
        for name, (op, arg) in deferred.items():
            value = compile_expr(arg, ectx)
            vt = df.select(value.alias("__v")).schema["__v"].dataType
            collected = F.collect_list(
                F.struct(
                    (order if order is not None else F.lit(0)).cast("long").alias("o"),
                    value.alias("v"),
                )
            )
            aggs.append(_merge_structs_sorted(collected, vt).alias(name))
        if not aggs:
            out = df.select(key).distinct()
        else:
            out = df.groupBy(key).agg(*aggs)
        # group docs whose _id is an array are filtered out (hasId —
        # Group.java:261-263,429: Mongo forbids array _id upserts); a null
        # key is a legitimate group and is kept
        if isinstance(out.schema["_id"].dataType, T.ArrayType):
            out = out.filter(F.col("_id").isNull())
        return out

    return fn


@register_stage("$bucket", "aggregate")
def bucket_stage(expression: Any, ctx: Context) -> StageFn:
    group_by = expression["groupBy"]
    boundaries = expression["boundaries"]
    if len(boundaries) < 2 or any(
        not boundaries[i] < boundaries[i + 1] for i in range(len(boundaries) - 1)
    ):
        raise ValueError("$bucket requires >= 2 strictly ordered boundaries (Bucket.java:69-72)")
    default = expression.get("default")
    # Mongo's bucket _id is heterogeneous (boundary value or the default
    # literal); a fixed-schema engine needs one type — stringify when the
    # default's type differs from the boundaries'
    numeric_bounds = all(isinstance(b, (int, float)) and not isinstance(b, bool) for b in boundaries)
    stringify = "default" in expression and not (
        (numeric_bounds and isinstance(default, (int, float)) and not isinstance(default, bool))
        or (not numeric_bounds and isinstance(default, str))
    )
    branches = [
        {
            "case": {"$and": [{"$gte": [group_by, lo]}, {"$lt": [group_by, hi]}]},
            "then": str(lo) if stringify else lo,
        }
        for lo, hi in zip(boundaries, boundaries[1:])
    ]
    switch: dict[str, Any] = {"branches": branches}
    if "default" in expression:
        switch["default"] = str(default) if stringify and not isinstance(default, str) else default
    rewritten = {"_id": {"$switch": switch}}
    rewritten.update(expression.get("output", {"count": {"$sum": 1}}))

    # r13 build-latency fast path (the $group lever, extended to the
    # desugared $switch key): plain "$field" groupBy + numeric-or-string
    # boundaries + simple accumulators -> the whole bucket as ONE
    # generated-SQL statement (CASE WHEN chain == the $switch tree
    # compile_expr builds; float literals carry the D suffix so types
    # match F.lit exactly; stringified _id values render as quoted
    # literals).  ~75 ms of Column-building/analyzer driver latency per
    # plan build measured at r13 -> one spark.sql call.
    def _lit_sql(x) -> Optional[str]:
        if isinstance(x, str):
            return "'" + x.replace("'", "''") + "'"
        if isinstance(x, (int, float)) and not isinstance(x, bool):
            return _num_sql(x)
        return None

    then_vals = [b["then"] for b in branches]
    else_val = switch.get("default")
    lits_ok = (
        all(_lit_sql(b) is not None for b in boundaries)
        and all(_lit_sql(v) is not None for v in then_vals)
        and ("default" not in switch or _lit_sql(else_val) is not None)
    )
    if (isinstance(group_by, str) and group_by.startswith("$")
            and not group_by.startswith("$$") and lits_ok):
        gb_field = group_by[1:]

        def fast(df: DataFrame, c: Context) -> Optional[DataFrame]:
            if not _PLAIN_IDENT.match(gb_field) or gb_field not in df.columns:
                return None
            terms = _acc_sql_terms(
                expression.get("output", {"count": {"$sum": 1}}), df)
            if terms is None:
                return None
            g = f"`{gb_field}`"
            whens = " ".join(
                f"WHEN ({g} >= {_lit_sql(lo)} AND {g} < {_lit_sql(hi)}) "
                f"THEN {_lit_sql(tv)}"
                for (lo, hi), tv in zip(
                    zip(boundaries, boundaries[1:]), then_vals))
            if "default" in switch:
                key_sql = f"CASE {whens} ELSE {_lit_sql(else_val)} END"
                where = ""
            else:
                key_sql = f"CASE {whens} END"
                where = (f" WHERE {g} >= {_lit_sql(boundaries[0])}"
                         f" AND {g} < {_lit_sql(boundaries[-1])}")
            sel = ", ".join([f"{key_sql} AS _id"] + terms)
            return df.sparkSession.sql(
                f"SELECT {sel} FROM {{df}}{where} GROUP BY {key_sql}", df=df)

        inner_generic = (
            group_stage(rewritten, ctx) if "default" in expression else None)

        def fn(df: DataFrame, c: Context) -> DataFrame:
            out = fast(df, c)
            if out is not None:
                return out
            if inner_generic is not None:
                return inner_generic(df, c)
            ectx = ExprContext(schema=df.schema)
            gb = compile_expr(group_by, ectx)
            bounded = df.filter(
                (gb >= F.lit(boundaries[0])) & (gb < F.lit(boundaries[-1])))
            return group_stage(rewritten, ctx)(bounded, c)

        return fn

    if "default" not in expression:
        # Mongo errors on out-of-range values without a default; we drop
        # them pre-aggregation to keep the batch job total
        inner = group_stage(rewritten, ctx)

        def fn(df: DataFrame, c: Context) -> DataFrame:
            ectx = ExprContext(schema=df.schema)
            gb = compile_expr(group_by, ectx)
            bounded = df.filter((gb >= F.lit(boundaries[0])) & (gb < F.lit(boundaries[-1])))
            return inner(bounded, c)

        return fn
    return group_stage(rewritten, ctx)


@register_stage("$count", "aggregate")
def count_stage(expression: Any, ctx: Context) -> StageFn:
    if not isinstance(expression, str) or not expression:
        raise ValueError("$count takes a field name (Count.java:27-41)")
    inner = group_stage({"_id": None, expression: {"$sum": 1}}, ctx)

    def fn(df: DataFrame, c: Context) -> DataFrame:
        return inner(df, c).drop("_id")

    return fn
