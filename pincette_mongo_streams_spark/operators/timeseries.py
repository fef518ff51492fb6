"""``$asOfJoin`` — time-series as-of join (beyond-reference operator).

For every left document, attach the single right document with the
largest ``rightTime`` at-or-before the left's ``leftTime`` (direction
``backward``, the default) or the smallest at-or-after it (``forward``),
matching on equality key(s).  The canonical point-in-time enrichment:
"the latest quote before this trade", "the feature snapshot in effect at
this event".

Spark-first physical strategy — the **union trick**, not a join: tag
both sides, union them, and run ONE window pass per key ordered by
(time, side): ``last(right_payload, ignorenulls=true)`` over an
unbounded-preceding frame carries the most recent right row forward into
each left row.  Cost = one hash shuffle on the key + an in-partition
sort, independent of how many right rows precede each left row.  The
naive alternative (inequality join + per-left argmax) explodes to
O(left×right) pairs per key before pruning — the union trick never
materializes a pair.  Skewed keys are absorbed the same way any window
shuffle is (AQE skew handling; at the extreme, salt the key and merge).

No counterpart in the reference (its only joins are ``$lookup``/``$http``
stream enrichment — SURVEY.md §2.2); DuckDB's native ``ASOF JOIN`` is the
oracle in the driver gate.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage


@register_stage("$asOfJoin", "per_batch")
def as_of_join_stage(expression: Any, ctx: Context) -> StageFn:
    """``{from, on, leftTime, rightTime, as, direction?, strict?,
    tolerance?, inner?}`` — ``on`` is a field name or list of names
    present on both sides; ``as`` receives the matched right document as
    a struct (null when nothing matches).  ``strict: true`` excludes
    equal timestamps; ``tolerance`` (ms for timestamp columns, same unit
    as the column otherwise) nulls matches farther away than the bound;
    ``inner: true`` drops unmatched left documents."""
    from_coll = expression["from"]
    on = expression["on"]
    keys = [on] if isinstance(on, str) else list(on)
    left_time = expression.get("leftTime", "$ts")
    right_time = expression.get("rightTime", left_time)
    as_field = expression.get("as", "matched")
    direction = expression.get("direction", "backward")
    strict = bool(expression.get("strict", False))
    tolerance = expression.get("tolerance")
    inner = bool(expression.get("inner", False))
    if direction not in ("backward", "forward"):
        raise ValueError("$asOfJoin direction must be 'backward' or 'forward'")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        right = c.collection(from_coll)
        lt = compile_expr(left_time, ExprContext(schema=df.schema))
        rt = compile_expr(right_time, ExprContext(schema=right.schema))
        lpay = F.struct(*[F.col(x) for x in df.columns])
        rpay = F.struct(*[F.col(x) for x in right.columns])
        # ordering: the right row must sort BEFORE the left row exactly
        # when it is allowed to match at equal times (inclusive), after
        # it when excluded (strict)
        r_side = 1 if strict else 0
        l_side = 1 - r_side
        lrows = df.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            lt.alias("__t"), F.lit(l_side).alias("__side"),
            lpay.alias("__l"), F.lit(None).cast(
                right.select(rpay.alias("x")).schema["x"].dataType
            ).alias("__r"),
        )
        rrows = right.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            rt.alias("__t"), F.lit(r_side).alias("__side"),
            F.lit(None).cast(
                df.select(lpay.alias("x")).schema["x"].dataType
            ).alias("__l"),
            rpay.alias("__r"),
        )
        unioned = lrows.unionByName(rrows)
        if direction == "backward":
            order = [F.col("__t").asc(), F.col("__side").asc()]
        else:
            order = [F.col("__t").desc(), F.col("__side").asc()]
        w = (
            Window.partitionBy(*[f"__k_{k}" for k in keys])
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = unioned.withColumn(
            "__match", F.last("__r", ignorenulls=True).over(w)
        )
        out = carried.filter(F.col("__l").isNotNull())
        match = F.col("__match")
        if tolerance is not None:
            ttype = out.schema["__t"].dataType
            # distance between left time and the matched right row's time:
            # re-anchor the right-time path onto the matched struct
            rt_of_match = _rt_over_struct(right_time, match)
            if isinstance(ttype, T.TimestampType):
                gap = F.abs(
                    F.unix_micros(F.col("__t")) - F.unix_micros(rt_of_match)
                ) / F.lit(1000.0)
            else:
                gap = F.abs(F.col("__t") - rt_of_match)
            match = F.when(gap <= F.lit(float(tolerance)), F.col("__match"))
        out = out.select(F.col("__l").alias("__l"), match.alias("__m"))
        if inner:
            out = out.filter(F.col("__m").isNotNull())
        return out.select("__l.*", F.col("__m").alias(as_field))

    return fn


@register_stage("$rangeJoin", "per_batch")
def range_join_stage(expression: Any, ctx: Context) -> StageFn:
    """``{from, on?, leftValue, rightStart, rightEnd, as, binSize,
    preserveUnmatched?}`` — join every left document to the right
    documents whose ``[rightStart, rightEnd]`` interval contains
    ``leftValue`` (plus optional equality keys ``on``), one output row
    per match; ``preserveUnmatched: true`` keeps left documents with a
    null ``as`` instead of dropping them.

    Spark-first physical strategy — the **binned range join**: a naive
    inequality join is a per-key cross product.  Instead both sides bin
    by ``binSize``: each right interval explodes to the bins it overlaps,
    the left value lives in exactly one bin, and the join becomes a hash
    equi-join on (keys…, bin) with the exact containment predicate as a
    residual condition.  A (left, right) pair can only meet in the left
    row's single bin, so no dedup pass is needed.  Choose ``binSize`` ≈
    the typical interval width: fan-out per right row is
    width/binSize + 1, while a too-large bin degrades pruning.
    Timestamp values bin via microseconds (``binSize`` in ms).
    """
    from_coll = expression["from"]
    on = expression.get("on")
    keys = [] if on is None else ([on] if isinstance(on, str) else list(on))
    left_value = expression["leftValue"]
    right_start = expression["rightStart"]
    right_end = expression["rightEnd"]
    as_field = expression.get("as", "matched")
    bin_size = float(expression["binSize"])
    preserve = bool(expression.get("preserveUnmatched", False))
    if bin_size <= 0:
        raise ValueError("$rangeJoin binSize must be positive")

    def numeric(col, dtype):
        if isinstance(dtype, T.TimestampType):
            return F.unix_micros(col) / F.lit(1000.0)  # ms, like tolerance
        return col.cast("double")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        right = c.collection(from_coll)
        lv_raw = compile_expr(left_value, ExprContext(schema=df.schema))
        lv = numeric(lv_raw, df.select(lv_raw.alias("x")).schema["x"].dataType)
        rs_raw = compile_expr(right_start, ExprContext(schema=right.schema))
        re_raw = compile_expr(right_end, ExprContext(schema=right.schema))
        rtype = right.select(rs_raw.alias("x")).schema["x"].dataType
        rs = numeric(rs_raw, rtype)
        re_ = numeric(re_raw, rtype)
        rpay = F.struct(*[F.col(x) for x in right.columns])
        r2 = right.select(
            *[F.col(k).alias(f"__rk_{k}") for k in keys],
            rs.alias("__lo"), re_.alias("__hi"), rpay.alias("__r"),
        ).withColumn(
            "__bin",
            F.explode(F.sequence(
                F.floor(F.col("__lo") / bin_size).cast("long"),
                F.floor(F.col("__hi") / bin_size).cast("long"),
            )),
        )
        l2 = df.withColumn("__v", lv).withColumn(
            "__bin", F.floor(F.col("__v") / bin_size).cast("long")
        )
        cond = (l2["__bin"] == r2["__bin"]) \
            & (r2["__lo"] <= l2["__v"]) & (l2["__v"] <= r2["__hi"])
        for k in keys:
            cond = cond & l2[k].eqNullSafe(r2[f"__rk_{k}"])
        joined = l2.join(r2, cond, "left_outer" if preserve else "inner")
        out = joined.select(
            *[l2[x] for x in df.columns], r2["__r"].alias(as_field)
        )
        return out

    return fn


def _rt_over_struct(right_time: Any, struct_col):
    """Re-anchor a ``"$field"`` right-time path onto the matched struct.
    Only simple field paths are supported for ``tolerance`` (the general
    expression would need re-compilation against a synthetic schema)."""
    if not (isinstance(right_time, str) and right_time.startswith("$")):
        raise ValueError(
            "$asOfJoin tolerance requires rightTime to be a simple '$field' path"
        )
    col = struct_col
    for part in right_time[1:].split("."):
        col = col.getField(part)
    return col
