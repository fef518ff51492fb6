"""Batch-completeness stages + event-time windowing.

The reference is an infinite-stream engine and deliberately omits every
stage that "has no meaning for infinite streams" (Pipeline.java:31-32;
SURVEY.md §2.2): ``$sort``, ``$limit``, ``$skip``, ``$sample``, ``$facet``,
``$sortByCount``, ``$unionWith``, ``$setWindowFields``, ``$fill``,
``$densify``.  A MongoDB user switching to this engine still runs them in
*batch* pipelines, so they are implemented here with public-MongoDB
semantics; the kind each one declares in ``register_stage`` (the table in
pipeline.py, listed in README.md) says whether it also streams —
``$sortByCount`` does, as an update-mode aggregate.  They run on native
Spark operators (sort -> global orderBy which Catalyst
collapses to TakeOrderedAndProject under a following $limit; window fields
-> Spark window functions; densify -> sequence + anti-join union).

``$windowGroup`` is this engine's opt-in event-time superset (SURVEY.md §1
"Time" row: the reference is wall-clock only): tumbling/sliding windows on
a timestamp expression, watermark-compatible, same accumulator registry as
``$group`` — in streaming it is exactly Spark's windowed stateful
aggregation.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..context import Context, pin
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, compile_pipeline, register_stage
from .group import compile_accumulator, sorted_output_array, topn_struct_and_cmp


def _sort_cols(sort_by: dict[str, int]) -> list[Column]:
    # Mongo sorts nulls/missing first ascending, last descending — Spark's
    # asc()/desc() defaults match
    cols = []
    for field, direction in sort_by.items():
        c = F.col(field)
        cols.append(c.asc() if direction == 1 else c.desc())
    return cols


@register_stage("$sort", "batch")
def sort_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, c: Context) -> DataFrame:
        return df.orderBy(*_sort_cols(expression))

    return fn


@register_stage("$limit", "batch")
def limit_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, c: Context) -> DataFrame:
        return df.limit(int(expression))

    return fn


@register_stage("$skip", "batch")
def skip_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, c: Context) -> DataFrame:
        return df.offset(int(expression))

    return fn


@register_stage("$sample", "batch")
def sample_stage(expression: Any, ctx: Context) -> StageFn:
    """``{size: n}`` = MongoDB's random-n, EXACT count.  r6 scale path
    (Spark's own ``RDD.takeSample`` shape as DataFrame ops): count the
    input (one agg job), Bernoulli-oversample at the scan with an
    inflated fraction whose shortfall probability is < 1e-4
    (``n/cnt + 9.2*sqrt(n)/cnt`` — the Poisson tail bound Spark's
    SamplingUtils uses), then take exactly ``n`` of the ~n sampled rows
    by rand() order — a TakeOrderedAndProject over O(n) rows, never a
    global sort of the corpus.  On the rare shortfall the fraction
    doubles (2 retries), then falls back to the full
    orderBy(rand()).limit(n).  Uniform: Bernoulli keeps every row
    independently, the top-n-by-rand picks a uniform n-subset of the
    kept set, so every n-subset of the population is equally likely.
    Eager (runs the count when the stage executes) like $bucketAuto's
    boundary job.

    ``{fraction: f}`` = the approximate-count engine extension:
    Bernoulli sampling at the scan, no extra job, no shuffle
    (SCALE.md §5)."""
    size = expression.get("size")
    fraction = expression.get("fraction")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        seed = expression.get("seed")
        if fraction is not None:
            # keyword fraction=: the positional form binds to
            # withReplacement and PySpark silently DROPS the seed
            return df.sample(fraction=float(fraction), seed=seed)
        n = int(size)
        cnt = df.count()
        if n >= cnt:
            return df
        import math

        q = min(1.0, (n + 9.2 * math.sqrt(n) + 15.0) / cnt)
        for attempt in range(3):
            if q >= 1.0:
                break
            # sample() freezes its seed in the plan at call time (an
            # explicit one here when given), so the count below and the
            # emitted rows see the SAME Bernoulli draw
            s = df.sample(fraction=q, seed=None if seed is None
                          else int(seed) + attempt)
            if s.count() >= n:
                rnd = F.rand() if seed is None else F.rand(int(seed) + 7)
                return s.orderBy(rnd).limit(n)
            q = min(1.0, q * 2)
        rnd = F.rand() if seed is None else F.rand(int(seed) + 7)
        return df.orderBy(rnd).limit(n)

    return fn


@register_stage("$sortByCount", "aggregate")
def sort_by_count_stage(expression: Any, ctx: Context) -> StageFn:
    def fn(df: DataFrame, c: Context) -> DataFrame:
        key = compile_expr(expression, ExprContext(schema=df.schema))
        out = df.groupBy(key.alias("_id")).agg(F.count(F.lit(1)).alias("count"))
        if c.streaming:
            return out  # ordering is meaningless under update mode
        return out.orderBy(F.col("count").desc())

    return fn


@register_stage("$unionWith", "batch")
def union_with_stage(expression: Any, ctx: Context) -> StageFn:
    if isinstance(expression, str):
        coll, sub = expression, None
    else:
        # `coll` is optional since MongoDB 6.0 when the pipeline is
        # self-sourcing (starts with $documents)
        coll, sub = expression.get("coll"), expression.get("pipeline")
    if coll is None and not sub:
        raise ValueError("$unionWith needs coll and/or pipeline")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        other = c.collection(coll) if coll is not None else df.limit(0)
        if sub:
            other = compile_pipeline(sub, c)(other)
        return df.unionByName(other, allowMissingColumns=True)

    return fn


@register_stage("$rankFusion", "batch")
def rank_fusion_stage(expression: Any, ctx: Context) -> StageFn:
    """Hybrid-search reciprocal rank fusion (MongoDB 8.0's $rankFusion):
    ``{input: {pipelines: {name: [...stages]}}, combination: {weights},
    rankConstant, id, limit}``.

    Each named sub-pipeline runs over the same input and must yield a
    ranked result carrying the ``id`` column and a ``rank`` column (our
    $bm25 / $annTopK / $annLshSearch / $annIvfSearch all do; any pipeline
    ending in $sort+$limit can add one via $setWindowFields $rank).  RRF
    score = Σ_p weight_p / (rankConstant + rank_p) over the pipelines
    that returned the doc.  Spark shape: the k-row ranked outputs are
    full-outer-joined on id — each side is top-k-sized, i.e. broadcast-
    tiny regardless of corpus size — then re-ranked by fused score.
    """
    pipelines: dict = expression["input"]["pipelines"]
    weights = (expression.get("combination") or {}).get("weights", {})
    rank_const = float(expression.get("rankConstant", 60))
    id_field = expression.get("id", "_id")
    # Mongo requires bounded sub-pipelines; an unbounded fused set would
    # serialize through the final unpartitioned rank window.  A missing
    # `limit` therefore defaults to 1000 (documented) so ordering+limit
    # always collapses to TakeOrderedAndProject and the rank window runs
    # over at most `limit` rows.
    limit = int(expression.get("limit", 1000))
    if not pipelines:
        raise ValueError("$rankFusion needs at least one input pipeline")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        fused: Optional[DataFrame] = None
        contribs = []
        for name, sub in pipelines.items():
            res = compile_pipeline(sub, c)(df)
            if "rank" not in res.columns or id_field not in res.columns:
                raise ValueError(
                    f"$rankFusion pipeline {name!r} must output "
                    f"'{id_field}' and 'rank' columns"
                )
            w = float(weights.get(name, 1))
            side = res.select(
                F.col(id_field),
                (F.lit(w) / (F.lit(rank_const) + F.col("rank").cast("double")))
                .alias(f"__rrf_{name}"),
            )
            contribs.append(f"__rrf_{name}")
            fused = side if fused is None else fused.join(
                side, on=id_field, how="full_outer"
            )
        score = sum(
            (F.coalesce(F.col(c_), F.lit(0.0)) for c_ in contribs),
            start=F.lit(0.0),
        )
        out = fused.select(F.col(id_field), score.alias("score"))
        ordered = _fusion_top(
            "$rankFusion", out, id_field, limit, "limit" in expression,
            probe=expression.get("warnOnTruncate", True))
        from pyspark.sql import Window

        w_ = Window.orderBy(F.col("score").desc(), F.col(id_field))
        return ordered.withColumn("rank", F.row_number().over(w_))

    return fn


def _fusion_top(
    stage: str, fused: DataFrame, id_field: str, limit: int, explicit: bool,
    probe: bool = True,
) -> DataFrame:
    """Order the fused (id, score) set and bound it to ``limit`` rows.

    When the user did NOT pass a ``limit``, the implicit default 1000
    silently truncates larger fused sets — make that detectable WITHOUT
    re-executing the fused sub-pipelines: take ``limit + 1`` rows ONCE
    (TakeOrderedAndProject — a bounded job even over unbounded-looking
    sub-pipelines), collect them (<= 1001 rows — this path only runs
    with the IMPLICIT default limit, so the bound is a constant, the
    same class as $trace's limit(20)), warn when a row past the limit
    exists, and serve the result as a local relation — no cache entry
    left behind, no second execution of the sub-pipelines.  NOTE the
    laziness trade (advisor r6): this probe EXECUTES the fused
    sub-pipelines at stage-APPLICATION time, before any action on the
    pipeline result.  An explicit ``limit`` is user-requested truncation
    and stays fully lazy, as does ``warnOnTruncate: false`` (the
    documented opt-out for callers that compile pipelines they may
    never run)."""
    order = [F.col("score").desc(), F.col(id_field)]
    ordered = fused.orderBy(*order)
    if explicit or not probe:
        return ordered.limit(limit)
    rows = ordered.limit(limit + 1).collect()
    if len(rows) > limit:
        import warnings

        warnings.warn(
            f"{stage}: fused result exceeds the implicit default limit "
            f"{limit} and is being truncated — pass an explicit 'limit' "
            "to choose the bound (or silence this warning)",
            RuntimeWarning,
            stacklevel=3,
        )
    local = fused.sparkSession.createDataFrame(rows[:limit], fused.schema)
    return local.orderBy(*order)


@register_stage("$scoreFusion", "batch")
def score_fusion_stage(expression: Any, ctx: Context) -> StageFn:
    """Score-based hybrid search (the shape of MongoDB 8.2's $scoreFusion):
    ``{input: {pipelines: {name: [...]}, normalization}, combination:
    {weights, method}, id, limit}``.

    Each sub-pipeline must emit ``id`` + ``score``; scores are normalized
    per pipeline (``minMaxScaler`` to [0,1] or ``sigmoid``), then combined
    as the weighted average over the pipelines that returned the doc.
    Like $rankFusion, the fusion joins top-k-sized inputs — min/max come
    from a single-row aggregate over k rows, broadcast back.
    """
    pipelines: dict = expression["input"]["pipelines"]
    normalization = expression["input"].get("normalization", "none")
    if normalization not in ("none", "minMaxScaler", "sigmoid"):
        raise ValueError(f"unknown normalization {normalization!r}")
    weights = (expression.get("combination") or {}).get("weights", {})
    id_field = expression.get("id", "_id")
    # same bounded-fusion stance as $rankFusion: default limit keeps the
    # final rank window over at most `limit` rows
    limit = int(expression.get("limit", 1000))
    if not pipelines:
        raise ValueError("$scoreFusion needs at least one input pipeline")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        fused: Optional[DataFrame] = None
        names = list(pipelines)
        for name in names:
            res = compile_pipeline(pipelines[name], c)(df)
            if "score" not in res.columns or id_field not in res.columns:
                raise ValueError(
                    f"$scoreFusion pipeline {name!r} must output "
                    f"'{id_field}' and 'score' columns"
                )
            s = F.col("score").cast("double")
            if normalization == "sigmoid":
                norm = F.lit(1.0) / (F.lit(1.0) + F.exp(-s))
                side = res.select(F.col(id_field), norm.alias(f"__s_{name}"))
            elif normalization == "minMaxScaler":
                stats = res.agg(F.min(s).alias("__lo"), F.max(s).alias("__hi"))
                norm = F.coalesce(
                    F.try_divide(s - F.col("__lo"), F.col("__hi") - F.col("__lo")),
                    F.lit(0.0),
                )
                side = res.crossJoin(F.broadcast(stats)).select(
                    F.col(id_field), norm.alias(f"__s_{name}")
                )
            else:
                side = res.select(F.col(id_field), s.alias(f"__s_{name}"))
            fused = side if fused is None else fused.join(
                side, on=id_field, how="full_outer"
            )
        num = sum(
            (F.coalesce(F.col(f"__s_{n}"), F.lit(0.0)) * F.lit(float(weights.get(n, 1)))
             for n in names),
            start=F.lit(0.0),
        )
        den = sum((F.lit(float(weights.get(n, 1))) for n in names), start=F.lit(0.0))
        out = fused.select(F.col(id_field), (num / den).alias("score"))
        ordered = _fusion_top(
            "$scoreFusion", out, id_field, limit, "limit" in expression,
            probe=expression.get("warnOnTruncate", True))
        from pyspark.sql import Window

        w_ = Window.orderBy(F.col("score").desc(), F.col(id_field))
        return ordered.withColumn("rank", F.row_number().over(w_))

    return fn


@register_stage("$facet", "batch")
def facet_stage(expression: Any, ctx: Context) -> StageFn:
    """Each facet sub-pipeline runs over the same input; the output is ONE
    document with each facet's results as an array field.  Spark shape: one
    single-row aggregate per facet, assembled with a cross join (all sides
    are 1-row — broadcast, no shuffle)."""

    def fn(df: DataFrame, c: Context) -> DataFrame:
        out: Optional[DataFrame] = None
        for name, sub in expression.items():
            res = compile_pipeline(sub, c)(df)
            doc = F.struct(*[F.col(x) for x in res.columns])
            one = res.agg(F.collect_list(doc).alias(name))
            out = one if out is None else out.crossJoin(F.broadcast(one))
        return out if out is not None else df.limit(0)

    return fn


# ------------------------------------------------------- $setWindowFields

def _bound(v: Any, is_lower: bool) -> int:
    if v == "unbounded":
        return Window.unboundedPreceding if is_lower else Window.unboundedFollowing
    if v == "current":
        return Window.currentRow
    return int(v)


def _frame(spec: list, w: WindowSpec, is_range: bool) -> WindowSpec:
    lo, hi = _bound(spec[0], True), _bound(spec[1], False)
    return w.rangeBetween(lo, hi) if is_range else w.rowsBetween(lo, hi)


_UNIT_MS = {
    "week": 604800000.0,
    "day": 86400000.0,
    "hour": 3600000.0,
    "minute": 60000.0,
    "second": 1000.0,
    "millisecond": 1.0,
}


def _window_n_family(op: str, arg: Any, ectx: ExprContext, w: WindowSpec) -> Column:
    """$firstN/$lastN/$minN/$maxN/$top/$bottom/$topN/$bottomN over a window
    frame — same semantics as the $group accumulators (operators/group.py
    `_compile_accumulator_superset`), with the collect applied over the
    frame (frame order = the window's sortBy order)."""
    if op in ("$minN", "$maxN"):
        v = compile_expr(arg["input"], ectx)
        s = F.array_sort(F.collect_list(v).over(w))
        return F.slice(F.reverse(s) if op == "$maxN" else s, 1, arg["n"])
    if op in ("$firstN", "$lastN"):
        v = compile_expr(arg["input"], ectx)
        ordered = F.collect_list(v).over(w)
        n = arg["n"]
        if op == "$firstN":
            return F.slice(ordered, 1, n)
        return F.slice(
            ordered, F.greatest(F.size(ordered) - n + 1, F.lit(1)), F.lit(n)
        )
    sort_by = arg["sortBy"]
    if not isinstance(sort_by, dict) or not sort_by:
        raise ValueError(f"{op} needs a non-empty sortBy document")
    out = compile_expr(arg["output"], ectx)
    if len(sort_by) == 1 and op in ("$top", "$bottom"):
        field, direction = next(iter(sort_by.items()))
        sort_col = compile_expr("$" + field, ectx)
        want_min = (op == "$top") == (direction == 1)
        f = F.min_by if want_min else F.max_by
        return f(out, sort_col).over(w)
    struct, cmp = topn_struct_and_cmp(sort_by, out, ectx)
    in_order = sorted_output_array(F.collect_list(struct).over(w), cmp)
    if op == "$top":
        return F.element_at(in_order, 1)
    if op == "$bottom":
        return F.element_at(in_order, -1)
    n = arg["n"]
    if op == "$topN":
        return F.slice(in_order, 1, n)
    return F.slice(
        in_order, F.greatest(F.size(in_order) - n + 1, F.lit(1)), F.lit(n)
    )


def _quantile_of_sorted(s: Column, p: float) -> Column:
    """Linear-interpolated quantile of an ALREADY-SORTED null-free array
    of doubles (same interpolation as Spark's exact `percentile`): null
    on empty input."""
    n = F.size(s)
    idx = (n - 1).cast("double") * F.lit(float(p))
    lo = F.floor(idx).cast("int")
    frac = idx - lo.cast("double")
    lo_v = F.element_at(s, lo + 1)
    hi_v = F.element_at(s, F.least(lo + 2, n))
    return F.when(n > 0, lo_v + (hi_v - lo_v) * frac)


def _array_quantile(vals: Column, p: float) -> Column:
    """Linear-interpolated quantile of an array of doubles (same
    interpolation as Spark's exact `percentile`): null on empty input."""
    return _quantile_of_sorted(
        F.array_sort(F.filter(vals, lambda x: x.isNotNull())), p)


def _unbounded_both(window: Any) -> bool:
    """True when the window frame's row set is the WHOLE partition
    (no window spec, or explicit unbounded..unbounded bounds) — then the
    frame contents do not depend on the window's ordering."""
    if window is None:
        return True
    bounds = window.get("documents") or window.get("range")
    return bounds == ["unbounded", "unbounded"]


def _sort_numeric(sort_by: Optional[dict], ectx: ExprContext, unit: Optional[str]) -> Column:
    """The single sortBy key as a double for $derivative/$integral: dates
    become per-`unit` scalars (unix millis / unit); numerics pass through
    (Mongo requires `unit` only for date sort keys)."""
    if not sort_by or len(sort_by) != 1:
        raise ValueError("$derivative/$integral need exactly one sortBy field")
    name = next(iter(sort_by))
    t = F.col(name)
    dt = {f.name: f.dataType for f in ectx.schema.fields}.get(name)
    if isinstance(dt, (T.TimestampType, T.DateType)):
        if not unit:
            raise ValueError("unit is required for a date sortBy field")
        return F.unix_millis(t.cast("timestamp")).cast("double") / F.lit(_UNIT_MS[unit])
    if unit:
        raise ValueError("unit is only valid for date sort fields")
    return t.cast("double")


_WINDOW_AGGS = {
    "$sum": F.sum,
    "$avg": F.avg,
    "$min": F.min,
    "$max": F.max,
    "$push": F.collect_list,
    "$addToSet": lambda v: F.array_sort(F.collect_set(v)),
    "$first": lambda v: F.first(v),
    "$last": lambda v: F.last(v),
    "$stdDevPop": F.stddev_pop,
    "$stdDevSamp": F.stddev_samp,
    # sketch superset (same stance as the $group accumulators): bounded
    # state per frame where addToSet/percentile would collect values
    "$approxCountDistinct": F.approx_count_distinct,
}


@register_stage("$setWindowFields", "batch")
def set_window_fields_stage(expression: Any, ctx: Context) -> StageFn:
    partition_by = expression.get("partitionBy")
    sort_by = expression.get("sortBy")
    output = expression["output"]

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        base = (
            Window.partitionBy(compile_expr(partition_by, ectx))
            if partition_by is not None
            else Window.partitionBy(F.lit(0))
        )
        ordered = base.orderBy(*_sort_cols(sort_by)) if sort_by else base
        out = df
        for path, spec in output.items():
            spec = dict(spec)
            window = spec.pop("window", None)
            (op, arg), = spec.items()
            if op == "$rank":
                col = F.rank().over(ordered)
            elif op == "$denseRank":
                col = F.dense_rank().over(ordered)
            elif op == "$documentNumber":
                col = F.row_number().over(ordered)
            elif op == "$shift":
                v = compile_expr(arg["output"], ectx)
                by = arg.get("by", 1)
                # lead/lag's third arg applies ONLY outside the partition —
                # a coalesce would also overwrite legitimately-null
                # in-window values, which Mongo leaves null
                default = arg.get("default")
                col = (
                    F.lead(v, by, default).over(ordered)
                    if by >= 0
                    else F.lag(v, -by, default).over(ordered)
                )
            elif op == "$locf":
                run = ordered.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
                col = F.last(compile_expr(arg, ectx), ignorenulls=True).over(run)
            elif op == "$linearFill":
                if not sort_by or len(sort_by) != 1:
                    raise ValueError("$linearFill needs one sortBy field")
                sf = F.col(next(iter(sort_by))).cast("double")
                v = compile_expr(arg, ectx)
                back = ordered.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
                fwd = ordered.rowsBetween(
                    Window.currentRow, Window.unboundedFollowing
                )
                prev_v = F.last(v, ignorenulls=True).over(back)
                prev_t = F.last(F.when(v.isNotNull(), sf), ignorenulls=True).over(back)
                next_v = F.first(v, ignorenulls=True).over(fwd)
                next_t = F.first(F.when(v.isNotNull(), sf), ignorenulls=True).over(fwd)
                interp = prev_v + (next_v - prev_v) * F.try_divide(
                    sf - prev_t, next_t - prev_t
                )
                col = F.when(v.isNotNull(), v).otherwise(
                    F.when(prev_v.isNotNull() & next_v.isNotNull(), interp)
                )
            elif op == "$expMovingAvg":
                # EMA from partition start to the current row (Mongo allows
                # no explicit window here): sequential fold over the
                # running collect_list.  The frame is TRUNCATED to the last
                # K rows where (1-alpha)^K < 1e-18: older terms weigh less
                # than double precision can represent, so results are
                # exact-within-representation while the per-partition cost
                # drops from O(n^2) to O(n*K) — linear in partition length.
                # Rows with fewer than K predecessors see their whole
                # history (frames clip at the partition edge): exact.
                import math

                alpha = (
                    2.0 / (arg["N"] + 1) if "N" in arg else float(arg["alpha"])
                )
                if alpha >= 1.0:
                    hist = 1
                else:
                    hist = max(1, math.ceil(-41.5 / math.log1p(-alpha)))
                y = compile_expr(arg["input"], ectx).cast("double")
                run = ordered.rowsBetween(-(hist - 1), Window.currentRow)
                vals = F.collect_list(y).over(run)
                col = F.aggregate(
                    vals,
                    F.lit(None).cast("double"),
                    lambda acc, x: F.when(acc.isNull(), x).otherwise(
                        x * F.lit(alpha) + acc * (1.0 - F.lit(alpha))
                    ),
                )
            else:
                # aggregate op over a frame: default = whole partition
                # (MongoDB's documented default window)
                if window is not None:
                    if "unit" in window and "documents" in window:
                        # Mongo rejects unit with document windows
                        raise ValueError(
                            "$setWindowFields: 'unit' is only valid with "
                            "'range' windows, not 'documents'"
                        )
                    if "unit" in window and "range" not in window:
                        raise ValueError(
                            "$setWindowFields: a window with 'unit' "
                            "requires a 'range' bound"
                        )
                    if "documents" not in window and "range" not in window:
                        raise ValueError(
                            "$setWindowFields: a window needs 'documents' "
                            f"or 'range' (got {sorted(window)})"
                        )
                if window is None:
                    w = (ordered if sort_by else base).rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                elif "documents" in window:
                    w = _frame(window["documents"], ordered, is_range=False)
                elif "unit" in window:
                    # date-keyed range window: re-order by the sortBy key
                    # scaled to `unit`, so the numeric range bounds mean
                    # "N units" (Mongo {range: [-1, 0], unit: "hour"})
                    t = _sort_numeric(sort_by, ectx, window["unit"])
                    w = _frame(window["range"], base.orderBy(t),
                               is_range=True)
                else:
                    w = _frame(window["range"], ordered, is_range=True)
                if op == "$count":
                    col = F.count(F.lit(1)).over(w)
                elif op in ("$covariancePop", "$covarianceSamp"):
                    f = F.covar_pop if op == "$covariancePop" else F.covar_samp
                    e1, e2 = arg
                    col = f(
                        compile_expr(e1, ectx).cast("double"),
                        compile_expr(e2, ectx).cast("double"),
                    ).over(w)
                elif op in ("$median", "$percentile"):
                    # median/percentile reject ordered+framed windows in
                    # Spark; interpolate over the frame's sorted values.
                    # r14: with an unbounded..unbounded frame the row set
                    # is order-independent, so collecting over a window
                    # ORDERED BY THE VALUE yields the sorted array
                    # directly (one partition sort inside WindowExec) —
                    # the generic path's per-row array_sort of the whole
                    # partition list was O(n² log n) per partition
                    # (measured: window_calculus 11.3 s at sf0.1).
                    # collect_list skips nulls under either ordering and
                    # NaN sorts last in both orderBy and array_sort, so
                    # the arrays are identical.
                    x = compile_expr(arg["input"], ectx).cast("double")
                    if _unbounded_both(window):
                        ws = base.orderBy(x.asc()).rowsBetween(
                            Window.unboundedPreceding,
                            Window.unboundedFollowing,
                        )
                        s = F.collect_list(x).over(ws)
                        qof = lambda p: _quantile_of_sorted(s, p)  # noqa: E731
                    else:
                        vals = F.collect_list(x).over(w)
                        qof = lambda p: _array_quantile(vals, p)  # noqa: E731
                    if op == "$median":
                        col = qof(0.5)
                    else:
                        col = F.array(*[qof(p) for p in arg["p"]])
                elif op == "$minMaxScaler":
                    # Mongo 8.1: scale the current value into [min, max]
                    # using the window frame's extrema; a constant frame
                    # (wmax == wmin) scales to the lower bound
                    lo_v = float(arg.get("min", 0.0))
                    hi_v = float(arg.get("max", 1.0))
                    if not lo_v < hi_v:
                        raise ValueError("$minMaxScaler needs min < max")
                    if window is not None:
                        # a frame excluding the current document would
                        # scale x against extrema not containing it —
                        # out-of-range output; Mongo rejects such windows
                        def _b(v, side):
                            if v == "unbounded":
                                return (float("-inf") if side == "lo"
                                        else float("inf"))
                            return 0.0 if v == "current" else float(v)

                        bnds = (window.get("documents")
                                or window.get("range"))
                        if _b(bnds[0], "lo") > 0 or _b(bnds[1], "hi") < 0:
                            raise ValueError(
                                "$minMaxScaler window must include the "
                                "current document")
                    x = compile_expr(arg["input"], ectx).cast("double")
                    lo = F.lit(lo_v)
                    hi = F.lit(hi_v)
                    wmin = F.min(x).over(w)
                    wmax = F.max(x).over(w)
                    scaled = lo + F.try_divide(
                        (x - wmin) * (hi - lo), wmax - wmin)
                    col = F.when(x.isNotNull(), F.coalesce(scaled, lo))
                elif op == "$derivative":
                    # (Δ output) / (Δ sortBy), per `unit` when sortBy is a
                    # date (Mongo $derivative)
                    y = compile_expr(arg["input"], ectx).cast("double")
                    t = _sort_numeric(sort_by, ectx, arg.get("unit"))
                    col = F.try_divide(
                        F.last(y).over(w) - F.first(y).over(w),
                        F.last(t).over(w) - F.first(t).over(w),
                    )
                elif op == "$integral":
                    # trapezoidal rule over the frame (Mongo $integral)
                    y = compile_expr(arg["input"], ectx).cast("double")
                    t = _sort_numeric(sort_by, ectx, arg.get("unit"))
                    pts = F.collect_list(F.struct(t.alias("t"), y.alias("y"))).over(w)
                    col = F.aggregate(
                        pts,
                        F.struct(
                            F.lit(None).cast("double").alias("pt"),
                            F.lit(None).cast("double").alias("py"),
                            F.lit(0.0).alias("acc"),
                        ),
                        lambda a, p: F.struct(
                            p.getField("t").alias("pt"),
                            p.getField("y").alias("py"),
                            F.when(
                                a.getField("pt").isNull(), a.getField("acc")
                            )
                            .otherwise(
                                a.getField("acc")
                                + (p.getField("t") - a.getField("pt"))
                                * (p.getField("y") + a.getField("py"))
                                / 2.0
                            )
                            .alias("acc"),
                        ),
                        lambda a: a.getField("acc"),
                    )
                elif op in ("$firstN", "$lastN", "$minN", "$maxN",
                            "$top", "$bottom", "$topN", "$bottomN"):
                    col = _window_n_family(op, arg, ectx, w)
                elif op in _WINDOW_AGGS:
                    col = _WINDOW_AGGS[op](compile_expr(arg, ectx)).over(w)
                else:
                    raise NotImplementedError(
                        f"unsupported $setWindowFields op {op}"
                    )
            out = out.withColumn(path, col)
        return out

    return fn


# ---------------------------------------------------------- $fill/$densify


@register_stage("$fill", "batch")
def fill_stage(expression: Any, ctx: Context) -> StageFn:
    partition_by = expression.get("partitionBy")
    sort_by = expression.get("sortBy")
    output = expression["output"]

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        out = df
        needs_window = any("method" in spec for spec in output.values())
        w = None
        if needs_window:
            if not sort_by:
                raise ValueError("$fill with method needs sortBy")
            base = (
                Window.partitionBy(compile_expr(partition_by, ectx))
                if partition_by is not None
                else Window.partitionBy(F.lit(0))
            )
            w = base.orderBy(*_sort_cols(sort_by)).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        for field, spec in output.items():
            if "value" in spec:
                out = out.withColumn(
                    field,
                    F.coalesce(F.col(field), compile_expr(spec["value"], ectx)),
                )
            elif spec.get("method") == "locf":
                out = out.withColumn(
                    field, F.last(F.col(field), ignorenulls=True).over(w)
                )
            elif spec.get("method") == "linear":
                # Interpolate nulls between the bracketing non-null values
                # proportionally to the (single, numeric) sortBy key; nulls
                # before the first / after the last known value stay null
                # (MongoDB linearFill).
                if len(sort_by) != 1:
                    raise ValueError("$fill method 'linear' needs one sortBy field")
                sf = F.col(next(iter(sort_by))).cast("double")
                base_w = (
                    Window.partitionBy(compile_expr(partition_by, ectx))
                    if partition_by is not None
                    else Window.partitionBy(F.lit(0))
                )
                back = base_w.orderBy(*_sort_cols(sort_by)).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
                fwd = base_w.orderBy(*_sort_cols(sort_by)).rowsBetween(
                    Window.currentRow, Window.unboundedFollowing
                )
                col = F.col(field)
                prev_v = F.last(col, ignorenulls=True).over(back)
                prev_t = F.last(
                    F.when(col.isNotNull(), sf), ignorenulls=True
                ).over(back)
                next_v = F.first(col, ignorenulls=True).over(fwd)
                next_t = F.first(
                    F.when(col.isNotNull(), sf), ignorenulls=True
                ).over(fwd)
                interp = prev_v + (next_v - prev_v) * F.try_divide(
                    sf - prev_t, next_t - prev_t
                )
                out = out.withColumn(
                    field,
                    F.when(col.isNotNull(), col).otherwise(
                        F.when(prev_v.isNotNull() & next_v.isNotNull(), interp)
                    ),
                )
            else:
                raise ValueError(f"bad $fill output spec for {field}: {spec}")
        return out

    return fn


@register_stage("$densify", "batch")
def densify_stage(expression: Any, ctx: Context) -> StageFn:
    """Insert documents so `field` has no gaps of more than `step`:
    grid = sequence(lo, hi, step) per partition, minus values already
    present (left_anti), unioned back (new docs carry only the field +
    partition fields, like MongoDB's)."""
    field = expression["field"]
    rng = expression["range"]
    step = rng["step"]
    bounds = rng["bounds"]
    unit = rng.get("unit")
    if unit is not None:
        if unit not in ("millisecond", "second", "minute", "hour", "day",
                        "week", "month", "quarter", "year"):
            raise ValueError(f"$densify: unknown unit {unit!r}")
        if float(step) != int(step):
            # Mongo rejects fractional steps with a unit; silently
            # truncating would fill a denser, wrong grid
            raise ValueError("$densify: step must be a whole number "
                             "when unit is specified")
        step = int(step)
        if unit == "quarter":   # Spark intervals have no quarter unit
            step, unit = step * 3, "month"
    partition_fields = rng.get("partitionByFields") or expression.get(
        "partitionByFields", []
    )

    def fn(df: DataFrame, c: Context) -> DataFrame:
        fcol = F.col(field)
        if bounds in ("full", "partition"):
            lo, hi = F.min(fcol), F.max(fcol)
            if bounds == "partition":
                # per-partition [min, max] (MongoDB bounds:"partition")
                if not partition_fields:
                    raise ValueError('$densify bounds "partition" needs partitionByFields')
                grid_base = df.groupBy(*partition_fields).agg(
                    lo.alias("__lo"), hi.alias("__hi")
                )
            elif partition_fields:
                # "full": every partition densifies over the GLOBAL range
                grid_base = df.select(*partition_fields).distinct().crossJoin(
                    F.broadcast(df.agg(lo.alias("__lo"), hi.alias("__hi")))
                )
            else:
                grid_base = df.agg(lo.alias("__lo"), hi.alias("__hi"))
            if unit is not None:
                # date-valued field: interval-typed step (Mongo `unit`)
                seq = F.expr(
                    f"sequence(__lo, __hi, interval {step} {unit})"
                )
            else:
                seq = F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step))
        else:
            lo_v, hi_v = bounds
            grid_base = (
                df.select(*partition_fields).distinct()
                if partition_fields
                else df.limit(1).select(F.lit(1).alias("__one"))
            )
            # MongoDB bounds [lo, hi) — upper exclusive
            if unit is not None:
                lo_c = F.lit(lo_v).cast("timestamp")
                hi_c = F.lit(hi_v).cast("timestamp")
                raw = F.sequence(
                    lo_c, hi_c, F.expr(f"interval {step} {unit}")
                )
                seq = F.filter(raw, lambda x: x < hi_c)
            else:
                seq = F.filter(
                    F.sequence(F.lit(lo_v), F.lit(hi_v), F.lit(step)),
                    lambda x: x < F.lit(hi_v),
                )
        grid = grid_base.select(
            *partition_fields, F.explode(seq).alias(field)
        )
        present = [df[p].eqNullSafe(grid[p]) for p in partition_fields] + [
            df[field].eqNullSafe(grid[field])
        ]
        cond = present[0]
        for p in present[1:]:
            cond = cond & p
        missing = grid.join(df, cond, "left_anti")
        return df.unionByName(missing, allowMissingColumns=True)

    return fn


# ------------------------------------------------- $windowGroup (extension)


@register_stage("$windowGroup", "aggregate")
def window_group_stage(expression: Any, ctx: Context) -> StageFn:
    """Event-time tumbling/sliding window aggregation (engine extension —
    the reference has no event time at all, SURVEY.md §1).  Spec:
    ``{on: <ts expr>, duration: "1 hour", slide?: "15 minutes",
    _id?: <key expr>, <name>: {<accumulator>: <expr>}, ...}``.
    Batch and streaming share the plan; in streaming add a watermark on the
    source for state eviction and append mode."""
    on = expression["on"]
    duration = expression["duration"]
    slide = expression.get("slide")
    id_expr = expression.get("_id")
    accumulators = {
        k: v
        for k, v in expression.items()
        if k not in ("on", "duration", "slide", "_id", "_collection")
    }

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        ts = compile_expr(on, ectx)
        win = F.window(ts, duration, slide) if slide else F.window(ts, duration)
        keys = [win.alias("__w")]
        if id_expr is not None:
            keys.append(compile_expr(id_expr, ectx).alias("_id"))
        aggs = []
        for name, acc in accumulators.items():
            (op, arg), = acc.items()
            aggs.append(compile_accumulator(name, op, arg, ectx, order=None))
        out = df.groupBy(*keys).agg(*aggs)
        return out.select(
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            *[c_ for c_ in out.columns if c_ != "__w"],
        )

    return fn


@register_stage("$sessionWindow", "aggregate")
def session_window_stage(expression: Any, ctx: Context) -> StageFn:
    """Event-time SESSION window aggregation (engine extension — the gap
    variant $windowGroup's fixed windows can't express).  Spec:
    ``{on: <ts expr>, gap: "10 minutes", _id?: <key expr>,
    <name>: {<accumulator>: <expr>}, ...}``.

    Compiles to Spark's native ``session_window`` (dynamic-gap stateful
    windows): batch and streaming share the plan; in streaming add a
    watermark on the source and use append mode — closed sessions emit
    once, state is gap-evicted.  Batch semantics match the classic
    gaps-and-islands SQL (new session when the time since the previous
    event in the key exceeds the gap), which is the DuckDB oracle shape.
    """
    on = expression["on"]
    gap = expression["gap"]
    id_expr = expression.get("_id")
    accumulators = {
        k: v
        for k, v in expression.items()
        if k not in ("on", "gap", "_id", "_collection")
    }

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        ts = compile_expr(on, ectx)
        win = F.session_window(ts, gap)
        keys = [win.alias("__w")]
        if id_expr is not None:
            keys.append(compile_expr(id_expr, ectx).alias("_id"))
        aggs = []
        for name, acc in accumulators.items():
            (op, arg), = acc.items()
            aggs.append(compile_accumulator(name, op, arg, ectx, order=None))
        out = df.groupBy(*keys).agg(*aggs)
        return out.select(
            F.col("__w.start").alias("session_start"),
            F.col("__w.end").alias("session_end"),
            *[c_ for c_ in out.columns if c_ != "__w"],
        )

    return fn


# ---------------------------------------------------------- $graphLookup


@register_stage("$graphLookup", "batch")
def graph_lookup_stage(expression: Any, ctx: Context) -> StageFn:
    """Recursive graph traversal over a collection (MongoDB $graphLookup;
    absent from the reference — SURVEY.md §2.2).  Distributed BFS: each
    round is one equi-join frontier->collection; visited-set pruning
    guarantees termination on cycles.  Rounds are sequential (driver
    loop) but each round's join is fully distributed — depth, not data
    volume, bounds the iteration count."""
    from ..match import compile_match

    from_coll = expression["from"]
    start_with = expression["startWith"]
    connect_from = expression["connectFromField"]
    connect_to = expression["connectToField"]
    as_field = expression["as"]
    max_depth = expression.get("maxDepth")
    depth_field = expression.get("depthField")
    restrict = expression.get("restrictSearchWithMatch")

    def fn(df: DataFrame, c: Context) -> StageFn:
        src = c.collection(from_coll)
        if restrict:
            src = src.filter(compile_match(restrict, ExprContext(schema=src.schema)))
        doc_cols = src.columns
        src = src.select(F.struct(*[F.col(x) for x in doc_cols]).alias("__doc"))

        keyed = df.withColumn("__rk", F.monotonically_increasing_id())
        keyed = keyed.persist()
        keyed.count()  # freeze the nondeterministic row keys
        persisted = [keyed]

        def explode_vals(frame: DataFrame, col: Column) -> DataFrame:
            dtype = frame.select(col.alias("__v")).schema["__v"].dataType
            from pyspark.sql import types as T

            vals = (
                frame.select("__rk", F.explode(col).alias("__val"))
                if isinstance(dtype, T.ArrayType)
                else frame.select("__rk", col.alias("__val"))
            )
            return vals.filter(F.col("__val").isNotNull()).distinct()

        start = compile_expr(start_with, ExprContext(schema=df.schema))
        frontier = explode_vals(keyed, start)
        found = None
        depth = 0
        while True:
            hits = (
                frontier.join(
                    src, src["__doc"].getField(connect_to) == frontier["__val"]
                )
                .select("__rk", "__doc", F.lit(depth).alias("__depth"))
            )
            if found is not None:
                hits = hits.join(
                    found.select("__rk", "__doc"), ["__rk", "__doc"], "left_anti"
                )
            hits = hits.persist()
            persisted.append(hits)
            if hits.isEmpty():
                break
            found = hits if found is None else found.unionByName(hits)
            if max_depth is not None and depth >= max_depth:
                break
            frontier = explode_vals(hits, F.col("__doc").getField(connect_from))
            depth += 1

        if found is None:
            elem_type = "struct<" + ",".join(
                f"`{f.name}`:{f.dataType.simpleString()}"
                for f in src.schema["__doc"].dataType.fields
            ) + (f",`{depth_field}`:bigint" if depth_field else "") + ">"
            out = keyed.withColumn(as_field, F.array().cast(f"array<{elem_type}>"))
        else:
            elem = (
                F.col("__doc").withField(depth_field, F.col("__depth"))
                if depth_field
                else F.col("__doc")
            )
            groups = found.groupBy("__rk").agg(
                F.collect_list(elem).alias("__found")
            )
            out = (
                keyed.join(groups, "__rk", "left")
                .withColumn(as_field, F.coalesce(F.col("__found"), F.array().cast(
                    groups.schema["__found"].dataType.simpleString())))
                .drop("__found")
            )
        # cut the result loose from the cached BFS frames, then release
        # them — otherwise every invocation leaks depth+1 cached frames
        # into executor storage for the session's lifetime
        result = pin(out.drop("__rk"), eager=True)
        for frame in persisted:
            frame.unpersist()
        return result

    return fn


# ------------------------------------------------- $bucketAuto / $documents


# preferred-number series for $bucketAuto granularity (public Renard /
# E-series / powers-of-2 tables, as MongoDB documents them)
_GRANULARITIES: dict[str, list[float]] = {
    "R5": [1.0, 1.6, 2.5, 4.0, 6.3],
    "R10": [1.0, 1.25, 1.6, 2.0, 2.5, 3.15, 4.0, 5.0, 6.3, 8.0],
    "R20": [1.0, 1.12, 1.25, 1.4, 1.6, 1.8, 2.0, 2.24, 2.5, 2.8, 3.15,
            3.55, 4.0, 4.5, 5.0, 5.6, 6.3, 7.1, 8.0, 9.0],
    "R40": [1.0, 1.06, 1.12, 1.18, 1.25, 1.32, 1.4, 1.5, 1.6, 1.7, 1.8,
            1.9, 2.0, 2.12, 2.24, 2.36, 2.5, 2.65, 2.8, 3.0, 3.15, 3.35,
            3.55, 3.75, 4.0, 4.25, 4.5, 4.75, 5.0, 5.3, 5.6, 6.0, 6.3,
            6.7, 7.1, 7.5, 8.0, 8.5, 9.0, 9.5],
    "R80": [1.0, 1.03, 1.06, 1.09, 1.12, 1.15, 1.18, 1.22, 1.25, 1.28,
            1.32, 1.36, 1.4, 1.45, 1.5, 1.55, 1.6, 1.65, 1.7, 1.75, 1.8,
            1.85, 1.9, 1.95, 2.0, 2.06, 2.12, 2.18, 2.24, 2.3, 2.36,
            2.43, 2.5, 2.58, 2.65, 2.72, 2.8, 2.9, 3.0, 3.07, 3.15,
            3.25, 3.35, 3.45, 3.55, 3.65, 3.75, 3.87, 4.0, 4.12, 4.25,
            4.37, 4.5, 4.62, 4.75, 4.87, 5.0, 5.15, 5.3, 5.45, 5.6,
            5.8, 6.0, 6.15, 6.3, 6.5, 6.7, 6.9, 7.1, 7.3, 7.5, 7.75,
            8.0, 8.25, 8.5, 8.75, 9.0, 9.25, 9.5, 9.75],
    "1-2-5": [1.0, 2.0, 5.0],
    "E6": [1.0, 1.5, 2.2, 3.3, 4.7, 6.8],
    "E12": [1.0, 1.2, 1.5, 1.8, 2.2, 2.7, 3.3, 3.9, 4.7, 5.6, 6.8, 8.2],
    "E24": [1.0, 1.1, 1.2, 1.3, 1.5, 1.6, 1.8, 2.0, 2.2, 2.4, 2.7, 3.0,
            3.3, 3.6, 3.9, 4.3, 4.7, 5.1, 5.6, 6.2, 6.8, 7.5, 8.2, 9.1],
    "E48": [1.0, 1.05, 1.1, 1.15, 1.21, 1.27, 1.33, 1.4, 1.47, 1.54,
            1.62, 1.69, 1.78, 1.87, 1.96, 2.05, 2.15, 2.26, 2.37, 2.49,
            2.61, 2.74, 2.87, 3.01, 3.16, 3.32, 3.48, 3.65, 3.83, 4.02,
            4.22, 4.42, 4.64, 4.87, 5.11, 5.36, 5.62, 5.9, 6.19, 6.49,
            6.81, 7.15, 7.5, 7.87, 8.25, 8.66, 9.09, 9.53],
    "E96": [1.0, 1.02, 1.05, 1.07, 1.1, 1.13, 1.15, 1.18, 1.21, 1.24,
            1.27, 1.3, 1.33, 1.37, 1.4, 1.43, 1.47, 1.5, 1.54, 1.58,
            1.62, 1.65, 1.69, 1.74, 1.78, 1.82, 1.87, 1.91, 1.96, 2.0,
            2.05, 2.1, 2.15, 2.21, 2.26, 2.32, 2.37, 2.43, 2.49, 2.55,
            2.61, 2.67, 2.74, 2.8, 2.87, 2.94, 3.01, 3.09, 3.16, 3.24,
            3.32, 3.4, 3.48, 3.57, 3.65, 3.74, 3.83, 3.92, 4.02, 4.12,
            4.22, 4.32, 4.42, 4.53, 4.64, 4.75, 4.87, 4.99, 5.11, 5.23,
            5.36, 5.49, 5.62, 5.76, 5.9, 6.04, 6.19, 6.34, 6.49, 6.65,
            6.81, 6.98, 7.15, 7.32, 7.5, 7.68, 7.87, 8.06, 8.25, 8.45,
            8.66, 8.87, 9.09, 9.31, 9.53, 9.76],
    "E192": [1.0, 1.01, 1.02, 1.04, 1.05, 1.06, 1.07, 1.09, 1.1, 1.11,
             1.13, 1.14, 1.15, 1.17, 1.18, 1.2, 1.21, 1.23, 1.24, 1.26,
             1.27, 1.29, 1.3, 1.32, 1.33, 1.35, 1.37, 1.38, 1.4, 1.42,
             1.43, 1.45, 1.47, 1.49, 1.5, 1.52, 1.54, 1.56, 1.58, 1.6,
             1.62, 1.64, 1.65, 1.67, 1.69, 1.72, 1.74, 1.76, 1.78, 1.8,
             1.82, 1.84, 1.87, 1.89, 1.91, 1.93, 1.96, 1.98, 2.0, 2.03,
             2.05, 2.08, 2.1, 2.13, 2.15, 2.18, 2.21, 2.23, 2.26, 2.29,
             2.32, 2.34, 2.37, 2.4, 2.43, 2.46, 2.49, 2.52, 2.55, 2.58,
             2.61, 2.64, 2.67, 2.71, 2.74, 2.77, 2.8, 2.84, 2.87, 2.91,
             2.94, 2.98, 3.01, 3.05, 3.09, 3.12, 3.16, 3.2, 3.24, 3.28,
             3.32, 3.36, 3.4, 3.44, 3.48, 3.52, 3.57, 3.61, 3.65, 3.7,
             3.74, 3.79, 3.83, 3.88, 3.92, 3.97, 4.02, 4.07, 4.12, 4.17,
             4.22, 4.27, 4.32, 4.37, 4.42, 4.48, 4.53, 4.59, 4.64, 4.7,
             4.75, 4.81, 4.87, 4.93, 4.99, 5.05, 5.11, 5.17, 5.23, 5.3,
             5.36, 5.42, 5.49, 5.56, 5.62, 5.69, 5.76, 5.83, 5.9, 5.97,
             6.04, 6.12, 6.19, 6.26, 6.34, 6.42, 6.49, 6.57, 6.65, 6.73,
             6.81, 6.9, 6.98, 7.06, 7.15, 7.23, 7.32, 7.41, 7.5, 7.59,
             7.68, 7.77, 7.87, 7.96, 8.06, 8.16, 8.25, 8.35, 8.45, 8.56,
             8.66, 8.76, 8.87, 8.98, 9.09, 9.2, 9.31, 9.42, 9.53, 9.65,
             9.76, 9.88],
}


def _series_round(x: float, granularity: str, up: bool) -> float:
    """Round ``x`` to the preferred-number series: smallest series value
    >= x (up) or largest <= x (down).  Values must be non-negative
    (Mongo's restriction); 0 stays 0."""
    import math

    if x < 0:
        raise ValueError("$bucketAuto granularity needs non-negative values")
    if x == 0:
        return 0.0
    if granularity == "POWERSOF2":
        e = math.log2(x)
        return float(2 ** (math.ceil(e) if up else math.floor(e)))
    series = _GRANULARITIES.get(granularity)
    if series is None:
        raise ValueError(f"unknown $bucketAuto granularity {granularity!r}")
    exp = math.floor(math.log10(x))
    # scan three decades around x to dodge log10 edge rounding
    candidates = [
        s * (10.0 ** e)
        for e in (exp - 1, exp, exp + 1)
        for s in series
    ]
    eps = 1e-9 * x
    if up:
        return min(c for c in candidates if c >= x - eps)
    return max(c for c in candidates if c <= x + eps)


@register_stage("$bucketAuto", "batch")
def bucket_auto_stage(expression: Any, ctx: Context) -> StageFn:
    """Even-count bucketing (MongoDB $bucketAuto, absent from the
    reference): ntile(buckets) over the groupBy expression, one window
    pass + one aggregation.  ``_id`` = contiguous {min, max} bounds:
    each bucket's max is the NEXT bucket's min (exclusive upper), the
    last bucket's max is the overall max inclusive — Mongo's bound shape.

    ``granularity`` (R5/R10/R20/R40/R80, 1-2-5, E6/E12/E24, POWERSOF2)
    rounds the ideal ntile boundaries to the preferred-number series:
    the first bucket's min rounds DOWN, every other boundary rounds UP
    (Mongo's rule); equal rounded boundaries merge, so fewer than
    ``buckets`` buckets can result.  The boundary list is
    ``buckets``-sized driver metadata (the kmeans-centroid pattern), and
    the re-bucketing pass is a literal CASE chain — zero extra shuffle
    beyond the groupBy.

    Documented deviations: ntile may split a run of equal groupBy values
    across adjacent buckets where Mongo keeps them together; the
    bucketing window is an (intentional) single partition — the
    second-pass bound stitching touches only ``buckets`` rows."""
    group_by = expression["groupBy"]
    n_buckets = int(expression["buckets"])
    output = expression.get("output", {"count": {"$sum": 1}})
    granularity = expression.get("granularity")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        gb = compile_expr(group_by, ectx)
        w = Window.orderBy(gb)
        tiled = df.withColumn("__tile", F.ntile(n_buckets).over(w))
        if granularity is None:
            aggs = [F.min(gb).alias("__lo"), F.max(gb).alias("__hi")]
            for name, acc in output.items():
                (op, arg), = acc.items()
                aggs.append(
                    compile_accumulator(name, op, arg, ectx, order=None)
                )
            per_tile = tiled.groupBy("__tile").agg(*aggs)
            bounds = Window.orderBy("__tile")
            return (
                per_tile.withColumn(
                    "_id",
                    F.struct(
                        F.col("__lo").alias("min"),
                        F.coalesce(
                            F.lead("__lo", 1).over(bounds), F.col("__hi")
                        ).alias("max"),
                    ),
                )
                .drop("__tile", "__lo", "__hi")
            )
        # granularity: collect the buckets-sized ideal boundaries
        # (driver metadata), snap to the series, re-bucket by literals
        stats = (
            tiled.groupBy("__tile")
            .agg(F.min(gb).alias("lo"), F.max(gb).alias("hi"),
                 F.sum(gb.isNull().cast("long")).alias("nulls"))
            .orderBy("__tile")
            .collect()
        )
        if any(r["nulls"] for r in stats):
            # Mongo's rule: granularity requires every groupBy value to
            # be a non-negative number (null/missing is an error)
            raise ValueError(
                "$bucketAuto granularity requires non-negative numeric "
                "groupBy values on every document (found null/missing)"
            )
        if stats:
            ideal = [float(stats[0]["lo"])] + [
                float(r["lo"]) for r in stats[1:]
            ] + [float(stats[-1]["hi"])]
            snapped = [_series_round(ideal[0], granularity, up=False)] + [
                _series_round(b, granularity, up=True) for b in ideal[1:]
            ]
        else:
            snapped = []  # empty input: placeholder bounds keep the
            # output schema (struct _id + accumulators) — zero rows out
        bounds_list: list[float] = []
        for b in snapped:
            if not bounds_list or b > bounds_list[-1]:
                bounds_list.append(b)
        while len(bounds_list) < 2:
            bounds_list.append(
                _series_round(bounds_list[-1] * 2 + 1, granularity, True)
                if bounds_list else 0.0
            )
        gcol = gb.cast("double")
        idx = F.lit(len(bounds_list) - 2)  # default: last bucket
        for i in range(len(bounds_list) - 2, -1, -1):
            idx = F.when(gcol < F.lit(bounds_list[i + 1]), F.lit(i)).otherwise(idx)
        aggs2 = []
        for name, acc in output.items():
            (op, arg), = acc.items()
            aggs2.append(compile_accumulator(name, op, arg, ectx, order=None))
        mins = F.array(*[F.lit(b) for b in bounds_list[:-1]])
        maxs = F.array(*[F.lit(b) for b in bounds_list[1:]])
        return (
            df.withColumn("__bi", idx)
            .groupBy("__bi")
            .agg(*aggs2)
            .withColumn(
                "_id",
                F.struct(
                    F.element_at(mins, F.col("__bi") + 1).alias("min"),
                    F.element_at(maxs, F.col("__bi") + 1).alias("max"),
                ),
            )
            .drop("__bi")
        )

    return fn


@register_stage("$documents", "batch")
def documents_stage(expression: Any, ctx: Context) -> StageFn:
    """Inline literal documents as the pipeline source (MongoDB 5.1
    $documents).  Replaces the incoming frame with a broadcast-sized
    literal relation — driver-side by construction, like Mongo's."""

    def fn(df: DataFrame, c: Context) -> DataFrame:
        if c.spark is None:
            raise ValueError("$documents needs Context.spark")
        docs = expression
        if not isinstance(docs, list) or not docs:
            raise ValueError("$documents takes a non-empty array of documents")
        return c.spark.createDataFrame(docs)

    return fn
