"""$hint: physical-plan tuning passthrough.

The reference engine has no analogue (it runs per-message on a reactive
stream); on a 1000-executor cluster the ability to place an exchange, cap
output file counts, or pin a broadcast is part of the product.  Rows and
schema pass through COMPLETELY unchanged — $hint only annotates the plan:

- ``{"repartition": N}`` — round-robin to N partitions
- ``{"repartition": {"numPartitions": N?, "by": ["k", ...]}}`` — hash
  partition on the named fields (co-locates a following stateful op or
  sort-merge join; numPartitions optional = session shuffle partitions)
- ``{"coalesce": N}`` — shrink to N partitions without a shuffle (output
  file sizing before $out/$merge); batch only
- ``{"rebalance": true}`` — AQE rebalance hint (splits skewed partitions,
  merges tiny ones — the right default before writing parquet)
- ``{"broadcast": true}`` — mark this side broadcast-able for a
  subsequent join regardless of the optimizer's size estimate
- ``{"cache": true}`` — persist (MEMORY_AND_DISK) for pipelines that fan
  out over the same intermediate; batch only

Multiple keys compose left-to-right in the order above.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..context import Context
from ..paths import nested_col, split_path
from ..pipeline import StageFn, check_kind, register_stage


@register_stage("$hint", "per_batch")
def hint_stage(expression: Any, ctx: Context) -> StageFn:
    if not isinstance(expression, dict) or not expression:
        raise ValueError("$hint takes a non-empty option document")
    known = {"repartition", "coalesce", "rebalance", "broadcast", "cache"}
    unknown = set(expression) - known
    if unknown:
        raise ValueError(f"unknown $hint options: {sorted(unknown)}")
    rp = expression.get("repartition")
    if isinstance(rp, dict):
        rp_unknown = set(rp) - {"numPartitions", "by"}
        if rp_unknown:
            raise ValueError(
                f"unknown $hint repartition options: {sorted(rp_unknown)}"
            )
        if not rp.get("by"):
            raise ValueError(
                "$hint repartition object form needs 'by' fields"
            )
    for option in ("coalesce", "cache"):
        if expression.get(option):
            check_kind(f"$hint {option}", "batch", ctx)

    def fn(df: DataFrame, c: Context) -> DataFrame:
        out = df
        if rp is not None:
            if isinstance(rp, dict):
                n = rp.get("numPartitions")
                cols = [nested_col(split_path(k)) for k in rp["by"]]
                out = (
                    out.repartition(int(n), *cols) if n
                    else out.repartition(*cols)
                )
            else:
                out = out.repartition(int(rp))
        co = expression.get("coalesce")
        if co is not None:
            out = out.coalesce(int(co))
        if expression.get("rebalance"):
            out = out.hint("rebalance")
        if expression.get("broadcast"):
            out = F.broadcast(out)
        if expression.get("cache"):
            out = out.cache()
        return out

    return fn


@register_stage("$explain", "batch")
def explain_stage(expression: Any, ctx: Context) -> StageFn:
    """Replace the stream with ONE row holding the upstream plan:
    ``{mode?: "simple" | "extended" | "codegen" | "cost" | "formatted"}``
    (default formatted).  The plan-tuning companion to $hint: pipelines
    under development append ``{"$explain": {}}`` to see exactly what
    Catalyst will run — exchanges, pushed filters, join strategies —
    without executing the full job.  Batch-only, driver-sized output."""
    mode = "formatted"
    if isinstance(expression, dict):
        unknown = set(expression) - {"mode"}
        if unknown:
            raise ValueError(f"unknown $explain options: {sorted(unknown)}")
        mode = expression.get("mode", "formatted")
    elif isinstance(expression, str) and expression:
        mode = expression
    if mode not in ("simple", "extended", "codegen", "cost", "formatted"):
        raise ValueError(f"unknown $explain mode {mode!r}")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )
        if c.spark is None:
            raise ValueError("$explain needs Context.spark")
        return c.spark.createDataFrame([(mode, plan)], "mode string, plan string")

    return fn


@register_stage("$sql", "per_batch")
def sql_stage(expression: Any, ctx: Context) -> StageFn:
    """Spark-SQL escape hatch: run a SQL statement over the pipeline's
    current frame — ``"SELECT ... FROM {this}"`` or ``{query, views?}``
    where ``views`` is a list of Context collection names additionally
    bound as ``{name}`` template parameters.  Literal braces in the SQL
    (regex quantifiers, JSON literals) must be doubled — ``RLIKE
    'a{{2,3}}'`` — str.format template semantics; unbound fields are a
    compile-time error naming the fix.

    This is a superset stage with no reference analog (the reference's
    escape hatches are $jq/$jslt per-document scripts); it exists so a
    migrating user can express a one-off relational step in plain SQL
    without leaving the pipeline.  The statement is parameterized via
    ``spark.sql(query, **frames)`` — DataFrame template binding, not
    string-interpolated temp views, so no global temp-view namespace is
    touched and two concurrent pipelines can't collide.  Catalyst sees
    one seamless plan: filters/projections in the SQL still push into
    the upstream scan, so there is no optimization boundary and no
    scale cost beyond what the SQL itself does.

    In a streaming pipeline the statement runs once per micro-batch
    (the ``per_batch`` kind), which is right for row-local SQL only: a
    statement that aggregates, sorts, limits, windows or deduplicates
    ``{this}`` raises when the batch runs (its answer would cover one
    micro-batch, not the stream) — use $group, or run as a batch."""
    if isinstance(expression, str):
        query, views = expression, []
    elif isinstance(expression, dict) and "query" in expression:
        unknown = set(expression) - {"query", "views"}
        if unknown:
            raise ValueError(f"unknown $sql options: {sorted(unknown)}")
        query = expression["query"]
        views = list(expression.get("views", []))
    else:
        raise ValueError('$sql takes "SELECT ... FROM {this}" or '
                         '{query, views?}')
    if "{this}" not in query:
        raise ValueError("$sql query must reference {this} (the "
                         "pipeline's current frame)")
    # 'this' is always the pipeline frame; names that collide with
    # SparkSession.sql's own parameters would be swallowed by the call
    reserved = {"this", "self", "sqlQuery", "args", "kwargs"}
    for name in views:
        if name in reserved or not name.isidentifier():
            raise ValueError(
                f"$sql view name {name!r} is reserved or not a valid "
                "identifier")
    # validate every template field up front: str.format semantics make
    # a stray '{2}' (regex quantifier, JSON literal) fail at run time
    # with an unhelpful formatter error otherwise
    import string

    allowed = {"this", *views}
    for _lit, field, _spec, _conv in string.Formatter().parse(query):
        if field is not None and field not in allowed:
            raise ValueError(
                f"$sql template field {{{field}}} is not bound — name it "
                "in views, or escape literal braces as {{ and }} "
                "(e.g. RLIKE 'a{{2,3}}')")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        # in a micro-batch, {this} carries a marker alias so the check
        # below finds where the batch enters the statement's plan
        frames = {"this": df.alias(_THIS) if c.micro_batch else df}
        for name in views:
            try:
                view = c.collection(name)
            except KeyError:
                raise ValueError(f"$sql view {name!r} is not a known "
                                 "collection") from None
            frames[name] = _in_session(view, df.sparkSession)
        out = df.sparkSession.sql(query, **frames)
        if c.micro_batch:
            node = _whole_input_node(out._jdf.queryExecution().analyzed())
            if node is not None:
                raise ValueError(
                    f"$sql runs once per micro-batch in a streaming "
                    f"pipeline, so its {node} over {{this}} would answer "
                    "for one batch only, not the stream: move the "
                    "aggregation to $group, or run the pipeline as a "
                    "batch")
        return out

    return fn


_THIS = "__sql_this"


def _in_session(df: DataFrame, spark: Any) -> DataFrame:
    """``df`` bound to ``spark``.  ``SparkSession.sql`` registers each
    template frame as a temp view in the FRAME's session but resolves
    the statement (and drops the views) in its own, so a collection of
    the caller's session is unresolvable in a streaming micro-batch,
    whose session is a clone, and its view would outlive the call."""
    if df._jdf.sparkSession().equals(spark._jsparkSession):
        return df
    dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(
        dataset.ofRows(spark._jsparkSession, df._jdf.logicalPlan()), spark)

# plan nodes whose answer depends on every input row: over one
# micro-batch they silently compute a within-batch answer
_WHOLE_INPUT_NODES = {"Aggregate", "Sort", "GlobalLimit", "LocalLimit",
                      "Window", "Deduplicate", "Distinct", "Intersect",
                      "Except"}


def _whole_input_node(plan) -> Any:
    """Name of the first whole-input node (``_WHOLE_INPUT_NODES``) above
    the ``_THIS``-aliased frame in an analyzed JVM plan, or None.  The
    walk stops at the marker, so nodes of upstream stages (below it)
    and nodes over other views only (no marker beneath) do not count;
    subquery plans are walked too."""

    def walk(node):  # -> (holds the marker, offending node name)
        if (node.nodeName() == "SubqueryAlias"
                and node.alias() == _THIS):
            return True, None
        found, bad = False, None
        kids = [node.children(), node.subqueries()]
        for seq in kids:
            for i in range(seq.size()):
                f, b = walk(seq.apply(i))
                found, bad = found or f, bad or b
        if bad is None and found and node.nodeName() in _WHOLE_INPUT_NODES:
            bad = node.nodeName()
        return found, bad

    return walk(plan)[1]
