"""``$deduplicate`` — drop messages whose expression value was already seen.

Reference (src/main/java/net/pincette/mongo/streams/Deduplicate.java:110-146):
an in-memory duplicate filter over a ``cacheWindow`` (default 3000 ms in
code — Deduplicate.java:118; the javadoc says 1000 — Pipeline.java:59-60, a
doc/code discrepancy noted in SURVEY.md §2.1), backed by an existence check
+ batch upsert in a Mongo ``collection`` keyed by the value.

Spark mapping:
- batch: keep the first occurrence per value — a single hash-partitioned
  window/`dropDuplicates`, no per-row round-trips.  With a configured
  pipeline order column the kept row is deterministic (first by order);
  otherwise Spark's ``dropDuplicates`` picks one per key.
- persistent layer: when ``collection`` is configured, values already in
  the collection are dropped (left_anti join) and new values upserted back,
  mirroring the Mongo-backed layer.
- streaming: ``dropDuplicatesWithinWatermark`` — the state-store TTL plays
  the role of ``cacheWindow`` (see streaming/runtime.py).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage


@register_stage("$deduplicate", "plan")
def deduplicate_stage(expression: Any, ctx: Context) -> StageFn:
    if isinstance(expression, dict):
        value_expr = expression["expression"]
        collection = expression.get("collection")
    else:
        value_expr = expression
        collection = None

    def fn(df: DataFrame, c: Context) -> DataFrame:
        value = compile_expr(value_expr, ExprContext(schema=df.schema))
        tagged = df.withColumn("__dedup", value)
        if c.streaming:
            # the watermark only holds if the event-time column survived
            # the upstream stages ($project/$unset may have dropped it);
            # without it dropDuplicatesWithinWatermark raises
            if c.watermark is not None and c.watermark[0] in df.columns:
                # bounded state: duplicates are only tracked within the
                # watermark delay — the state-store TTL analog of the
                # reference's Mongo-collection TTL index advice
                # (Pipeline.java:74-81)
                out = tagged.dropDuplicatesWithinWatermark(["__dedup"])
            else:
                # unbounded state — parity with the reference's collection
                # without a TTL index
                out = tagged.dropDuplicates(["__dedup"])
            return out.drop("__dedup")
        if c.order_by and c.order_by in df.columns:
            from pyspark.sql import Window

            w = Window.partitionBy("__dedup").orderBy(F.col(c.order_by))
            out = (
                tagged.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            out = tagged.dropDuplicates(["__dedup"])
        if collection is not None:
            try:
                seen = c.collection(collection)
                # no broadcast hint: the seen-set grows with the corpus, so
                # let AQE pick broadcast-vs-shuffle by its actual size
                out = out.join(
                    seen.select(F.col("_id").alias("__seen")),
                    F.col("__dedup").eqNullSafe(F.col("__seen")),
                    "left_anti",
                )
            except KeyError:
                seen = None
            new_values = out.select(F.col("__dedup").alias("_id")).distinct()
            c.write_collection(
                collection, seen.unionByName(new_values).distinct() if seen is not None else new_values
            )
        return out.drop("__dedup")

    return fn
