"""Structured Streaming runtime for compiled pipelines.

The reference runs one infinite push/pull chain with MongoDB-backed state
(SURVEY.md §3).  Here the same compiled pipeline runs over an unbounded
DataFrame; state lives in Spark's state store.  Each stage's declared
streaming kind (``register_stage(name, kind)``, pipeline.py) decides
where it runs:

- the leading ``plan``/``aggregate`` stages fold into the streaming
  plan; an ``aggregate`` stage puts the query in update output mode,
  which emits changed groups per *micro-batch* where the reference
  emits per *state-changing input message* (Group.java:176-186,423-430
  — the documented granularity difference, SURVEY.md §2.4);
- the rest runs inside ``foreachBatch``, where each micro-batch is a
  batch DataFrame, so the SAME stage compilers serve both modes — one
  code path, two runtimes (SURVEY.md §7 design stance);
- ``batch`` and ``corpus`` stages are rejected when the pipeline
  compiles, before the query starts.
"""

from __future__ import annotations

import dataclasses
from typing import Callable, Optional

from pyspark.sql import DataFrame

from ..context import Context
from ..pipeline import compile_pipeline, stage_kind

_IN_PLAN = ("plan", "aggregate")


def _resolve_state_store(state_store: str) -> tuple[str, str]:
    """(provider class, changelog-checkpointing flag).  Changelog
    checkpointing keys off the RESOLVED class, so a full RocksDB class
    name gets it too, not just the ``"rocksdb"`` alias."""
    provider = _STATE_STORE_PROVIDERS.get(state_store, state_store)
    if "." not in provider:
        raise ValueError(
            f"unknown state_store {state_store!r}: use "
            f"{sorted(_STATE_STORE_PROVIDERS)} or a provider class")
    return provider, str(
        provider.endswith("RocksDBStateStoreProvider")).lower()

# suppress_unchanged incremental store: compact the epoch-delta appends
# into one snapshot after this many deltas (bounds both the reload's
# latest-per-key window input and the state dir's file count)
_COMPACT_EVERY = 16

# state-store providers for the stateful plan operators ($group update
# mode, dropDuplicates[WithinWatermark], session windows, per-message
# applyInPandasWithState).  Spark's default keeps every state row on the
# executor HEAP (HDFSBackedStateStoreProvider) — fine for tests, fatal at
# 100 TB where grouped state outgrows memory.  RocksDB (bundled with
# Spark since 3.2, no extra jars) spills state to local disk and, with
# changelog checkpointing, uploads per-batch DELTAS to the checkpoint
# instead of full snapshots — the durability/scale analog of the
# reference keeping group state in Mongo collections
# (Group.java:405-414, Pipeline.java:74-81).
_STATE_STORE_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider",
}


def _output_mode(plan_part: list[dict]) -> str:
    names = {next(iter(s)) for s in plan_part}
    if "$sessionWindow" in names:
        # Spark rejects update mode for session-window aggregations:
        # sessions close on watermark and emit once (append)
        return "append"
    return ("update" if any(stage_kind(n) == "aggregate" for n in names)
            else "append")


def run_streaming(
    source: DataFrame,
    pipeline: list[dict],
    ctx: Context,
    sink: Callable[[DataFrame, int], None],
    watermark: Optional[tuple[str, str]] = None,
    trigger: Optional[dict] = None,
    checkpoint: Optional[str] = None,
    suppress_unchanged: bool = False,
    emission: str = "per_batch",
    state_store: Optional[str] = None,
    state_partitions: Optional[int] = None,
):
    """Run ``pipeline`` over a streaming ``source``; ``sink(batch_df,
    epoch)`` receives each output micro-batch (foreachBatch = exactly-once
    with idempotent sinks).  Returns the StreamingQuery.

    The pipeline splits by the streaming kind each stage declares in
    ``register_stage`` (the table in pipeline.py, listed in README.md):
    the leading ``plan``/``aggregate`` stages fold into the streaming
    plan, and the rest compiles once per query and runs per micro-batch
    inside ``foreachBatch``.  A ``batch`` or ``corpus`` stage raises
    while the pipeline compiles, before the query starts.

    ``suppress_unchanged`` reproduces the reference's emission-diff
    protocol (Group.java:176-186: identical group updates are not
    re-emitted, golden-tested at TestGroup "$group $max"): update mode
    emits every group *touched* in a batch, so a batch that touches a
    group without changing its value (e.g. a new max candidate that
    loses) would emit a duplicate — the suppression filter drops rows
    identical to the group's previous emission.  The last-emitted state
    is a DISTRIBUTED DataFrame diffed with a left-anti join (no row ever
    crosses the driver) and localCheckpoint()ed per batch to truncate
    lineage.  With a ``checkpoint`` location the state is also persisted
    to ``<checkpoint>/suppress_state`` parquet and reloaded on start, so
    a restarted query does NOT re-emit unchanged groups (the reference
    durably stores group state in Mongo — Group.java:173-186).
    Persistence is INCREMENTAL: each batch appends only its fresh
    emissions as an ``__epoch``-stamped delta (a batch that changes
    nothing writes nothing); reload keeps the latest row per key; after
    ``_COMPACT_EVERY`` deltas the state compacts to one snapshot — so
    per-batch durable I/O is delta-sized, not group-cardinality-sized.
    Requires a group-keyed output (``_id``); use only when sinks require
    exact reference emission parity.

    ``state_store`` picks the provider backing ALL stateful operators in
    the plan: ``"rocksdb"`` (state on executor local disk + changelog
    checkpointing — per-batch delta uploads, the 100 TB configuration),
    ``"hdfs"`` (Spark's on-heap default, test-scale), a full provider
    class name, or ``None`` to leave the session untouched.  The
    provider is a SESSION conf captured at query start — it stays set
    while the query runs and therefore applies to any other query
    started in the same session in that window (advisor r6: the
    mutation is deliberate, but it must not leak forever).  The
    returned query carries ``restore_state_store_conf()`` — call it
    after the query terminates to put the prior session values back;
    :func:`reset_state_store_conf` unsets the keys outright.  State
    checkpoints are NOT provider-portable (HDFSBacked writes
    .delta/.snapshot, RocksDB writes .zip/.changelog): keep the provider
    stable for the lifetime of a checkpoint; switching requires a fresh
    checkpoint location.

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` for this
    query — the STATE partition count, which Spark pins into the
    checkpoint at first start (it cannot change on resume).  Size it to
    state volume, not CPU count: every stateful operator commits one
    state-store instance per partition per micro-batch, so at small
    per-batch volumes the commit overhead dominates (measured r7,
    BENCH_AB_r07.md: the per-message bench runs 1.8x faster at 8
    partitions than 32 on 12.5k-event batches).  Same session-conf
    discipline as ``state_store``: put back if the pipeline is rejected,
    captured in ``restore_state_store_conf``."""
    # set the state-store conf, remembering the prior values for the
    # restore helper attached to the returned query; a pipeline rejected
    # below puts them back before raising
    prior_conf: dict[str, Optional[str]] = {}
    conf_sets: list[tuple[str, str]] = []
    if state_store is not None:
        provider, changelog = _resolve_state_store(state_store)
        conf_sets += [
            ("spark.sql.streaming.stateStore.providerClass", provider),
            ("spark.sql.streaming.stateStore.rocksdb."
             "changelogCheckpointing.enabled", changelog),
        ]
    if state_partitions is not None:
        if int(state_partitions) < 1:
            raise ValueError("state_partitions must be >= 1")
        conf_sets.append(
            ("spark.sql.shuffle.partitions", str(int(state_partitions))))
    for key, val in conf_sets:
        prior_conf[key] = ctx.spark.conf.get(key, None)
        ctx.spark.conf.set(key, val)

    def _restore() -> None:
        """Put the pre-``run_streaming`` state-store session conf back
        (call after the query terminates — the provider is pinned per
        query at start, but the session keys stay set while it runs)."""
        for key, val in prior_conf.items():
            if val is None:
                ctx.spark.conf.unset(key)
            else:
                ctx.spark.conf.set(key, val)

    # advisor r8: everything between the conf mutation above and
    # writer.start() (watermark setup, plan compile, suppress-state
    # reload, the start itself) can raise — without this guard the
    # mutated session conf would leak, since the restore closure
    # only ever attaches to a successfully returned query; a rejected
    # pipeline also leaves the caller's Context flags as they were
    prior_flags = (ctx.streaming, ctx.watermark)
    try:
        ctx.streaming = True
        ctx.watermark = watermark
        if watermark is not None:
            source = source.withWatermark(*watermark)

        if emission == "per_message":
            # reference-granularity $group: one emission per state-CHANGING
            # input message (applyInPandasWithState — streaming/permessage.py)
            if suppress_unchanged:
                raise ValueError(
                    "per_message emission already diffs per message; "
                    "suppress_unchanged is redundant"
                )
            from .permessage import compile_group_per_message

            gidx = next(
                (i for i, s in enumerate(pipeline)
                 if next(iter(s)) == "$group"), None
            )
            if gidx is None:
                raise ValueError("per_message emission needs a $group stage")
            pre = pipeline[:gidx]
            for stage in pre:
                if stage_kind(next(iter(stage))) not in _IN_PLAN:
                    raise ValueError(
                        f"{next(iter(stage))} cannot precede a per-message "
                        "$group (plan stages only)"
                    )
            upstream = compile_pipeline(pre, ctx)(source) if pre else source
            # accumulator input expressions compile here, outside any
            # compile_pipeline wrapper — install the Features scope so
            # Context.expression_extensions work in per-message mode too
            from ..features import active_features

            with active_features(ctx):
                transformed = compile_group_per_message(
                    pipeline[gidx]["$group"], ctx
                )(upstream)
            batch_part = pipeline[gidx + 1:]
            plan_part = []  # output mode: append (stateful op emits deltas)
        elif emission != "per_batch":
            raise ValueError(f"unknown emission mode {emission!r}")
        else:
            split = next((i for i, s in enumerate(pipeline)
                          if stage_kind(next(iter(s))) not in _IN_PLAN),
                         len(pipeline))
            plan_part, batch_part = pipeline[:split], pipeline[split:]
            transformed = (
                compile_pipeline(plan_part, ctx)(source) if plan_part else source
            )
        # inside foreachBatch everything is batch, but stages with
        # cross-batch accumulators (the minute probe) and collection writes
        # see the stream context.  A copy, so a failing batch leaves the
        # caller's flags alone; collections and probe_state stay shared,
        # so targets carry across batches and to the caller
        batch_ctx = dataclasses.replace(ctx, streaming=False,
                                        micro_batch=True)
        run_batch = (compile_pipeline(batch_part, batch_ctx) if batch_part
                     else lambda df: df)
        last_emitted: list = [None]  # distributed last-emission DataFrame
        deltas_since_compact: list = [0]
        state_dir = (f"{checkpoint}/suppress_state"
                     if checkpoint and suppress_unchanged else None)
        if state_dir is not None:
            try:
                from pyspark.sql import Window
                from pyspark.sql import functions as F

                raw = ctx.spark.read.parquet(state_dir)
                # incremental store: latest row per key wins across the
                # snapshot + appended epoch deltas
                w = Window.partitionBy("_id").orderBy(F.col("__epoch").desc())
                prior = (raw.withColumn("__rn", F.row_number().over(w))
                         .filter("__rn = 1").drop("__rn", "__epoch"))
                # pin the reload off the files before any compaction overwrite
                last_emitted[0] = prior.localCheckpoint(eager=True)
                deltas_since_compact[0] = (
                    raw.select("__epoch").distinct().count())
            except Exception:
                last_emitted[0] = None  # first start: no persisted state

        def process(batch_df: DataFrame, epoch: int) -> None:
            out = run_batch(batch_df)
            if suppress_unchanged:
                cols = out.columns
                if "_id" not in cols:
                    raise ValueError(
                        "suppress_unchanged needs a group-keyed output (an _id "
                        "column): without a key, distinct events with equal "
                        "values would be suppressed as duplicates"
                    )
                last = last_emitted[0]
                if last is None:
                    fresh = out
                else:
                    # a row is fresh unless the SAME key emitted the SAME
                    # values last time — null-safe equality on every column
                    fresh = out.join(
                        last,
                        [out[c].eqNullSafe(last[c]) for c in cols],
                        "left_anti",
                    )
                # materialize the diff ONCE (localCheckpoint truncates
                # lineage so state never re-grows the plan), then fold it
                # into the next batch's state: this batch's emissions
                # override the previous ones per key; untouched keys carry
                # forward.  No row ever crosses the driver.
                fresh = fresh.localCheckpoint(eager=True)
                new_last = fresh if last is None else fresh.unionByName(
                    last.join(fresh.select("_id"), "_id", "left_anti")
                )
                last_emitted[0] = new_last.localCheckpoint(eager=True)
                out = fresh
            sink(out, epoch)
            if suppress_unchanged and state_dir is not None:
                # durable write AFTER the sink call: a crash between the two
                # replays the batch and re-emits (at-least-once) — the
                # reverse order would mark rows as already-emitted before
                # the sink ever saw them (silent loss).  Incremental scheme:
                # only this batch's FRESH rows append (epoch-stamped delta);
                # a batch that changed nothing writes nothing, so unchanged
                # state is never rewritten.  Every _COMPACT_EVERY deltas the
                # full state compacts to one snapshot (the localCheckpoints
                # above materialized it, so overwriting the files it was
                # loaded from is safe — no live scan of state_dir in its
                # lineage).
                from pyspark.sql import functions as F

                if not fresh.isEmpty():
                    if deltas_since_compact[0] + 1 >= _COMPACT_EVERY:
                        (last_emitted[0].withColumn("__epoch", F.lit(epoch))
                         .write.mode("overwrite").parquet(state_dir))
                        deltas_since_compact[0] = 1
                    else:
                        (fresh.withColumn("__epoch", F.lit(epoch))
                         .write.mode("append").parquet(state_dir))
                        deltas_since_compact[0] += 1

        writer = transformed.writeStream.foreachBatch(process)
        writer = writer.outputMode(_output_mode(plan_part))
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        if trigger:
            writer = writer.trigger(**trigger)
        query = writer.start()
    except BaseException:
        _restore()
        ctx.streaming, ctx.watermark = prior_flags
        raise

    query.restore_state_store_conf = _restore
    return query


def reset_state_store_conf(spark) -> None:
    """Unset the state-store PROVIDER session keys
    ``run_streaming(state_store=...)`` sets, returning them to Spark
    defaults (advisor r6 helper for sessions that interleave
    provider-pinned and default queries).  Deliberately does NOT touch
    ``spark.sql.shuffle.partitions`` (the ``state_partitions`` key):
    unsetting it would fall back to Spark's global default (200), not
    the session's configured value — only the returned query's
    ``restore_state_store_conf()`` knows the prior value, so use that
    to undo ``state_partitions``."""
    for key in (
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
    ):
        try:
            spark.conf.unset(key)
        except Exception:  # pragma: no cover - already unset
            pass
