"""Pipeline compiler — the Spark analog of ``Pipeline.create``
(reference: src/main/java/net/pincette/mongo/streams/Pipeline.java:273-299).

A pipeline is a JSON array of one-key stage objects.  Each stage name maps
to a *compiler* ``(expression, Context) -> (DataFrame -> DataFrame)``; the
whole pipeline folds left-to-right into one DataFrame program, which is
then analyzed/optimized/planned by Catalyst (the reference's linear
``box(processor, stage)`` fold has no optimizer — SURVEY.md §3/§4).

Deliberate deviation (documented): unknown stage names raise instead of
being silently ignored (reference Pipeline.java:264-266 skips them).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

from .context import Context
from .features import active_features

StageFn = Callable[[DataFrame, Context], DataFrame]
StageCompiler = Callable[[Any, Context], StageFn]

# Every stage declares one streaming kind; run_streaming splits a
# pipeline by it and compile_stage checks it:
#   plan       folds into the streaming plan
#   aggregate  a plan stage that puts the query in update output mode
#   per_batch  runs per micro-batch inside foreachBatch: the union of its
#              per-batch outputs equals its output over the union of the
#              inputs (row-local, a join against a static side, an effect)
#   batch      no meaning on an infinite stream (Pipeline.java:31-32)
#   corpus     the output claims to describe the whole input
KINDS = ("plan", "aggregate", "per_batch", "batch", "corpus")

_STAGES: dict[str, StageCompiler] = {}
_KINDS: dict[str, str] = {}


def register_stage(name: str, kind: str) -> Callable[[StageCompiler], StageCompiler]:
    if kind not in KINDS:
        raise ValueError(f"{name}: unknown stage kind {kind!r}, use {KINDS}")

    def deco(fn: StageCompiler) -> StageCompiler:
        _STAGES[name] = fn
        _KINDS[name] = kind
        return fn

    return deco


def stage_names() -> list[str]:
    return sorted(_STAGES)


def stage_kind(name: str) -> str:
    """The declared kind; ``Context.stage_extensions`` run per batch."""
    return _KINDS.get(name, "per_batch")


def check_kind(name: str, kind: str, ctx: Context) -> None:
    """Refuse a ``batch`` or ``corpus`` stage in a streaming plan or a
    foreachBatch micro-batch, where it would silently compute a
    within-batch answer."""
    if not (ctx.streaming or ctx.micro_batch):
        return
    if kind == "batch":
        raise ValueError(
            f"{name} is batch-only (the reference excludes it from infinite "
            "streams — Pipeline.java:31-32)"
        )
    if kind == "corpus":
        raise ValueError(
            f"{name} is corpus-wide and batch-only: a streaming "
            "micro-batch would silently compute within-batch results"
        )


def compile_stage(name: str, expression: Any, ctx: Context) -> StageFn:
    # built-ins win over extensions (Pipeline.java:275-276)
    compiler = _STAGES.get(name) or ctx.stage_extensions.get(name)
    if compiler is None:
        raise ValueError(f"unknown pipeline stage {name!r}")
    check_kind(name, stage_kind(name), ctx)
    return compiler(expression, ctx)


def compile_pipeline(pipeline: list[dict], ctx: Context) -> Callable[[DataFrame], DataFrame]:
    """Compile a pipeline (list of one-key stage objects) to a DataFrame
    transformation.  ``_trace``/``_collection`` extension keys on a stage
    object are accepted and stripped (Pipeline.java:210,324-326)."""
    from .plans.optimize import optimize_pipeline

    stages: list[tuple[str, Any]] = []
    for stage_obj in optimize_pipeline(pipeline):
        names = [k for k in stage_obj if k.startswith("$")]
        if len(names) != 1:
            raise ValueError(f"stage object must have exactly one $-key: {stage_obj}")
        stages.append((names[0], stage_obj[names[0]]))

    # stages precompile at construction, mirroring Pipeline.create's
    # expression precompilation (Pipeline.java:273-299); invalid stage
    # specs fail here, not at first run.  The context's Features analog
    # (expression/match extensions — Context.java:25-26) is in scope for
    # both the precompile and every application of the pipeline.
    with active_features(ctx):
        compiled = [(name, compile_stage(name, expression, ctx))
                    for name, expression in stages]

    def run(df: DataFrame) -> DataFrame:
        with active_features(ctx):
            out = df
            for _name, fn in compiled:
                out = fn(out, ctx)
            # Atlas never exposes score metadata unless the user asked for
            # it via {"$meta": ...} — which copies the value into a user
            # column.  The hidden score columns bound by $vectorSearch /
            # $search (operators/atlas.py) are dropped at pipeline end so
            # unprojected pipelines don't grow a synthetic column.
            meta_cols = [c for c in out.columns if c.startswith("__meta_")]
            if meta_cols:
                out = out.drop(*meta_cols)
            return out

    return run


class Pipeline:
    """Convenience façade mirroring the reference's entry point."""

    @staticmethod
    def create(ctx: Context, pipeline: list[dict]) -> Callable[[DataFrame], DataFrame]:
        return compile_pipeline(pipeline, ctx)


# importing the operator modules registers the built-in stages
from .operators import (  # noqa: E402,F401
    group as _group,
    lookup as _lookup,
    merge as _merge,
    stateless as _stateless,
    dedup as _dedup,
    effects as _effects,
    script as _script,
    extended as _extended,
    graphcc as _graphcc,
    timeseries as _timeseries,
    tuning as _tuning,
    atlas as _atlas,
)
from .functions import datapipe as _datapipe  # noqa: E402,F401
