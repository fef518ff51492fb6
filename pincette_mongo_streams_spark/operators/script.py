"""Script stages: ``$jq`` and ``$jslt`` — whole-document transforms.

Reference (src/main/java/net/pincette/mongo/streams/Jq.java:19-33,
Jslt.java:19-36, shared driver Script.java:58-73): run a jackson-jq / JSLT
script over each document; if the result's ``_id`` changed the message is
re-keyed; script errors are logged and rethrown.

Each script is parsed once, with its imports resolved, when the stage
compiles; a script that does not parse fails there.  Each language then
has two tiers over that one parse:

1. **Native Column compiler** (zero UDF): the subset the Column model
   can hold (operators/jq.py, operators/jslt.py) compiles straight to
   Catalyst expressions, keeping codegen and pushdown.
2. **Pure-Python fallback** (operators/jq_interp.py,
   operators/jslt_eval.py): anything the compiler rejects runs row at a
   time in a UDF over ``to_json``/``from_json``; the output schema is
   sampled from the first result.
"""

from __future__ import annotations

import json
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..context import Context
from ..pipeline import StageFn, register_stage
from . import jq_interp, jslt_eval
from .jq import JqUnsupported, compile_jq_steps
from .jslt import JsltUnsupported, compile_jslt, parse_jslt
from .stateless import KEY_COL, _rekey_on_id


def _load_script(spec: str, resource_root: Optional[str] = None) -> str:
    """Scripts may be inline, ``resource:/...`` or a file path
    (Script.java:28-46).  ``resource:`` roots — the reference's classpath
    lookup — resolve against ``Context.resource_root`` (a directory, the
    deployment's unpacked-resources analog)."""
    if spec.startswith("resource:"):
        if resource_root is None:
            raise NotImplementedError(
                "resource: scripts need Context.resource_root configured "
                "(the classpath-resources directory)"
            )
        import os

        rel = spec[len("resource:"):].lstrip("/")
        with open(os.path.join(resource_root, rel)) as fh:
            return fh.read()
    if spec.endswith((".jq", ".jslt")) and "/" in spec:
        with open(spec) as fh:
            return fh.read()
    return spec


def _script_stage(kind: str, expression: Any, ctx: Context) -> StageFn:
    spec = expression["script"] if isinstance(expression, dict) else expression
    script = _load_script(spec, ctx.resource_root)
    native, run_one = (_jq_tiers if kind == "jq" else _jslt_tiers)(
        script, ctx)

    def fn(df: DataFrame, c: Context) -> DataFrame:
        if native is not None:
            try:
                return native(df)
            except (JqUnsupported, JsltUnsupported):
                # the script does not compile against this schema (the
                # shared Column compiler raises its own boundary error
                # for jq scripts too)
                pass
        return _script_udf(df, run_one)

    return fn


def _jq_tiers(script: str, ctx: Context):
    """``(native, run_one)`` for a ``$jq`` script: ``native`` is the
    Column program (operators/jq.py) or None when the script is beyond
    its subset; ``run_one`` is the interpreter (operators/jq_interp.py)
    — slower (Python per row) but correct for the long tail (Jq.java:
    19-33 runs arbitrary jackson-jq).  A script calling a
    Context.jq_functions custom function runs on the interpreter: the
    native compiler rejects the unknown name."""
    try:
        ast = jq_interp.parse(script, ctx.jq_resolver)
    except jq_interp.JqInterpError as e:
        raise NotImplementedError(
            f"$jq script beyond both the native subset and the "
            f"tier-2 interpreter ({e})"
        ) from e
    try:
        native = compile_jq_steps(ast, _rekey_on_id)
    except JqUnsupported:
        native = None
    _ship_by_value(jq_interp)
    return native, jq_interp.jq_first(ast, ctx.jq_functions)


def _jslt_tiers(script: str, ctx: Context):
    """``(native, run_one)`` for a ``$jslt`` script: the Column compiler
    (operators/jslt.py) and the pure-Python evaluator over the same AST
    (operators/jslt_eval.py) — Python per row, but the reference's
    arbitrary-JSLT surface (Jslt.java:19-36) stays available.  Scripts
    calling Context.jslt_functions run on the evaluator: the native
    compiler rejects the unknown function name."""
    try:
        parsed = parse_jslt(script, ctx.jslt_resolver)
    except JsltUnsupported as e:
        raise NotImplementedError(
            f"JSLT beyond both the native subset and the tier-2 "
            f"evaluator ({e})"
        ) from e

    def native(df: DataFrame) -> DataFrame:
        added, dropped, projected = compile_jslt(parsed, df)
        if added is not None:
            out = df
            for k, v in added.items():
                out = out.withColumn(k, v)
            drops = [c for c in dropped if c in out.columns]
            if drops:
                out = out.drop(*drops)
            return _rekey_on_id(out)
        # a projecting template replaces the document, not the message
        # key — carry the internal key column through (as $project
        # does, stateless.py:185); the key then re-derives from the
        # result's _id whenever one is present (Script.java:67-73)
        keep = [F.col(c) for c in (KEY_COL,) if c in df.columns]
        return _rekey_on_id(df.select(*keep, *projected))

    _ship_by_value(jslt_eval)
    return native, jslt_eval.jslt_transform(parsed, ctx.jslt_functions)


def _ship_by_value(module) -> None:
    """Pickle the fallback module inside the UDF closure: executors need
    no package install / sys.path setup for the tier-2 path."""
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(module)
    except Exception:  # pragma: no cover - older pickler
        pass


def _script_udf(df: DataFrame, run_one) -> DataFrame:
    """Shared tier-2 plumbing: the document (engine-internal ``__``
    columns stripped) round-trips through JSON and ``run_one``; the
    message-key column rides alongside and re-derives from the result's
    ``_id`` whenever one is present (Script.java:67-73)."""
    sample = df.limit(1).collect()
    if not sample:
        return df
    doc_cols = [c for c in df.columns if not c.startswith("__")]
    clean = {k: v for k, v in sample[0].asDict(recursive=True).items()
             if not k.startswith("__")}
    out_sample = run_one(clean)
    schema = F.schema_of_json(F.lit(json.dumps(out_sample)))
    keep = [F.col(c) for c in (KEY_COL,) if c in df.columns]
    jsons = df.select(
        *keep, F.to_json(F.struct(*doc_cols)).alias("__doc"))

    @F.udf("string")
    def run(doc: str) -> str:
        return json.dumps(run_one(json.loads(doc)))

    out = jsons.select(
        *[F.col(c) for c in (KEY_COL,) if c in jsons.columns],
        F.from_json(run("__doc"), schema).alias("__o"),
    ).select(*[c for c in (KEY_COL,) if c in jsons.columns], "__o.*")
    return _rekey_on_id(out)


@register_stage("$jq", "per_batch")
def jq_stage(expression: Any, ctx: Context) -> StageFn:
    return _script_stage("jq", expression, ctx)


@register_stage("$jslt", "per_batch")
def jslt_stage(expression: Any, ctx: Context) -> StageFn:
    return _script_stage("jslt", expression, ctx)
