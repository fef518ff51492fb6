"""Script stages: ``$jq`` and ``$jslt`` — whole-document transforms.

Reference (src/main/java/net/pincette/mongo/streams/Jq.java:19-33,
Jslt.java:19-36, shared driver Script.java:58-73): run a jackson-jq / JSLT
script over each document; if the result's ``_id`` changed the message is
re-keyed; script errors are logged and rethrown.

Spark strategy (three tiers):

1. **Native subset compiler** (zero UDF): the script patterns the reference
   test-suite witnesses — jq ``. + {k: v, ...}`` / identity ``.`` and JSLT
   object templates ``{"k": v, *: .}`` — compile straight to
   ``$addFields``-style Column programs, keeping codegen and pushdown.
2. **Python ``jq`` binding** (import-gated): arbitrary jq programs run over
   ``to_json``/``from_json`` in a Pandas UDF; the output schema is sampled
   from the first result.
3. JSLT beyond the template subset has no Python runtime — documented as a
   JVM-only extension point (SURVEY.md §2.1).
"""

from __future__ import annotations

import json
import re
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..context import Context
from ..expressions import _lit_deep
from ..pipeline import StageFn, register_stage
from .stateless import KEY_COL, _rekey_on_id

_JQ_ADD = re.compile(r"^\s*\.\s*\+\s*(\{.*\})\s*$", re.S)
_JQ_IDENTITY = re.compile(r"^\s*\.\s*$")


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


_JQ_BARE_KEY = re.compile(r'([{,]\s*)([A-Za-z_][A-Za-z0-9_]*)\s*:')


def _jq_native(script: str) -> Optional[dict]:
    """Try to compile the jq script to an added-fields dict (tier 1)."""
    if _JQ_IDENTITY.match(script):
        return {}
    m = _JQ_ADD.match(script)
    if m:
        # valid JSON first (quoted keys; string values may contain '{k:'
        # patterns the bare-key rewrite must not touch), then retry with
        # jq's unquoted identifier keys quoted (`. + {test: 1}` —
        # TestScript jq2)
        for candidate in (m.group(1), _JQ_BARE_KEY.sub(r'\1"\2":', m.group(1))):
            try:
                obj = json.loads(candidate)
            except json.JSONDecodeError:
                continue
            if isinstance(obj, dict):
                return obj
        return None
    return None


def _jslt_native(script: str) -> Optional[dict]:
    """JSLT object template ``{"k": v, ..., *: .}`` -> added fields."""
    s = script.strip()
    if not (s.startswith("{") and s.endswith("}")):
        return None
    if "*: ." not in s.replace('"*"', "*").replace(" ", "").replace("*:.", "*: ."):
        # without the spread the template replaces the whole doc; only the
        # spread form is supported natively
        if "*" in s:
            return None
    try:
        cleaned = re.sub(r"\*\s*:\s*\.", '"__spread__": true', s)
        obj = json.loads(cleaned)
        obj.pop("__spread__", None)
        return obj
    except json.JSONDecodeError:
        return None


def _apply_added(df: DataFrame, added: dict) -> DataFrame:
    out = df
    for k, v in added.items():
        out = out.withColumn(k, _lit_deep(v))
    # Script.java:67-73: key = result _id whenever present
    return _rekey_on_id(out)


def _script_stage(kind: str, expression: Any, ctx: Context) -> StageFn:
    spec = expression["script"] if isinstance(expression, dict) else expression
    script = _load_script(spec, ctx.resource_root)
    native = _jq_native(script) if kind == "jq" else _jslt_native(script)

    def fn(df: DataFrame, c: Context) -> DataFrame:
        if native is not None:
            return _apply_added(df, native)
        if kind == "jq":
            # tier 1.5: the jq-subset compiler (pipes of steps, paths,
            # operators, select/del, value-piped builtins) — native
            # Columns, no UDF (operators/jq.py); the python jq binding
            # (tier 2) only for scripts beyond the subset
            from .jq import JqUnsupported, compile_jq_steps
            from .jslt import JsltUnsupported as _SharedUnsupported

            try:
                # apply can also raise (e.g. a step whose result is not a
                # document) — both fall to tier 2.  A script calling a
                # Context.jq_functions custom function lands here too:
                # the native compiler rejects the unknown name
                return compile_jq_steps(script, _rekey_on_id)(df)
            except (JqUnsupported, _SharedUnsupported):
                # the shared Column compiler (operators/jslt.py) raises
                # its own boundary error for jq scripts too
                return _jq_udf(df, script, c.jq_functions, c.jq_resolver)
        # tier 1.5: the JSLT-subset compiler (paths, operators, if/else,
        # let/def, for, builtins) — native Columns, no UDF
        # (operators/jslt.py); tier 2: the pure-Python evaluator
        # (operators/jslt_eval.py) for what the Column model can't hold
        from .jslt import JsltUnsupported, compile_jslt

        try:
            added, dropped, projected = compile_jslt(
                script, df, resolver=c.jslt_resolver)
        except JsltUnsupported:
            # custom Context.jslt_functions scripts also land here (the
            # native compiler rejects the unknown function name)
            return _jslt_udf(df, script, c.jslt_functions, c.jslt_resolver)

        def apply(frame: DataFrame) -> DataFrame:
            if added is not None:
                out = frame
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
            keep = [F.col(c) for c in (KEY_COL,) if c in frame.columns]
            out = frame.select(*keep, *projected)
            return _rekey_on_id(out)

        return apply(df)

    return fn


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


def _jslt_udf(df: DataFrame, script: str, functions=None,
              resolver=None) -> DataFrame:
    """Tier 2 for $jslt scripts the Column compiler rejects: the
    pure-Python evaluator over the same AST (operators/jslt_eval.py) —
    Python per row, but the reference's arbitrary-JSLT surface
    (Jslt.java:19-36) stays available instead of erroring."""
    from . import jslt_eval
    from .jslt import JsltUnsupported

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(jslt_eval)
    except Exception:  # pragma: no cover - older pickler
        pass
    try:
        run_one = jslt_eval.jslt_transform(script, functions, resolver)
    except JsltUnsupported as e:
        raise NotImplementedError(
            f"JSLT beyond both the native subset and the tier-2 "
            f"evaluator ({e})"
        ) from e
    return _script_udf(df, run_one)


def _jq_has_imports(script: str) -> bool:
    """True when the first non-comment token opens a module directive.
    Skips jq ``#`` comment lines and whitespace (the old
    ``lstrip().startswith`` prefix test missed a comment before the
    import and false-positived on identifiers like ``include_all``)."""
    import re as _re

    # unambiguous per position: single \s (not \s+ — the (a+)* ReDoS
    # shape) or a '#' comment that MUST consume to end-of-line (so a
    # comment merely containing the word "import" can't backtrack into
    # a false positive)
    return bool(_re.match(
        r"(?:\s|#[^\n]*(?:\n|\Z))*(?:import|include)\b", script))


def _jq_udf(df: DataFrame, script: str, functions=None,
            resolver=None) -> DataFrame:
    """Tier 2 for $jq scripts beyond the native compiler: the C-backed
    python ``jq`` binding when installed, else the pure-Python interpreter
    (operators/jq_interp.py) — slower (Python per row) but correct for
    the long tail (Jq.java:19-33 runs arbitrary jackson-jq)."""
    has_imports = _jq_has_imports(script)
    try:
        if functions or has_imports:
            # custom Python functions and resolver-served modules only
            # exist in the interpreter path; a configured resolver alone
            # must NOT disable the C binding for import-free scripts
            raise ImportError
        import jq  # type: ignore

        compiled = jq.compile(script)
        run_one = lambda doc: compiled.input(doc).first()
    except Exception:
        # broad on purpose: a jq.compile error (e.g. a directive the C
        # binding can't resolve without our resolver seam) falls through
        # to the interpreter instead of crashing the stage
        from . import jq_interp
        from .jq_interp import JqInterpError, jq_first

        try:
            # ship the interpreter inside the closure: executors need no
            # package install / sys.path setup for the tier-2 path
            from pyspark import cloudpickle

            cloudpickle.register_pickle_by_value(jq_interp)
        except Exception:  # pragma: no cover - older pickler
            pass
        try:
            run_one = jq_first(script, functions, resolver)
        except JqInterpError as e:
            raise NotImplementedError(
                f"$jq script beyond both the native subset and the "
                f"tier-2 interpreter ({e})"
            ) from e
    return _script_udf(df, run_one)


@register_stage("$jq", "per_batch")
def jq_stage(expression: Any, ctx: Context) -> StageFn:
    return _script_stage("jq", expression, ctx)


@register_stage("$jslt", "per_batch")
def jslt_stage(expression: Any, ctx: Context) -> StageFn:
    return _script_stage("jslt", expression, ctx)
