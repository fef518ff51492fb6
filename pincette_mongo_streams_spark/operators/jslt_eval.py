"""Pure-Python JSLT evaluator — the $jslt tier-2 long tail.

The reference runs arbitrary JSLT on the JVM (Jslt.java:19-36).  The
native Column compiler (operators/jslt.py) covers the practically-used
subset; what it rejects — recursive ``def`` functions, dynamic-typed
values the Column model can't hold (heterogeneous zip, untyped is-*),
object comprehensions at top level, objects as iteration sources — used
to be a hard boundary.  This evaluator interprets the SAME parsed AST on
plain JSON values, so script.py degrades to a working (Python-per-row)
path instead of NotImplementedError.

JSLT is single-valued (unlike jq's streams), so evaluation is a plain
recursive function.  The AST is flattened to tagged tuples before the
closure is built, so executors only need this module (shipped by value
via cloudpickle), not the compiler package.

Deliberate deviations, matching the tier-1 compiler so the two tiers
agree: object templates KEEP null-valued keys (JSLT drops them; our
columnar model can't, and cross-tier consistency wins), and division
always yields a float.
"""

from __future__ import annotations

import json
import math
import re
from typing import Any


class JsltEvalError(Exception):
    """Runtime error in a tier-2 JSLT evaluation."""


# ------------------------------------------------------------- AST strip


def _strip(node: Any) -> Any:
    """Dataclass AST -> plain tagged tuples (picklable without the
    compiler module)."""
    from . import jslt as J

    if isinstance(node, J.Lit):
        return ("lit", node.value)
    if isinstance(node, J.Path):
        return ("path", tuple(node.parts))
    if isinstance(node, J.Var):
        return ("var", node.name)
    if isinstance(node, J.Bin):
        return ("bin", node.op, _strip(node.left), _strip(node.right))
    if isinstance(node, J.If):
        return ("if", _strip(node.cond), _strip(node.then),
                _strip(node.other) if node.other is not None else None)
    if isinstance(node, J.Call):
        return ("call", node.name, tuple(_strip(a) for a in node.args))
    if isinstance(node, J.Arr):
        return ("arr", tuple(_strip(i) for i in node.items))
    if isinstance(node, J.Obj):
        return ("obj", tuple((k, _strip(v)) for k, v in node.pairs),
                node.spread, tuple(node.minus))
    if isinstance(node, J.Idx):
        return ("idx", _strip(node.target), node.index)
    if isinstance(node, J.Slice):
        return ("slice", _strip(node.target), node.lo, node.hi)
    if isinstance(node, J.Sub):
        return ("sub", _strip(node.target), tuple(node.parts))
    if isinstance(node, J.For):
        return ("for", _strip(node.seq), _strip(node.body),
                _strip(node.cond) if node.cond is not None else None)
    if isinstance(node, J.ForObj):
        return ("forobj", _strip(node.seq), _strip(node.key),
                _strip(node.value),
                _strip(node.cond) if node.cond is not None else None)
    raise JsltEvalError(f"node {type(node).__name__} has no evaluator")


# --------------------------------------------------------------- runtime


def _truthy(v: Any) -> bool:
    """JSLT boolean conversion: null, false, 0, "", [] and {} are falsy."""
    if v is None or v is False:
        return False
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return v != 0
    if isinstance(v, (str, list, dict)):
        return len(v) > 0
    return True


def _to_str(v: Any) -> str:
    if isinstance(v, str):
        return v
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return json.dumps(v)
    return json.dumps(v)


def _num(v: Any, what: str):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise JsltEvalError(f"{what} needs a number, got {v!r}")
    return v


def _plus(a: Any, b: Any) -> Any:
    if isinstance(a, str) or isinstance(b, str):
        return _to_str(a) + _to_str(b)
    if isinstance(a, list) and isinstance(b, list):
        return a + b
    if isinstance(a, dict) and isinstance(b, dict):
        return {**b, **a}  # JSLT: left side wins on duplicate keys
    if a is None or b is None:
        return None
    return _num(a, "+") + _num(b, "+")


def _walk(v: Any, parts) -> Any:
    for p in parts:
        if isinstance(v, dict):
            v = v.get(p)
        else:
            return None
    return v


def _pairs(v: Any):
    """Iteration source: arrays as-is; objects as {key, value} rows."""
    if isinstance(v, list):
        return v
    if isinstance(v, dict):
        return [{"key": k, "value": x} for k, x in v.items()]
    if v is None:
        return []
    raise JsltEvalError(f"cannot iterate over {v!r}")


class _Env:
    __slots__ = ("vars", "lets", "defs", "doc", "customs")

    def __init__(self, vars, lets, defs, doc, customs=None):
        self.vars = vars
        self.lets = lets
        self.defs = defs
        self.doc = doc
        # customJsltFunctions analog (reference Jslt.java:27-33): plain
        # Python callables ``name -> fn(*arg_values)``, consulted last so
        # script-local defs and builtins win
        self.customs = customs or {}

    def child(self, extra):
        return _Env({**self.vars, **extra}, self.lets, self.defs, self.doc,
                    self.customs)


def _ev(node, dot, env) -> Any:
    kind = node[0]
    if kind == "lit":
        return node[1]
    if kind == "path":
        v = dot
        return _walk(v, node[1]) if node[1] else v
    if kind == "var":
        name = node[1]
        if name in env.vars:
            return env.vars[name]
        if name in env.lets:
            # lets are document-scoped
            return _ev(env.lets[name], env.doc, env)
        raise JsltEvalError(f"unbound variable ${name}")
    if kind == "bin":
        op = node[1]
        if op == "and":
            return _truthy(_ev(node[2], dot, env)) and \
                _truthy(_ev(node[3], dot, env))
        if op == "or":
            return _truthy(_ev(node[2], dot, env)) or \
                _truthy(_ev(node[3], dot, env))
        a = _ev(node[2], dot, env)
        b = _ev(node[3], dot, env)
        if op == "+":
            return _plus(a, b)
        if op == "-":
            return _num(a, "-") - _num(b, "-")
        if op == "*":
            return _num(a, "*") * _num(b, "*")
        if op == "/":
            d = _num(b, "/")
            if d == 0:
                return None  # tier-1 try_divide semantics
            return _num(a, "/") / d
        if op == "==":
            return a == b
        if op == "!=":
            return a != b
        if a is None or b is None:
            return None
        if op == "<":
            return a < b
        if op == "<=":
            return a <= b
        if op == ">":
            return a > b
        if op == ">=":
            return a >= b
        raise JsltEvalError(f"operator {op!r}")
    if kind == "if":
        if _truthy(_ev(node[1], dot, env)):
            return _ev(node[2], dot, env)
        return _ev(node[3], dot, env) if node[3] is not None else None
    if kind == "arr":
        return [_ev(i, dot, env) for i in node[1]]
    if kind == "obj":
        out = {}
        for k, v in node[1]:
            out[k] = _ev(v, dot, env)
        if node[2]:  # spread
            src = dot if isinstance(dot, dict) else {}
            for k, v in src.items():
                if k not in out and k not in node[3] \
                        and not k.startswith("__"):
                    out[k] = v
        return out
    if kind == "idx":
        v = _ev(node[1], dot, env)
        if not isinstance(v, (list, str)):
            return None
        i = node[2]
        n = len(v)
        if i < 0:
            i += n
        return v[i] if 0 <= i < n else None
    if kind == "slice":
        v = _ev(node[1], dot, env)
        if not isinstance(v, (list, str)):
            return None
        return v[node[2]:node[3]]
    if kind == "sub":
        return _walk(_ev(node[1], dot, env), node[2])
    if kind == "for":
        seq = _pairs(_ev(node[1], dot, env))
        out = []
        for x in seq:
            if node[3] is not None and not _truthy(_ev(node[3], x, env)):
                continue
            out.append(_ev(node[2], x, env))
        return out
    if kind == "forobj":
        seq = _pairs(_ev(node[1], dot, env))
        out = {}
        for x in seq:
            if node[4] is not None and not _truthy(_ev(node[4], x, env)):
                continue
            k = _ev(node[2], x, env)
            if not isinstance(k, str):
                raise JsltEvalError("object key must be a string")
            out[k] = _ev(node[3], x, env)
        return out
    if kind == "call":
        return _call(node[1], node[2], dot, env)
    raise JsltEvalError(f"unsupported AST node {kind!r}")


def _call(name, args, dot, env) -> Any:
    if name in env.defs:
        params, body = env.defs[name]
        if len(args) != len(params):
            raise JsltEvalError(f"{name}() takes {len(params)} argument(s)")
        vals = {p: _ev(a, dot, env) for p, a in zip(params, args)}
        try:
            return _ev(body, dot, env.child(vals))
        except RecursionError:
            # non-terminating recursion -> evaluator error, not a raw
            # Python exception killing the Spark task
            raise JsltEvalError(
                f"{name}(): recursion depth exceeded") from None
    fn = _BUILTINS.get(name)
    if fn is None:
        custom = env.customs.get(name)
        if custom is not None:
            return custom(*[_ev(a, dot, env) for a in args])
        raise JsltEvalError(f"unknown function {name}()")
    return fn([_ev(a, dot, env) for a in args], args, dot, env)


def _size(v):
    if v is None:
        return None
    if isinstance(v, (str, list, dict)):
        return len(v)
    raise JsltEvalError("size() needs a string, array or object")


def _number(v):
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return v
    if isinstance(v, str):
        try:
            f = float(v)
        except ValueError:
            return None
        return int(f) if f.is_integer() and "." not in v \
            and "e" not in v.lower() else f
    return None


def _flatten(v):
    out = []
    for x in v:
        if isinstance(x, list):
            out.extend(_flatten(x))
        else:
            out.append(x)
    return out


def _capture(v, pattern):
    if v is None:
        return None
    # Java-style `(?<name>` -> Python `(?P<name>`, WITHOUT touching
    # lookbehinds `(?<=` / `(?<!` (a blind replace would corrupt them)
    py_pat = re.sub(r"\(\?<([A-Za-z])", r"(?P<\1", pattern)
    m = re.search(py_pat, v)
    if not m:
        return {}
    return {k: (x if x is not None else "")
            for k, x in m.groupdict().items()}


def _parse_url(v):
    from urllib.parse import urlsplit

    if v is None:
        return None
    u = urlsplit(v)
    return {
        "scheme": u.scheme or None,
        "host": u.hostname,
        "path": u.path or None,
        "query": u.query or None,
        "fragment": u.fragment or None,
        "userinfo": u.username,
    }


def _simple(fn):
    return lambda vals, args, dot, env: fn(*vals)


_BUILTINS = {
    "size": _simple(_size),
    "not": _simple(lambda v: not _truthy(v)),
    "string": _simple(_to_str),
    "number": _simple(_number),
    "boolean": _simple(_truthy),
    "round": _simple(lambda v: None if v is None
                     else math.floor(_num(v, "round") + 0.5)),
    "floor": _simple(lambda v: None if v is None
                     else math.floor(_num(v, "floor"))),
    "ceiling": _simple(lambda v: None if v is None
                       else math.ceil(_num(v, "ceiling"))),
    "lowercase": _simple(lambda v: v.lower() if v is not None else None),
    "uppercase": _simple(lambda v: v.upper() if v is not None else None),
    "trim": _simple(lambda v: v.strip() if v is not None else None),
    "contains": _simple(lambda e, s: (e in s) if s is not None else False),
    "split": _simple(lambda v, sep: v.split(sep) if v is not None else None),
    "join": _simple(lambda arr, sep:
                    sep.join(_to_str(x) for x in arr)
                    if arr is not None else None),
    "test": _simple(lambda v, pat: re.search(pat, v) is not None
                    if v is not None else False),
    "fallback": lambda vals, a, d, e: next(
        (v for v in vals if v is not None), None),
    "min": _simple(lambda a, b: None if a is None or b is None
                   else min(a, b)),
    "max": _simple(lambda a, b: None if a is None or b is None
                   else max(a, b)),
    "sum": _simple(lambda arr: float(sum(arr)) if arr else 0.0),
    "mod": _simple(lambda a, b: int(a) % int(b)),
    "starts-with": _simple(lambda v, p: v.startswith(p)
                           if v is not None else False),
    "ends-with": _simple(lambda v, p: v.endswith(p)
                         if v is not None else False),
    "replace": _simple(lambda v, pat, out:
                       re.sub(pat, out, v) if v is not None else None),
    "uuid": lambda vals, a, d, e: __import__("uuid").uuid4().__str__(),
    "sha256-hex": _simple(lambda v: __import__("hashlib").sha256(
        _to_str(v).encode()).hexdigest()),
    "is-number": _simple(lambda v: isinstance(v, (int, float))
                         and not isinstance(v, bool)),
    "is-integer": _simple(lambda v: isinstance(v, int)
                          and not isinstance(v, bool)),
    "is-decimal": _simple(lambda v: isinstance(v, float)),
    "is-string": _simple(lambda v: isinstance(v, str)),
    "is-boolean": _simple(lambda v: isinstance(v, bool)),
    "is-object": _simple(lambda v: isinstance(v, dict)),
    "is-array": _simple(lambda v: isinstance(v, list)),
    "index-of": _simple(lambda arr, x: arr.index(x)
                        if arr is not None and x in arr else -1),
    "zip": _simple(lambda a, b: [[x, y] for x, y in zip(a, b)]),
    "zip-with-index": _simple(lambda a: [
        {"value": v, "index": i} for i, v in enumerate(a)]),
    "flatten": _simple(_flatten),
    "get-key": lambda vals, a, d, e: (
        vals[0].get(vals[1], vals[2] if len(vals) > 2 else None)
        if isinstance(vals[0], dict) else None),
    "to-json": _simple(lambda v: json.dumps(v, separators=(",", ":"))),
    "from-json": _simple(lambda v: json.loads(v) if v is not None else None),
    "parse-time": lambda vals, a, d, e: _parse_time(*vals),
    "format-time": lambda vals, a, d, e: _format_time(*vals),
    "now": lambda vals, a, d, e: __import__("time").time(),
    "capture": _simple(_capture),
    "parse-url": _simple(_parse_url),
    "error": _simple(lambda v: (_ for _ in ()).throw(JsltEvalError(v))),
}


def _java_fmt_to_py(fmt: str) -> str:
    out = ""
    i = 0
    subs = {"yyyy": "%Y", "MM": "%m", "dd": "%d", "HH": "%H",
            "mm": "%M", "ss": "%S"}
    while i < len(fmt):
        for k in ("yyyy", "MM", "dd", "HH", "mm", "ss"):
            if fmt.startswith(k, i):
                out += subs[k]
                i += len(k)
                break
        else:
            out += fmt[i]
            i += 1
    return out


def _parse_time(v, fmt, fallback=None):
    import datetime as dt

    if v is None:
        return fallback
    try:
        d = dt.datetime.strptime(v, _java_fmt_to_py(fmt))
        return d.replace(tzinfo=dt.timezone.utc).timestamp()
    except ValueError:
        return fallback


def _format_time(secs, fmt):
    import datetime as dt

    if secs is None:
        return None
    d = dt.datetime.fromtimestamp(secs, dt.timezone.utc)
    return d.strftime(_java_fmt_to_py(fmt))


def jslt_transform(script, functions=None, resolver=None):
    """Return ``doc -> transformed doc`` over plain JSON values for
    ``script``: source text (parsed with the shared parser, imports
    served by ``resolver``: module name -> source) or a
    ``jslt.parse_jslt`` result.  Raises the compiler's JsltUnsupported
    if the parser rejects it.

    ``functions`` is the customJsltFunctions analog (Jslt.java:27-33):
    ``{name: fn(*args)}`` consulted after script defs and builtins."""
    from .jslt import parse_jslt

    lets, defs, body = (parse_jslt(script, resolver)
                        if isinstance(script, str) else script)
    plain_lets = {k: _strip(v) for k, v in lets.items()}
    plain_defs = {k: (list(p), _strip(b)) for k, (p, b) in defs.items()}
    plain_body = _strip(body)
    customs = dict(functions or {})

    def run(doc: dict) -> Any:
        clean = {k: v for k, v in doc.items() if not k.startswith("__")}
        env = _Env({}, plain_lets, plain_defs, clean, customs)
        return _ev(plain_body, clean, env)

    return run
