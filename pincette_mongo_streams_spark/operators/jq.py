"""Native jq-subset compiler: jq filters -> Spark DataFrame programs.

Every ``$jq`` script is parsed once, by the interpreter's parser
(``jq_interp.parse``).  This module translates the pipeline-shaped
subset of that tuple AST — the forms that make sense over a stream of
documents — into the JSLT AST (operators/jslt.py), whose Column
compiler it shares, so those scripts run as Catalyst expressions.

A script is a ``|``-pipe of STEPS; each step transforms the document:

- ``.``                       identity
- ``. + {k: <expr>, ...}``    merge fields in ($addFields semantics)
- ``{k: <expr>, ...}``        rebuild the document with exactly these
                              keys (``{foo}`` shorthand = ``{foo: .foo}``)
- ``del(.a, .b)``             remove top-level fields
- ``select(<expr>)``          keep the document only when the filter holds

Expressions: dot paths (absent -> null) and literal integer indexes
(``.xs[0].name``), literals, arrays/objects, ``+ - * /`` (``+``
concatenates when a side is a string), comparisons, ``and`` / ``or``,
``if c then a elif d then b else e end`` (the ``else`` is required:
jq gives ``.`` when no branch holds), ``<a> // <b>`` (alternative: right when left is
null/false), and VALUE PIPES — ``(.name | ascii_downcase)``,
``(.text | split(",") | length)`` — with builtins length, not,
tostring, tonumber, floor, ceil, round, ascii_downcase, ascii_upcase,
ltrimstr, rtrimstr, test, split (literal separator, as in jq), join,
and the array builtins add, min, max, first, last, reverse, sort,
unique.

String interpolation ``"a \\(expr) b"`` compiles to a native concat
chain (interpolated object KEYS are dynamic and stay on the
interpreter).

Folds and bindings — all compiled to ``aggregate``/``transform``
higher-order functions, no UDF:

- ``reduce .xs[] as $x (INIT; UPD)`` (``.`` = accumulator in UPD)
- ``[foreach .xs[] as $x (INIT; UPD)]`` — the collected running scan
- ``map(f)`` (``.`` = element inside f)
- ``EXPR as $x | <rest>`` step-level bindings (hidden-column backed) and
  ``(EXPR as $x | BODY)`` expression-level bindings

Anything else raises ``JqUnsupported``, and script.py runs the script
on the pure-Python interpreter (operators/jq_interp.py) instead.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .jslt import (
    Arr,
    As,
    Bin,
    Call,
    For,
    Foreach,
    Idx,
    If,
    Lit,
    Obj,
    Path,
    Reduce,
    Sub,
    Var,
    _Compiler,
    _schema_hint,
)
from .stateless import KEY_COL


class JqUnsupported(Exception):
    """Filter uses jq beyond the compiled subset."""


def _commas(node: tuple) -> list[tuple]:
    """``a, b, c`` -> [a, b, c]."""
    if node[0] == "comma":
        return _commas(node[1]) + _commas(node[2])
    return [node]


def _key(node: tuple) -> str:
    """A literal field name: ``.foo``, ``."foo"`` or an object key."""
    if node[0] == "lit" and isinstance(node[1], str):
        return node[1]
    if node[0] == "str" and all(isinstance(p, str) for p in node[1]):
        return "".join(node[1])
    raise JqUnsupported("computed keys are dynamic")


def _expr(node: tuple) -> Any:
    """One value-level jq AST node (operators/jq_interp.py) -> the
    shared JSLT AST.  Value pipes fold into calls: ``x | f(a)`` ->
    Call(f, [x, a]); bare calls, streams and everything else the Column
    model cannot hold raise ``JqUnsupported``."""
    kind = node[0]
    if kind == "identity":
        return Path([])
    if kind == "lit":
        if isinstance(node[1], (dict, list)):
            raise JqUnsupported("structured literal")
        return Lit(node[1])
    if kind == "str":
        # "a \(x) b" -> a native concat chain (`+` with a string side
        # concatenates)
        out: Any = Lit("")
        for part in node[1]:
            out = Bin("+", out, Lit(part) if isinstance(part, str)
                      else Call("tostring", [_expr(part[1])]))
        return out
    if kind == "var":
        return Var(node[1])
    if kind == "index":
        target, key = _expr(node[1]), _key(node[2])
        if isinstance(target, Path):
            return Path(target.parts + [key])
        if isinstance(target, Sub):
            return Sub(target.target, target.parts + [key])
        return Sub(target, [key])
    if kind == "bracket":
        index = _expr(node[2])
        if not (isinstance(index, Lit) and type(index.value) is int):
            raise JqUnsupported("only literal integer indexes compile")
        return Idx(_expr(node[1]), index.value)
    if kind == "neg":
        inner = _expr(node[1])
        if isinstance(inner, Lit) and type(inner.value) in (int, float):
            return Lit(-inner.value)
        return Bin("-", Lit(0), inner)
    if kind in ("arith", "cmp"):
        if node[1] == "%":
            raise JqUnsupported("operator '%'")
        return Bin(node[1], _expr(node[2]), _expr(node[3]))
    if kind in ("and", "or", "alt"):
        return Bin("//" if kind == "alt" else kind,
                   _expr(node[1]), _expr(node[2]))
    if kind == "if":
        # elif chains nest.  A missing else yields `.` in jq, which a
        # typed Column branch cannot hold beside the other branches
        if node[2] is None:
            raise JqUnsupported("`if` without `else`")
        out = _expr(node[2])
        for cond, then in reversed(node[1]):
            out = If(_expr(cond), _expr(then), out)
        return out
    if kind == "arr":
        return Arr([] if node[1] is None
                   else [_expr(n) for n in _commas(node[1])])
    if kind == "obj":
        return Obj([(_key(k), _expr(v)) for k, v in node[1]], False)
    if kind == "as":
        return As(_expr(node[1]), node[2], _expr(node[3]))
    if kind in ("reduce", "foreach"):
        _, src, var, init, upd, extract = node
        if src[0] != "iterate" or extract is not None:
            raise JqUnsupported(f"{kind} needs `SRC[] as $x (INIT; UPD)`")
        if src[1] == ("identity",):
            raise JqUnsupported("`.[]` over the whole document is not an array")
        cls = Reduce if kind == "reduce" else Foreach
        return cls(_expr(src[1]), var, _expr(init), _expr(upd))
    if kind == "pipe" and node[2][0] == "call":
        _, name, args = node[2]
        return Call(name, [_expr(node[1])] + [_expr(a) for a in args])
    raise JqUnsupported(f"jq {kind!r} outside the compiled subset")


def _steps(node: tuple) -> list[tuple[str, Any]]:
    """The top-level ``|`` pipe -> document steps (see the module
    docstring)."""
    kind = node[0]
    if kind == "pipe":
        return _steps(node[1]) + _steps(node[2])
    if kind == "as":
        # `EXPR as $x | <rest>`: $x is visible to every later step
        return [("bind", (_expr(node[1]), node[2]))] + _steps(node[3])
    if kind == "call" and node[1] in ("del", "select") and len(node[2]) == 1:
        if node[1] == "select":
            return [("select", _expr(node[2][0]))]
        paths = [_expr(p) for p in _commas(node[2][0])]
        if not all(isinstance(p, Path) and len(p.parts) == 1 for p in paths):
            raise JqUnsupported("del() takes top-level field paths")
        return [("del", [p.parts[0] for p in paths])]
    expr = _expr(node)
    if isinstance(expr, Path) and not expr.parts:
        return []  # identity
    if (isinstance(expr, Bin) and expr.op == "+"
            and isinstance(expr.left, Path) and not expr.left.parts
            and isinstance(expr.right, Obj)):
        return [("merge", expr.right.pairs)]
    if isinstance(expr, Obj):
        return [("rebuild", expr.pairs)]
    raise JqUnsupported(
        "pipe steps must be '.', '. + {..}', '{..}', del(..), "
        "select(..) or 'EXPR as $x'")


_JQ_TO_JSLT_FN = {
    "length": "size",
    "not": "not",
    "tostring": "string",
    "tonumber": "number",
    "ascii_downcase": "lowercase",
    "ascii_upcase": "uppercase",
    "floor": "floor",
    "ceil": "ceiling",
    "round": "round",
    "test": "test",
    "join": "join",
}


_JQVAR = "__jqvar_"  # hidden column prefix for step-level `as $x` bindings


class _JqCompiler(_Compiler):
    def compile(self, node: Any) -> tuple[Column, Any]:
        # step-level bindings live in hidden __jqvar_* columns; lambda-
        # scoped binds (reduce/map element vars) shadow them
        if isinstance(node, Var) and node.name not in self.binds \
                and node.name not in self.lets:
            hidden = _JQVAR + node.name
            if hidden in self.schema.fieldNames():
                return F.col(hidden), _schema_hint(self.schema[hidden].dataType)
        return super().compile(node)

    def compile_bin(self, node: Bin) -> tuple[Column, Any]:
        if node.op == "//":
            left, lh = self.compile(node.left)
            right, rh = self.compile(node.right)
            # jq alternative: right when left is null or false
            if lh == "bool":
                keep = left.isNotNull() & left
            else:
                keep = left.isNotNull()
            return F.when(keep, left).otherwise(right), lh or rh
        return super().compile_bin(node)

    def compile_call(self, node: Call) -> tuple[Column, Any]:
        name = node.name
        if name == "map":
            # map(f) over an array: f sees `.` as the element — compile
            # lazily as a For (F.transform), not via eager arg compile
            if len(node.args) != 2:
                raise JqUnsupported("map takes one argument")
            return self.compile(For(node.args[0], node.args[1], None))
        if name == "add":
            if len(node.args) != 1:
                raise JqUnsupported("add takes no arguments")
            from pyspark.sql import types as T

            src, elem_dt = self.compile_seq(node.args[0])
            if isinstance(elem_dt, T.StringType):
                # jq add concatenates string arrays
                folded = F.aggregate(src, F.lit(""),
                                     lambda acc, x: F.concat(acc, x))
                hint = "string"
            else:
                folded = F.aggregate(src, F.lit(0.0), lambda acc, x: acc + x)
                hint = "number"
            # jq: add of an empty (or null) array is null, not the zero
            return (
                F.when(F.size(src) > 0, folded).otherwise(F.lit(None)),
                hint,
            )
        if name in ("min", "max", "first", "last", "reverse", "sort",
                    "unique"):
            if len(node.args) != 1:
                raise JqUnsupported(f"{name} takes no arguments")
            src, _ = self.compile_seq(node.args[0])
            col = {
                "min": F.array_min,
                "max": F.array_max,
                "first": lambda c: F.element_at(c, 1),
                "last": lambda c: F.element_at(c, -1),
                "reverse": F.reverse,
                "sort": F.array_sort,
                "unique": lambda c: F.array_sort(F.array_distinct(c)),
            }[name](src)
            hint = "array" if name in ("reverse", "sort", "unique") else None
            return col, hint
        if name in _JQ_TO_JSLT_FN:
            return super().compile_call(Call(_JQ_TO_JSLT_FN[name], node.args))
        if name in ("ltrimstr", "rtrimstr"):
            if len(node.args) != 2:
                raise JqUnsupported(f"{name} takes one argument")
            target, _ = self.compile(node.args[0])
            s = node.args[1]
            if not (isinstance(s, Lit) and isinstance(s.value, str)):
                raise JqUnsupported(f"{name} needs a literal string")
            lit, n = s.value, len(s.value)
            if name == "ltrimstr":
                col = F.when(
                    target.startswith(lit),
                    target.substr(F.lit(n + 1), F.length(target)),
                ).otherwise(target)
            else:
                col = F.when(
                    target.endswith(lit),
                    target.substr(F.lit(1), F.length(target) - n),
                ).otherwise(target)
            return col, "string"
        if name == "split":
            if len(node.args) != 2:
                raise JqUnsupported("split takes one argument")
            target, _ = self.compile(node.args[0])
            s = node.args[1]
            if not (isinstance(s, Lit) and isinstance(s.value, str)):
                raise JqUnsupported("split needs a literal string")
            # jq split(s) splits on the LITERAL string, not a regex
            return F.split(target, re.escape(s.value)), "array"
        raise JqUnsupported(f"builtin {name!r}")


def compile_jq_steps(ast: tuple, rekey) -> Any:
    """Translate a parsed script (``jq_interp.parse``); returns a
    function ``df -> DataFrame`` or raises ``JqUnsupported``.  The
    function itself raises ``JqUnsupported``/``JsltUnsupported`` when a
    step does not compile against ``df``'s schema.  ``rekey`` is the
    _rekey_on_id hook applied when a step (re)sets ``_id``."""
    steps = _steps(ast)

    def apply(df: DataFrame) -> DataFrame:
        out = df
        for tag, payload in steps:
            comp = _JqCompiler(out.schema, {})
            if tag == "bind":
                # `EXPR as $x | ...`: materialize the binding as a hidden
                # column so later steps (and rebuilds) can reference it
                expr_node, var = payload
                out = out.withColumn(_JQVAR + var,
                                     comp.compile(expr_node)[0])
            elif tag == "del":
                out = out.drop(*payload)
            elif tag == "select":
                out = out.filter(comp.compile(payload)[0])
            elif tag == "merge":
                for k, v in payload:
                    out = out.withColumn(k, comp.compile(v)[0])
            else:
                # a rebuild replaces the DOCUMENT, not the message key:
                # carry the engine-internal key column through (as
                # $project/$replaceWith do — stateless.py:185,255); the
                # end-of-stage rekey below re-derives it from the
                # result's _id exactly as the reference does
                keep = [F.col(c) for c in out.columns
                        if c == KEY_COL or c.startswith(_JQVAR)]
                out = out.select(*keep, *[comp.compile(v)[0].alias(k)
                                          for k, v in payload])
        hidden = [c for c in out.columns if c.startswith(_JQVAR)]
        if hidden:
            out = out.drop(*hidden)
        # reference stage semantics (Script.java:67-73): the output key
        # is the result's _id WHENEVER the result carries one (even if
        # unchanged), else the incoming key — once per script stage
        return rekey(out)

    return apply
