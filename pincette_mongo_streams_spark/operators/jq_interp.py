"""Pure-Python jq interpreter — the $jq tier-2 long tail.

The reference runs any jackson-jq program (Jq.java:19-33).  ``parse``
here is the only jq parser: the native Column compiler (operators/jq.py,
tier 1) translates the subset of its AST that the Column model can
hold, and this module interprets everything else over plain JSON values
with real STREAM semantics (every expression evaluates to a generator of
outputs) — a slower, Python-per-row path for the scripts tier 1
rejects.

Supported beyond the native subset: multi-output streams and ``,``,
``.x[0]`` / ``.x[]`` / slices / optional ``?``, string interpolation
``"\\(expr)"``, jq's polymorphic arithmetic (array/object ``+``, object
``*`` deep-merge, string ``/`` split, array ``-`` difference), object
construction with computed keys, ``if/elif``, ``reduce`` / ``foreach``
(3-arg too), ``as`` bindings, ``try``/``catch`` and ``error``, ``def``
user functions (recursive too — the definition stays in scope inside
its own body), recursive descent ``..`` / ``recurse(f)``, ``limit``,
the regex family with Oniguruma named captures converted to Python
(``test``/``match``/``capture``/``scan``/``sub``/``gsub``/``splits``),
``@base64``-style format strings (text/json/csv/tsv/html/uri/sh/
base64/base64d, both as filters and as ``@fmt "..."`` interpolation),
and ~60 builtins (to_entries/from_entries/with_entries, group_by/
sort_by/unique_by/min_by/max_by, map/map_values/select/empty, range,
flatten, any/all, startswith/endswith/explode/implode, tostring/
tonumber/type/has/in/contains, paths/leaf_paths, getpath, env-free).

Also supported: ``label $out | ... break $out`` (exception-based
unwinding, deliberately not catchable by try/catch), and
``import "m" as alias;`` / ``include "m";`` module directives served by
a resolver (``Context.jq_resolver`` — the jackson-jq module-loader seam,
Jq.java:27-31); imported functions are called ``alias::fn(...)``.

``$__loc__`` yields ``{file: "<stdin>", line}`` with real token line
numbers.

``input``/``inputs`` follow one-doc-in stream semantics: the single
input is already consumed as ``.``, so ``inputs`` is exhausted (empty —
``[., inputs]`` and ``reduce inputs`` idioms degrade cleanly) and
``input`` errors with jq's own "No more inputs" (catchable with try).

Not supported: SQL-ish builtins.  Those raise ``JqInterpError`` at
parse or eval time.
"""

from __future__ import annotations

import json
import math
import re
from typing import Any, Callable, Iterator


class JqInterpError(Exception):
    """Script uses jq beyond even the tier-2 interpreter."""


# ------------------------------------------------------------ tokenizer

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<number>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<field>\.[A-Za-z_][A-Za-z0-9_]*)  # `.if` is a field, `. if` is not
  | (?P<op>\?//|==|!=|<=|>=|//=|//|\|=|\+=|-=|\*=|/=|%=|\.\.|[-+*/%<>(){}\[\],:.;|$?])
  | (?P<format>@[A-Za-z0-9]+)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<string>")
    """,
    re.X,
)

_INTERP = object()  # marker inside string-part lists
_ESCAPES = {'"': '"', "\\": "\\", "/": "/", "b": "\b", "f": "\f",
            "n": "\n", "r": "\r", "t": "\t"}


def _lex_string(src: str, i: int):
    """Lex a jq string from src[i] (the char after the opening quote).
    Returns (parts, next_index): parts is a list of str literals and
    (_INTERP, expr_src) tuples for ``\\(...)`` interpolations."""
    parts: list[Any] = []
    buf = []
    while i < len(src):
        ch = src[i]
        if ch == '"':
            if buf:
                parts.append("".join(buf))
            return parts, i + 1
        if ch == "\\":
            nxt = src[i + 1] if i + 1 < len(src) else ""
            if nxt == "(":
                # interpolation: find the balanced closing paren
                depth, j = 1, i + 2
                while j < len(src) and depth:
                    if src[j] == "(":
                        depth += 1
                    elif src[j] == ")":
                        depth -= 1
                    j += 1
                if depth:
                    raise JqInterpError("unterminated \\( interpolation")
                if buf:
                    parts.append("".join(buf))
                    buf = []
                parts.append((_INTERP, src[i + 2:j - 1]))
                i = j
                continue
            if nxt == "u":
                buf.append(chr(int(src[i + 2:i + 6], 16)))
                i += 6
                continue
            if nxt not in _ESCAPES:
                raise JqInterpError(f"bad escape \\{nxt}")
            buf.append(_ESCAPES[nxt])
            i += 2
            continue
        buf.append(ch)
        i += 1
    raise JqInterpError("unterminated string")


def tokenize(src: str, lines: Any = None) -> list[tuple[str, Any]]:
    """``lines``, when a list, receives the 1-based source line of each
    emitted token (parallel to the result) — only $__loc__ needs it."""
    out: list[tuple[str, Any]] = []
    i = 0
    while i < len(src):
        m = _TOKEN.match(src, i)
        if not m:
            raise JqInterpError(f"unexpected character {src[i]!r} at {i}")
        kind = m.lastgroup
        start = i
        if kind == "string":
            parts, i = _lex_string(src, m.end())
            out.append(("string", parts))
            if lines is not None:
                lines.append(src.count("\n", 0, start) + 1)
            continue
        i = m.end()
        if kind != "ws":
            out.append((kind, m.group()))
            if lines is not None:
                lines.append(src.count("\n", 0, start) + 1)
    out.append(("eof", ""))
    if lines is not None:
        lines.append(src.count("\n") + 1)
    return out


# ---------------------------------------------------------------- parser
#
# AST: plain tuples ("kind", ...).  Stream semantics are resolved at
# eval time, so the parser is a straightforward precedence climber.

_KEYWORDS = {"if", "then", "elif", "else", "end", "as", "def", "reduce",
             "foreach", "try", "catch", "and", "or", "not", "import",
             "include", "label", "__loc__"}


class _Parser:
    def __init__(self, tokens, lines=None):
        self.toks = tokens
        self.lines = lines  # per-token source lines ($__loc__ only)
        self.i = 0

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text):
        kind, val = self.next()
        if val != text:
            raise JqInterpError(f"expected {text!r}, got {val!r}")

    def at(self, text):
        return self.peek()[1] == text and self.peek()[0] in ("op", "ident")

    # precedence: | , // or and == < + * unary postfix
    def parse_pipe(self):
        node = self.parse_comma()
        if self.peek() == ("ident", "as"):
            self.next()
            pats = [self.parse_var_name()]
            self.expect("|")
            body = self.parse_pipe()
            return ("as", node, pats[0], body)
        while self.at("|"):
            self.next()
            node = ("pipe", node, self.parse_comma())
            # allow `EXPR | EXPR as $x | BODY`
            if self.peek() == ("ident", "as"):
                self.next()
                var = self.parse_var_name()
                self.expect("|")
                body = self.parse_pipe()
                left, right = node[1], node[2]
                return ("pipe", left, ("as", right, var, body))
        return node

    def parse_var_name(self):
        self.expect("$")
        kind, name = self.next()
        if kind != "ident":
            raise JqInterpError("variable name must follow $")
        return name

    def _str_ast(self, parts):
        """Pre-parse ``\\(...)`` interpolations ONCE at parse time — the
        evaluator must never re-tokenize per row."""
        return [p if isinstance(p, str) else (_INTERP, parse(p[1]))
                for p in parts]

    def parse_comma(self):
        node = self.parse_alt()
        while self.at(","):
            self.next()
            node = ("comma", node, self.parse_alt())
        return node

    def parse_alt(self):
        node = self.parse_or()
        while self.at("//"):
            self.next()
            node = ("alt", node, self.parse_or())
        return node

    def parse_or(self):
        node = self.parse_and()
        while self.peek() == ("ident", "or"):
            self.next()
            node = ("or", node, self.parse_and())
        return node

    def parse_and(self):
        node = self.parse_cmp()
        while self.peek() == ("ident", "and"):
            self.next()
            node = ("and", node, self.parse_cmp())
        return node

    def parse_cmp(self):
        node = self.parse_add()
        if self.peek()[1] in ("==", "!=", "<", "<=", ">", ">="):
            op = self.next()[1]
            node = ("cmp", op, node, self.parse_add())
        return node

    def parse_add(self):
        node = self.parse_mul()
        while self.peek()[1] in ("+", "-") and self.peek()[0] == "op":
            op = self.next()[1]
            node = ("arith", op, node, self.parse_mul())
        return node

    def parse_mul(self):
        node = self.parse_unary()
        while self.peek()[1] in ("*", "/", "%") and self.peek()[0] == "op":
            op = self.next()[1]
            node = ("arith", op, node, self.parse_unary())
        return node

    def parse_unary(self):
        if self.at("-"):
            self.next()
            return ("neg", self.parse_postfix())
        return self.parse_postfix()

    def parse_postfix(self):
        node = self.parse_primary()
        while True:
            if self.peek()[0] == "field":
                node = ("index", node, ("lit", self.next()[1][1:]))
                continue
            if self.at("."):
                # ."foo" or . foo chained after an expression
                save = self.i
                self.next()
                kind, val = self.peek()
                if kind == "ident":
                    self.next()
                    node = ("index", node, ("lit", val))
                elif kind == "string":
                    self.next()
                    node = ("index", node, ("str", val))
                else:
                    self.i = save
                    break
                continue
            if self.at("["):
                self.next()
                if self.at("]"):
                    self.next()
                    node = ("iterate", node)
                    continue
                first = None if self.at(":") else self.parse_pipe()
                if self.at(":"):
                    self.next()
                    last = None if self.at("]") else self.parse_pipe()
                    self.expect("]")
                    node = ("slice", node, first, last)
                else:
                    self.expect("]")
                    node = ("bracket", node, first)
                continue
            if self.at("?"):
                self.next()
                node = ("try", node, None)
                continue
            break
        return node

    def parse_object(self):
        self.expect("{")
        pairs = []
        while not self.at("}"):
            kind, val = self.peek()
            if kind == "ident" and (val not in _KEYWORDS
                                    or self.toks[self.i + 1] == ("op", ":")):
                # a keyword is a key only before `:` (`{if: 1}`)
                self.next()
                key_node = ("lit", val)
                default = ("index", ("identity",), key_node)
            elif kind == "string":
                self.next()
                key_node = ("str", self._str_ast(val)) if not (
                    len(val) == 1 and isinstance(val[0], str)) else \
                    ("lit", val[0] if val else "")
                default = ("index", ("identity",), key_node)  # {"a"}
            elif self.at("("):
                self.next()
                key_node = self.parse_pipe()
                self.expect(")")
                default = None
            elif self.at("$"):
                self.next()
                k2, name = self.next()
                if k2 != "ident":
                    raise JqInterpError("variable name must follow $")
                key_node = ("lit", name)
                default = ("var", name)
            else:
                raise JqInterpError(f"bad object key {val!r}")
            if self.at(":"):
                self.next()
                pairs.append((key_node, self.parse_alt()))
            elif default is not None:
                pairs.append((key_node, default))
            else:
                raise JqInterpError("object key needs a value")
            if self.at(","):
                self.next()
        self.expect("}")
        return ("obj", pairs)

    def parse_primary(self):
        kind, val = self.peek()
        if kind == "number":
            self.next()
            return ("lit", float(val) if any(c in val for c in ".eE")
                    else int(val))
        if kind == "string":
            self.next()
            if len(val) == 1 and isinstance(val[0], str):
                return ("lit", val[0])
            if not val:
                return ("lit", "")
            return ("str", self._str_ast(val))
        if self.at("("):
            self.next()
            node = self.parse_pipe()
            self.expect(")")
            return node
        if self.at("["):
            self.next()
            if self.at("]"):
                self.next()
                return ("arr", None)
            node = self.parse_pipe()
            self.expect("]")
            return ("arr", node)
        if self.at("{"):
            return self.parse_object()
        if self.at("$"):
            self.next()
            k2, name = self.next()
            if k2 != "ident":
                raise JqInterpError("variable name must follow $")
            if name == "__loc__":
                # jq $__loc__: {file, line} of the token itself
                line = (self.lines[self.i - 1]
                        if self.lines is not None else 1)
                return ("lit", {"file": "<stdin>", "line": line})
            return ("var", name)
        if self.at(".."):
            # recursive descent: every sub-value, pre-order (jq `..` ==
            # `recurse`, jackson-jq runs it — Jq.java:19-33)
            self.next()
            return ("call", "recurse", [])
        if kind == "field":
            self.next()
            return ("index", ("identity",), ("lit", val[1:]))
        if self.at("."):
            self.next()
            kind2, val2 = self.peek()
            if kind2 == "ident" and val2 not in _KEYWORDS:
                self.next()  # `. foo`; `. as`, `. then` stay keywords
                return ("index", ("identity",), ("lit", val2))
            if kind2 == "string":
                self.next()
                return ("index", ("identity",), ("str", val2))
            return ("identity",)
        if kind == "format":
            # @base64 etc.: alone it formats the input; followed by a
            # string it formats each interpolated value (jq format strings)
            self.next()
            fmt = val[1:]
            if fmt not in _FORMATS:
                raise JqInterpError(f"unknown format @{fmt}")
            if self.peek()[0] == "string":
                _, parts = self.next()
                if len(parts) == 1 and isinstance(parts[0], str):
                    return ("lit", parts[0])
                return ("fstr", fmt, self._str_ast(parts))
            return ("format", fmt)
        if kind == "ident":
            return self.parse_ident(val)
        raise JqInterpError(f"unsupported token {val!r}")

    def parse_ident(self, val):
        if val == "if":
            self.next()
            branches = []
            cond = self.parse_pipe()
            self.expect("then")
            then = self.parse_pipe()
            branches.append((cond, then))
            other = None
            while self.peek() == ("ident", "elif"):
                self.next()
                c = self.parse_pipe()
                self.expect("then")
                t = self.parse_pipe()
                branches.append((c, t))
            if self.peek() == ("ident", "else"):
                self.next()
                other = self.parse_pipe()
            self.expect("end")
            return ("if", branches, other)
        if val in ("true", "false"):
            self.next()
            return ("lit", val == "true")
        if val == "null":
            self.next()
            return ("lit", None)
        if val == "not":
            self.next()
            return ("call", "not", [])
        if val in ("reduce", "foreach"):
            self.next()
            src = self.parse_postfix()
            if self.peek() != ("ident", "as"):
                raise JqInterpError(f"{val} needs `as $var`")
            self.next()
            var = self.parse_var_name()
            self.expect("(")
            init = self.parse_pipe()
            self.expect(";")
            upd = self.parse_pipe()
            extract = None
            if self.at(";"):
                self.next()
                extract = self.parse_pipe()
            self.expect(")")
            return (val, src, var, init, upd, extract)
        if val == "try":
            self.next()
            body = self.parse_postfix()
            handler = None
            if self.peek() == ("ident", "catch"):
                self.next()
                handler = self.parse_postfix()
            return ("try", body, handler)
        if val == "def":
            self.next()
            k2, name = self.next()
            if k2 != "ident":
                raise JqInterpError("def needs a function name")
            params = []
            if self.at("("):
                self.next()
                while not self.at(")"):
                    if self.at("$"):
                        # value param: bound once per call ("$" marker
                        # distinguishes it from a filter param)
                        params.append("$" + self.parse_var_name())
                    else:
                        k3, p = self.next()
                        if k3 != "ident":
                            raise JqInterpError("bad def parameter")
                        params.append(p)
                    if self.at(";"):
                        self.next()
                self.expect(")")
            self.expect(":")
            body = self.parse_pipe()
            self.expect(";")
            rest = self.parse_pipe()
            return ("def", name, params, body, rest)
        if val == "label":
            # `label $out | body` — body runs until a matching
            # `break $out` unwinds it (jq control flow; NOT caught by
            # try/catch, which only sees jq runtime errors)
            self.next()
            name = self.parse_var_name()
            self.expect("|")
            return ("label", name, self.parse_pipe())
        if val == "break":
            self.next()
            return ("break", self.parse_var_name())
        if val == "__loc__":
            raise JqInterpError("write $__loc__ (with the $), not __loc__")
        if val in ("import", "include"):
            raise JqInterpError(
                f"jq {val!r} is only valid at the top of the program")
        # builtin or user function call
        self.next()
        if (self.at(":") and self.toks[self.i] == ("op", ":")
                and self.toks[self.i + 1] == ("op", ":")
                and self.toks[self.i + 2][0] == "ident"):
            # module-qualified call `alias::fn` (import "m" as alias);
            # unambiguous: slices carry a single `:`
            self.next()
            self.next()
            val += "::" + self.next()[1]
        args = []
        if self.at("("):
            self.next()
            while not self.at(")"):
                args.append(self.parse_pipe())
                if self.at(";"):
                    self.next()
            self.expect(")")
        return ("call", val, args)


# ------------------------------------------------------------- evaluator

_T_ORDER = {type(None): 0, bool: 1, int: 2, float: 2, str: 3,
            list: 4, dict: 5}


def _cmp_key(v):
    """jq total order: null < false < true < numbers < strings < arrays
    < objects."""
    t = _T_ORDER[type(v)]
    if t == 1:
        return (1, v)
    if t == 2:
        return (2, v)
    if t == 3:
        return (3, v)
    if t == 4:
        return (4, [_cmp_key(x) for x in v])
    if t == 5:
        ks = sorted(v.keys())
        return (5, [(_cmp_key(k), _cmp_key(v[k])) for k in ks])
    return (0,)


def _jq_lt(a, b):
    return _cmp_key(a) < _cmp_key(b)


def _type_name(v):
    return {type(None): "null", bool: "boolean", int: "number",
            float: "number", str: "string", list: "array",
            dict: "object"}[type(v)]


class _JqRuntimeError(Exception):
    """jq `error` / type errors — catchable with try/catch."""

    def __init__(self, value):
        super().__init__(str(value))
        self.value = value


class _LabelBreak(Exception):
    """`break $name` unwinding toward its `label $name |` — control
    flow, NOT catchable by try/catch (hence not a _JqRuntimeError)."""

    def __init__(self, name):
        super().__init__(name)
        self.name = name


def _arith(op, a, b):
    if op == "+":
        if a is None:
            return b
        if b is None:
            return a
        if isinstance(a, bool) or isinstance(b, bool):
            raise _JqRuntimeError("boolean + boolean is not defined")
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return a + b
        if isinstance(a, str) and isinstance(b, str):
            return a + b
        if isinstance(a, list) and isinstance(b, list):
            return a + b
        if isinstance(a, dict) and isinstance(b, dict):
            return {**a, **b}
        raise _JqRuntimeError(
            f"{_type_name(a)} and {_type_name(b)} cannot be added")
    if op == "-":
        if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                and not isinstance(a, bool) and not isinstance(b, bool):
            return a - b
        if isinstance(a, list) and isinstance(b, list):
            return [x for x in a if x not in b]
        raise _JqRuntimeError(
            f"{_type_name(a)} and {_type_name(b)} cannot be subtracted")
    if op == "*":
        if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                and not isinstance(a, bool) and not isinstance(b, bool):
            return a * b
        if isinstance(a, dict) and isinstance(b, dict):
            out = dict(a)
            for k, v in b.items():
                if isinstance(v, dict) and isinstance(out.get(k), dict):
                    out[k] = _arith("*", out[k], v)
                else:
                    out[k] = v
            return out
        raise _JqRuntimeError(
            f"{_type_name(a)} and {_type_name(b)} cannot be multiplied")
    if op == "/":
        if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                and not isinstance(a, bool) and not isinstance(b, bool):
            if b == 0:
                raise _JqRuntimeError(f"{a} and {b} cannot be divided")
            r = a / b
            return int(r) if isinstance(a, int) and isinstance(b, int) \
                and a % b == 0 else r
        if isinstance(a, str) and isinstance(b, str):
            return a.split(b)
        raise _JqRuntimeError(
            f"{_type_name(a)} and {_type_name(b)} cannot be divided")
    if op == "%":
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            if int(b) == 0:
                raise _JqRuntimeError("cannot mod by 0")
            r = abs(int(a)) % abs(int(b))
            return -r if a < 0 else r
    raise _JqRuntimeError(f"operator {op!r}")


def _truthy(v):
    return v is not None and v is not False


class _Env:
    __slots__ = ("vars", "funcs", "customs", "parent")

    def __init__(self, vars=None, funcs=None, parent=None, customs=None):
        self.vars = vars or {}
        self.funcs = funcs or {}
        # jqModuleLoader analog (reference Jq.java:27-31): plain Python
        # callables ``name -> fn(input, *arg_values)`` consulted after
        # script defs and builtins (built-ins win)
        self.customs = customs if customs is not None else (
            parent.customs if parent is not None else {})
        self.parent = parent

    def var(self, name):
        e = self
        while e is not None:
            if name in e.vars:
                return e.vars[name]
            e = e.parent
        raise _JqRuntimeError(f"${name} is not defined")

    def func(self, key):
        e = self
        while e is not None:
            if key in e.funcs:
                return e.funcs[key]
            e = e.parent
        return None

    def child(self, vars=None, funcs=None):
        return _Env(vars or {}, funcs or {}, self)


def _ev(node, inp, env) -> Iterator[Any]:
    kind = node[0]
    if kind == "identity":
        yield inp
        return
    if kind == "lit":
        yield node[1]
        return
    if kind in ("str", "fstr"):
        # string with interpolations (parts pre-lexed; expressions
        # pre-PARSED at script parse time — never re-parsed per row).
        # "fstr" = @fmt "..." — each interpolated value runs through the
        # format; literal parts stay as-is (jq format strings)
        fmt = node[1] if kind == "fstr" else None
        parts = node[2] if kind == "fstr" else node[1]
        pieces_sets = []
        for part in parts:
            if isinstance(part, str):
                pieces_sets.append([part])
            else:
                sub = part[1]
                pieces_sets.append([
                    _format(fmt, v) if fmt is not None else
                    (v if isinstance(v, str) else json.dumps(v))
                    for v in _ev(sub, inp, env)
                ])
        # cartesian product over interpolated streams (usually singleton)
        def prod(idx, cur):
            if idx == len(pieces_sets):
                yield "".join(cur)
                return
            for p in pieces_sets[idx]:
                yield from prod(idx + 1, cur + [p])
        yield from prod(0, [])
        return
    if kind == "pipe":
        for v in _ev(node[1], inp, env):
            yield from _ev(node[2], v, env)
        return
    if kind == "comma":
        yield from _ev(node[1], inp, env)
        yield from _ev(node[2], inp, env)
        return
    if kind == "index":
        key_node = node[2]
        for v in _ev(node[1], inp, env):
            if v is None:
                yield None
                continue
            if not isinstance(v, dict):
                raise _JqRuntimeError(
                    f"Cannot index {_type_name(v)} with string")
            if key_node[0] == "lit":
                yield v.get(key_node[1])
            else:  # quoted key possibly interpolated
                for k in _ev(key_node, inp, env):
                    yield v.get(k)
        return
    if kind == "bracket":
        for v in _ev(node[1], inp, env):
            for k in _ev(node[2], inp, env):
                if v is None:
                    yield None
                elif isinstance(v, list) and isinstance(k, (int, float)) \
                        and not isinstance(k, bool):
                    i = int(k)
                    n = len(v)
                    if i < 0:
                        i += n
                    yield v[i] if 0 <= i < n else None
                elif isinstance(v, dict) and isinstance(k, str):
                    yield v.get(k)
                else:
                    raise _JqRuntimeError(
                        f"Cannot index {_type_name(v)} with "
                        f"{_type_name(k)}")
        return
    if kind == "slice":
        for v in _ev(node[1], inp, env):
            if v is None:
                yield None
                continue
            if not isinstance(v, (list, str)):
                raise _JqRuntimeError(f"Cannot slice {_type_name(v)}")
            los = [None] if node[2] is None else _ev(node[2], inp, env)
            for lo in los:
                his = [None] if node[3] is None else _ev(node[3], inp, env)
                for hi in his:
                    lo_i = None if lo is None else int(lo)
                    hi_i = None if hi is None else int(hi)
                    yield v[lo_i:hi_i]
        return
    if kind == "iterate":
        for v in _ev(node[1], inp, env):
            if isinstance(v, list):
                yield from v
            elif isinstance(v, dict):
                yield from v.values()
            else:
                raise _JqRuntimeError(
                    f"Cannot iterate over {_type_name(v)}")
        return
    if kind == "arr":
        if node[1] is None:
            yield []
        else:
            yield list(_ev(node[1], inp, env))
        return
    if kind == "obj":
        def build(idx, cur):
            if idx == len(node[1]):
                yield dict(cur)
                return
            k_node, v_node = node[1][idx]
            for k in _ev(k_node, inp, env):
                if not isinstance(k, str):
                    raise _JqRuntimeError("object key must be a string")
                for v in _ev(v_node, inp, env):
                    yield from build(idx + 1, cur + [(k, v)])
        yield from build(0, [])
        return
    if kind == "neg":
        for v in _ev(node[1], inp, env):
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise _JqRuntimeError(
                    f"{_type_name(v)} cannot be negated")
            yield -v
        return
    if kind == "arith":
        for a in _ev(node[2], inp, env):
            for b in _ev(node[3], inp, env):
                yield _arith(node[1], a, b)
        return
    if kind == "cmp":
        op = node[1]
        for a in _ev(node[2], inp, env):
            for b in _ev(node[3], inp, env):
                if op == "==":
                    yield a == b
                elif op == "!=":
                    yield a != b
                elif op == "<":
                    yield _jq_lt(a, b)
                elif op == "<=":
                    yield not _jq_lt(b, a)
                elif op == ">":
                    yield _jq_lt(b, a)
                else:
                    yield not _jq_lt(a, b)
        return
    if kind == "and":
        for a in _ev(node[1], inp, env):
            if not _truthy(a):
                yield False
            else:
                for b in _ev(node[2], inp, env):
                    yield _truthy(b)
        return
    if kind == "or":
        for a in _ev(node[1], inp, env):
            if _truthy(a):
                yield True
            else:
                for b in _ev(node[2], inp, env):
                    yield _truthy(b)
        return
    if kind == "alt":
        got = False
        try:
            for a in _ev(node[1], inp, env):
                if _truthy(a):
                    got = True
                    yield a
        except _JqRuntimeError:
            pass
        if not got:
            yield from _ev(node[2], inp, env)
        return
    if kind == "if":
        for branches, other in ((node[1], node[2]),):
            def run(idx, val):
                if idx == len(branches):
                    if other is None:
                        yield val
                    else:
                        yield from _ev(other, val, env)
                    return
                cond, then = branches[idx]
                for c in _ev(cond, val, env):
                    if _truthy(c):
                        yield from _ev(then, val, env)
                    else:
                        yield from run(idx + 1, val)
            yield from run(0, inp)
        return
    if kind == "as":
        for v in _ev(node[1], inp, env):
            yield from _ev(node[3], inp, env.child({node[2]: v}))
        return
    if kind == "reduce":
        for init in _ev(node[3], inp, env):
            acc = init
            for x in _ev(node[1], inp, env):
                outs = list(_ev(node[4], acc, env.child({node[2]: x})))
                acc = outs[-1] if outs else None
            yield acc
        return
    if kind == "foreach":
        for init in _ev(node[3], inp, env):
            acc = init
            for x in _ev(node[1], inp, env):
                e = env.child({node[2]: x})
                outs = list(_ev(node[4], acc, e))
                acc = outs[-1] if outs else None
                if node[5] is None:
                    yield acc
                else:
                    yield from _ev(node[5], acc, e)
        return
    if kind == "try":
        try:
            for v in _ev(node[1], inp, env):
                yield v
        except _JqRuntimeError as e:
            if node[2] is not None:
                yield from _ev(node[2], e.value, env)
        return
    if kind == "def":
        fn = env.func((node[1], len(node[2])))  # shadowing allowed
        env2 = env.child(funcs={(node[1], len(node[2])): (node[2], node[3])})
        yield from _ev(node[4], inp, env2)
        return
    if kind == "label":
        # break unwinds as its own exception type: deliberately NOT a
        # _JqRuntimeError, so try/catch never intercepts it (jq's break
        # is control flow, not a catchable error)
        try:
            yield from _ev(node[2], inp, env)
        except _LabelBreak as e:
            if e.name != node[1]:
                raise
        return
    if kind == "break":
        raise _LabelBreak(node[1])
    if kind == "var":
        yield env.var(node[1])
        return
    if kind == "format":
        yield _format(node[1], inp)
        return
    if kind == "call":
        yield from _call(node[1], node[2], inp, env)
        return
    raise JqInterpError(f"unsupported AST node {kind!r}")


def _one(node, inp, env):
    outs = list(_ev(node, inp, env))
    if len(outs) != 1:
        raise _JqRuntimeError("expected a single value")
    return outs[0]


def _path_expr(node) -> list:
    """Static path of an index/bracket chain (for del())."""
    if node[0] == "identity":
        return []
    if node[0] == "index" and node[2][0] == "lit":
        return _path_expr(node[1]) + [node[2][1]]
    if node[0] == "bracket" and node[2][0] == "lit":
        return _path_expr(node[1]) + [node[2][1]]
    raise JqInterpError("del() needs a static path")


def _del_path(v, path):
    if not path:
        return None
    import copy
    out = copy.copy(v)
    if len(path) == 1:
        k = path[0]
        if isinstance(out, dict):
            out.pop(k, None)
        elif isinstance(out, list) and isinstance(k, int):
            if -len(out) <= k < len(out):
                del out[k]
        return out
    k = path[0]
    if isinstance(out, dict) and k in out:
        out[k] = _del_path(out[k], path[1:])
    elif isinstance(out, list) and isinstance(k, int) \
            and -len(out) <= k < len(out):
        out[k] = _del_path(out[k], path[1:])
    return out


def _call(name, args, inp, env) -> Iterator[Any]:
    if name == "del":
        # del(.a, .b.c): path arguments are AST, not values
        def split_comma(n):
            if n[0] == "comma":
                return split_comma(n[1]) + split_comma(n[2])
            return [n]
        v = inp
        for a in args:
            for p in split_comma(a):
                v = _del_path(v, _path_expr(p))
        yield v
        return
    user = env.func((name, len(args)))
    if user is not None:
        # funcs store (params, body) for `def`s — evaluated in the
        # CALL-SITE env (dynamic, recursion-friendly) — or the 3-tuple
        # (params, body, captured_env) for filter-param closures, whose
        # body must evaluate in the env where the argument was WRITTEN
        # (the caller's): otherwise `def quad(x): double(double(x))`
        # re-resolves the inner `x` against its own binding forever.
        params, body = user[0], user[1]
        body_env = user[2] if len(user) > 2 else env
        # jq's two parameter kinds: `$x` binds ONE value against the
        # caller's input; a bare `f` is a FILTER param — registered as a
        # zero-arity closure re-evaluated at every use site against the
        # input there (so `def mymap(f): [.[] | f]` applies f per
        # element).  A `$x` param also exposes the filter form `x`.
        vars = {}
        funcs = {}
        for p, a in zip(params, args):
            if p.startswith("$"):
                vars[p[1:]] = _one(a, inp, env)
                funcs[(p[1:], 0)] = ([], ("var", p[1:]))
            else:
                funcs[(p, 0)] = ([], a, env)
        try:
            yield from _ev(body, inp, body_env.child(vars, funcs))
        except RecursionError:
            # a non-terminating recursive def must surface as a
            # catchable jq error, not a raw Python exception killing
            # the whole Spark task on one bad row
            raise _JqRuntimeError(
                f"{name}: recursion depth exceeded") from None
        return
    b = _BUILTINS.get((name, len(args)))
    if b is None:
        custom = env.customs.get(name)
        if custom is not None:
            try:
                yield custom(inp, *[_one(a, inp, env) for a in args])
            except (_JqRuntimeError, JqInterpError):
                raise
            except Exception as e:  # same catchable-error contract as builtins
                raise _JqRuntimeError(f"{name}: {e}") from e
            return
        raise JqInterpError(f"unknown builtin {name}/{len(args)}")
    # jq converts type/value errors inside builtins into CATCHABLE jq
    # errors (try/catch, //) — raw Python exceptions would instead kill
    # the whole Spark task on one bad row
    try:
        yield from b(args, inp, env)
    except (_JqRuntimeError, JqInterpError):
        raise
    except (ValueError, TypeError, IndexError, KeyError, AttributeError,
            ZeroDivisionError, OverflowError, re.error, RecursionError,
            UnicodeDecodeError) as e:
        # re.error: bad (possibly data-built) regex patterns;
        # RecursionError: unbounded recurse(f); UnicodeDecodeError:
        # @base64d over non-UTF-8 — all must stay jq-catchable, never a
        # raw Python exception killing the Spark task on one row
        raise _JqRuntimeError(f"{name}: {e}") from e


def _b(fn: Callable[[Any], Any]):
    """Wrap a 1-in-1-out builtin on the piped value."""
    def run(args, inp, env):
        yield fn(inp)
    return run


def _b_stream(fn):
    def run(args, inp, env):
        yield from fn(inp)
    return run


def _num(v, what):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise _JqRuntimeError(f"{what} needs a number, got {_type_name(v)}")
    return v


def _length(v):
    if v is None:
        return 0
    if isinstance(v, bool):
        raise _JqRuntimeError("boolean has no length")
    if isinstance(v, (int, float)):
        return abs(v)
    return len(v)


def _tostring(v):
    return v if isinstance(v, str) else json.dumps(v)


def _tonumber(v):
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return v
    if isinstance(v, str):
        f = float(v)
        return int(f) if f.is_integer() and "." not in v and "e" not in v.lower() else f
    raise _JqRuntimeError(f"cannot parse {_type_name(v)} as number")


def _keys(v):
    if isinstance(v, dict):
        return sorted(v.keys())
    if isinstance(v, list):
        return list(range(len(v)))
    raise _JqRuntimeError(f"{_type_name(v)} has no keys")


def _contains(a, b):
    if isinstance(a, dict) and isinstance(b, dict):
        return all(k in a and _contains(a[k], v) for k, v in b.items())
    if isinstance(a, list) and isinstance(b, list):
        return all(any(_contains(x, y) for x in a) for y in b)
    if isinstance(a, str) and isinstance(b, str):
        return b in a
    return a == b


def _flatten(v, depth):
    out = []
    for x in v:
        if isinstance(x, list) and depth > 0:
            out.extend(_flatten(x, depth - 1))
        else:
            out.append(x)
    return out


def _paths(v, prefix):
    if isinstance(v, dict):
        for k, sub in v.items():
            yield prefix + [k]
            yield from _paths(sub, prefix + [k])
    elif isinstance(v, list):
        for i, sub in enumerate(v):
            yield prefix + [i]
            yield from _paths(sub, prefix + [i])


def _getpath(v, path):
    for p in path:
        if v is None:
            return None
        if isinstance(v, dict) and isinstance(p, str):
            v = v.get(p)
        elif isinstance(v, list) and isinstance(p, (int, float)):
            i = int(p)
            v = v[i] if 0 <= i < len(v) else None
        else:
            return None
    return v


def _by(args, inp, env, reduced):
    """Shared driver for sort_by/group_by/unique_by/min_by/max_by."""
    if not isinstance(inp, list):
        raise _JqRuntimeError(f"cannot _by over {_type_name(inp)}")
    keyed = [( _cmp_key(_one(args[0], x, env)), i, x)
             for i, x in enumerate(inp)]
    keyed.sort(key=lambda t: (t[0], t[1]))
    return reduced(keyed)


def _uniq(sorted_vals):
    return [x for j, x in enumerate(sorted_vals)
            if j == 0 or x != sorted_vals[j - 1]]


def _builtin_map(args, inp, env):
    if not isinstance(inp, list):
        raise _JqRuntimeError(f"cannot map over {_type_name(inp)}")
    yield [v for x in inp for v in _ev(args[0], x, env)]


def _builtin_map_values(args, inp, env):
    if isinstance(inp, dict):
        out = {}
        for k, x in inp.items():
            vals = list(_ev(args[0], x, env))
            if vals:
                out[k] = vals[0]
        yield out
    elif isinstance(inp, list):
        yield [vs[0] for x in inp if (vs := list(_ev(args[0], x, env)))]
    else:
        raise _JqRuntimeError(f"cannot map_values over {_type_name(inp)}")


def _builtin_select(args, inp, env):
    for c in _ev(args[0], inp, env):
        if _truthy(c):
            yield inp


def _builtin_range(args, inp, env):
    sets = [list(_ev(a, inp, env)) for a in args]
    def runs(vals):
        if len(vals) == 1:
            return 0.0, vals[0], 1.0
        if len(vals) == 2:
            return vals[0], vals[1], 1.0
        return vals[0], vals[1], vals[2]
    import itertools
    for combo in itertools.product(*sets):
        lo, hi, step = runs(list(combo))
        x = lo
        if step > 0:
            while x < hi:
                yield int(x) if float(x).is_integer() else x
                x += step
        elif step < 0:
            while x > hi:
                yield int(x) if float(x).is_integer() else x
                x += step


# --------------------------------------------- recursion / limit / regex

def _subvalues(v):
    """Pre-order stream of v and every sub-value (jq `..`/`recurse`)."""
    yield v
    if isinstance(v, dict):
        for x in v.values():
            yield from _subvalues(x)
    elif isinstance(v, list):
        for x in v:
            yield from _subvalues(x)


def _builtin_recurse(args, inp, env):
    if not args:
        yield from _subvalues(inp)
        return
    # jq: def recurse(f; cond): def r: ., (f | select(cond) | r); r;
    # the SEED is emitted unconditionally — cond filters only f's outputs
    cond = args[1] if len(args) == 2 else None

    def walk(v):
        yield v
        for nxt in _ev(args[0], v, env):
            if cond is None or any(
                    _truthy(c) for c in _ev(cond, nxt, env)):
                yield from walk(nxt)

    yield from walk(inp)


def _builtin_limit(args, inp, env):
    for n in _ev(args[0], inp, env):
        n = int(n)
        if n == 0:
            return
        if n < 0:
            # jq: limit with a negative count passes every output through
            yield from _ev(args[1], inp, env)
            return
        count = 0
        for v in _ev(args[1], inp, env):
            yield v
            count += 1
            if count >= n:
                return


_ONIG_NAMED = re.compile(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>")


def _onig(pat):
    """jq regexes use Oniguruma named groups ``(?<x>...)``; Python wants
    ``(?P<x>...)``.  Lookbehind ``(?<=``/``(?<!`` is left untouched."""
    if not isinstance(pat, str):
        raise _JqRuntimeError(f"{_type_name(pat)} is not a regex")
    return _ONIG_NAMED.sub(r"(?P<\1>", pat)


def _re_flags(flags):
    f = 0
    for ch in flags or "":
        if ch == "i":
            f |= re.I
        elif ch == "x":
            f |= re.X
        elif ch == "s":
            f |= re.S
        elif ch == "m":
            f |= re.M
        elif ch in ("g", "n"):
            pass  # handled by the caller (global / no-match-ok)
        else:
            raise _JqRuntimeError(f"unsupported regex flag {ch!r}")
    return f


def _rx(args, inp, env):
    """Common (regex, flags) prep for the regex builtins."""
    pat = _one(args[0], inp, env)
    flags = _one(args[1], inp, env) if len(args) > 1 else ""
    if flags is None:
        flags = ""
    return (re.compile(_onig(pat), _re_flags(flags)),
            "g" in flags)


def _match_obj(m):
    caps = []
    byindex = {i: n for n, i in m.re.groupindex.items()}
    for gi in range(1, (m.re.groups or 0) + 1):
        s = m.group(gi)
        caps.append({
            "offset": m.start(gi) if s is not None else -1,
            "length": (m.end(gi) - m.start(gi)) if s is not None else 0,
            "string": s,
            "name": byindex.get(gi),
        })
    return {"offset": m.start(), "length": m.end() - m.start(),
            "string": m.group(0), "captures": caps}


def _builtin_match(args, inp, env):
    rx, g = _rx(args, inp, env)
    if not isinstance(inp, str):
        raise _JqRuntimeError(f"{_type_name(inp)} cannot be matched")
    it = rx.finditer(inp)
    for m in it:
        yield _match_obj(m)
        if not g:
            return


def _builtin_capture(args, inp, env):
    for mo in _builtin_match(args, inp, env):
        yield {c["name"]: c["string"] for c in mo["captures"]
               if c["name"] is not None}


def _builtin_scan(args, inp, env):
    rx, _g = _rx(args, inp, env)  # scan is always global
    if not isinstance(inp, str):
        raise _JqRuntimeError(f"{_type_name(inp)} cannot be scanned")
    for m in rx.finditer(inp):
        if m.re.groups:
            yield [m.group(i) for i in range(1, m.re.groups + 1)]
        else:
            yield m.group(0)


def _builtin_splits(args, inp, env):
    rx, _g = _rx(args, inp, env)
    if not isinstance(inp, str):
        raise _JqRuntimeError(f"{_type_name(inp)} cannot be split")
    # manual span walk, NOT re.split: Python's split interleaves capture
    # groups into the result; jq's splits never emits captures
    pos = 0
    for m in rx.finditer(inp):
        yield inp[pos:m.start()]
        pos = m.end()
    yield inp[pos:]


def _sub_impl(args, inp, env, global_):
    rx, g = _rx([args[0]] + list(args[2:]), inp, env)
    if not isinstance(inp, str):
        raise _JqRuntimeError(f"{_type_name(inp)} cannot be substituted")
    g = g or global_
    out = []
    pos = 0
    byindex = {i: n for n, i in rx.groupindex.items()}
    for m in rx.finditer(inp):
        caps = {byindex[gi]: m.group(gi)
                for gi in range(1, (rx.groups or 0) + 1)
                if gi in byindex}
        # the replacement is a jq expression over the capture object,
        # with named captures also bound as $variables (jq sub/gsub)
        repl = _one(args[1], caps, env.child(dict(caps)))
        if not isinstance(repl, str):
            raise _JqRuntimeError("sub replacement must be a string")
        out.append(inp[pos:m.start()])
        out.append(repl)
        pos = m.end()
        if not g:
            break
    out.append(inp[pos:])
    yield "".join(out)


def _format(name, v):
    # format application must honor the catchable-error contract: a
    # decode/type failure on one row surfaces as a jq error (try/catch,
    # //), never as a raw Python exception killing the Spark task
    try:
        return _format_raw(name, v)
    except (_JqRuntimeError, JqInterpError):
        raise
    except Exception as e:
        raise _JqRuntimeError(f"@{name}: {e}") from e


def _format_raw(name, v):
    import base64
    from urllib.parse import quote

    if name == "text":
        return _tostring(v)
    if name == "json":
        return json.dumps(v)
    if name == "base64":
        return base64.b64encode(_tostring(v).encode("utf-8")).decode("ascii")
    if name == "base64d":
        s = _tostring(v)
        s += "=" * (-len(s) % 4)
        # validate=True: jq errors on non-base64 input instead of
        # silently discarding invalid characters
        return base64.b64decode(s.encode("ascii"), validate=True).decode("utf-8")
    if name == "uri":
        return quote(_tostring(v), safe="")
    if name == "html":
        return (_tostring(v).replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;").replace("'", "&#39;")
                .replace('"', "&quot;"))
    if name == "csv" or name == "tsv":
        if not isinstance(v, list):
            raise _JqRuntimeError(f"@{name} needs an array input")
        cells = []
        for x in v:
            if x is None:
                cells.append("")
            elif isinstance(x, bool):
                cells.append("true" if x else "false")
            elif isinstance(x, (int, float)):
                cells.append(json.dumps(x))
            elif isinstance(x, str):
                if name == "csv":
                    cells.append('"' + x.replace('"', '""') + '"')
                else:
                    cells.append(x.replace("\\", "\\\\")
                                 .replace("\t", "\\t").replace("\n", "\\n")
                                 .replace("\r", "\\r"))
            else:
                raise _JqRuntimeError(f"@{name} cell cannot be "
                                      f"{_type_name(x)}")
        return (","if name == "csv" else "\t").join(cells)
    if name == "sh":
        def q(x):
            if isinstance(x, (int, float)) and not isinstance(x, bool):
                return json.dumps(x)
            if isinstance(x, str):
                return "'" + x.replace("'", "'\\''") + "'"
            raise _JqRuntimeError(f"@sh cannot quote {_type_name(x)}")
        if isinstance(v, list):
            return " ".join(q(x) for x in v)
        return q(v)
    raise _JqRuntimeError(f"unknown format @{name}")


_FORMATS = {"text", "json", "base64", "base64d", "uri", "csv", "tsv",
            "html", "sh"}


_BUILTINS: dict[tuple[str, int], Any] = {
    ("recurse", 0): _builtin_recurse,
    ("recurse", 1): _builtin_recurse,
    ("recurse", 2): _builtin_recurse,
    ("limit", 2): _builtin_limit,
    ("test", 2): lambda a, i, e: iter([
        _rx(a, i, e)[0].search(i) is not None]),
    ("match", 1): _builtin_match,
    ("match", 2): _builtin_match,
    ("capture", 1): _builtin_capture,
    ("capture", 2): _builtin_capture,
    ("scan", 1): _builtin_scan,
    ("splits", 1): _builtin_splits,
    ("splits", 2): _builtin_splits,
    ("split", 2): lambda a, i, e: iter([list(_builtin_splits(a, i, e))]),
    ("sub", 2): lambda a, i, e: _sub_impl(a, i, e, False),
    ("sub", 3): lambda a, i, e: _sub_impl(a, i, e, False),
    ("gsub", 2): lambda a, i, e: _sub_impl(a, i, e, True),
    ("gsub", 3): lambda a, i, e: _sub_impl(a, i, e, True),
    ("leaf_paths", 0): _b_stream(lambda v: (
        p for p in _paths(v, [])
        if not isinstance(_getpath(v, p), (dict, list)))),
    ("empty", 0): lambda a, i, e: iter(()),
    # one-doc-in stream semantics: the single input was already consumed
    # as `.`, so `inputs` is exhausted (empty) and `input` errors with
    # jq's own message — catchable, so `try input catch "x"` works and
    # the common `[., inputs]` / `reduce inputs` idioms degrade cleanly
    ("inputs", 0): lambda a, i, e: iter(()),
    ("input", 0): lambda a, i, e: (_ for _ in ()).throw(
        _JqRuntimeError("No more inputs")),
    ("error", 0): _b(lambda v: (_ for _ in ()).throw(_JqRuntimeError(v))),
    ("error", 1): lambda a, i, e: (_ for _ in ()).throw(
        _JqRuntimeError(_one(a[0], i, e))),
    ("length", 0): _b(_length),
    ("utf8bytelength", 0): _b(lambda v: len(v.encode("utf-8"))),
    ("not", 0): _b(lambda v: not _truthy(v)),
    ("type", 0): _b(_type_name),
    ("keys", 0): _b(_keys),
    ("keys_unsorted", 0): _b(lambda v: list(v.keys())
                             if isinstance(v, dict) else _keys(v)),
    # type filters: select the input when it has the named type (jq
    # `values` is the non-null filter, NOT dict-values — that's `.[]`)
    ("values", 0): _b_stream(lambda v: iter(() if v is None else (v,))),
    ("nulls", 0): _b_stream(lambda v: iter((v,) if v is None else ())),
    ("numbers", 0): _b_stream(lambda v: iter(
        (v,) if isinstance(v, (int, float)) and not isinstance(v, bool)
        else ())),
    ("strings", 0): _b_stream(lambda v: iter(
        (v,) if isinstance(v, str) else ())),
    ("booleans", 0): _b_stream(lambda v: iter(
        (v,) if isinstance(v, bool) else ())),
    ("arrays", 0): _b_stream(lambda v: iter(
        (v,) if isinstance(v, list) else ())),
    ("objects", 0): _b_stream(lambda v: iter(
        (v,) if isinstance(v, dict) else ())),
    ("iterables", 0): _b_stream(lambda v: iter(
        (v,) if isinstance(v, (list, dict)) else ())),
    ("scalars", 0): _b_stream(lambda v: iter(
        () if isinstance(v, (list, dict)) else (v,))),
    ("has", 1): lambda a, i, e: iter([
        (_one(a[0], i, e) in i) if isinstance(i, dict)
        else (0 <= int(_one(a[0], i, e)) < len(i))]),
    ("in", 1): lambda a, i, e: iter([
        (i in c) if isinstance(c := _one(a[0], i, e), dict)
        else (0 <= int(i) < len(c))]),
    ("contains", 1): lambda a, i, e: iter([_contains(i, _one(a[0], i, e))]),
    ("inside", 1): lambda a, i, e: iter([_contains(_one(a[0], i, e), i)]),
    ("to_entries", 0): _b(lambda v: [{"key": k, "value": x}
                                     for k, x in v.items()]),
    ("from_entries", 0): _b(lambda v: {
        str(d.get("key", d.get("k", d.get("name")))):
            d.get("value", d.get("v")) for d in v}),
    ("with_entries", 1): lambda a, i, e: iter([{
        str(d["key"]): d["value"]
        for x in [{"key": k, "value": v} for k, v in i.items()]
        for d in _ev(a[0], x, e)}]),
    ("add", 0): _b(lambda v: None if not v else
                   __import__("functools").reduce(
                       lambda x, y: _arith("+", x, y), v)),
    ("any", 0): _b(lambda v: any(_truthy(x) for x in v)),
    ("all", 0): _b(lambda v: all(_truthy(x) for x in v)),
    ("any", 1): lambda a, i, e: iter([any(
        _truthy(c) for x in i for c in _ev(a[0], x, e))]),
    ("all", 1): lambda a, i, e: iter([all(
        _truthy(c) for x in i for c in _ev(a[0], x, e))]),
    ("any", 2): lambda a, i, e: iter([any(
        _truthy(c) for x in _ev(a[0], i, e) for c in _ev(a[1], x, e))]),
    ("all", 2): lambda a, i, e: iter([all(
        _truthy(c) for x in _ev(a[0], i, e) for c in _ev(a[1], x, e))]),
    ("floor", 0): _b(lambda v: math.floor(_num(v, "floor"))),
    ("ceil", 0): _b(lambda v: math.ceil(_num(v, "ceil"))),
    ("round", 0): _b(lambda v: math.floor(_num(v, "round") + 0.5)),
    ("sqrt", 0): _b(lambda v: math.sqrt(_num(v, "sqrt"))),
    ("fabs", 0): _b(lambda v: abs(_num(v, "fabs"))),
    ("tostring", 0): _b(_tostring),
    ("tonumber", 0): _b(_tonumber),
    ("tojson", 0): _b(lambda v: json.dumps(v)),
    ("fromjson", 0): _b(lambda v: json.loads(v)),
    ("ascii_downcase", 0): _b(lambda v: v.lower()),
    ("ascii_upcase", 0): _b(lambda v: v.upper()),
    ("ltrimstr", 1): lambda a, i, e: iter([
        i[len(p):] if isinstance(i, str)
        and isinstance(p := _one(a[0], i, e), str)
        and i.startswith(p) else i]),
    ("rtrimstr", 1): lambda a, i, e: iter([
        i[:-len(p)] if isinstance(i, str)
        and isinstance(p := _one(a[0], i, e), str)
        and p and i.endswith(p) else i]),
    ("startswith", 1): lambda a, i, e: iter([i.startswith(_one(a[0], i, e))]),
    ("endswith", 1): lambda a, i, e: iter([i.endswith(_one(a[0], i, e))]),
    ("split", 1): lambda a, i, e: iter([i.split(_one(a[0], i, e))]),
    ("join", 1): lambda a, i, e: iter([
        _one(a[0], i, e).join(
            "" if x is None else
            x if isinstance(x, str) else json.dumps(x) for x in i)]),
    ("test", 1): lambda a, i, e: iter([
        _rx(a, i, e)[0].search(i) is not None]),
    ("explode", 0): _b(lambda v: [ord(c) for c in v]),
    ("implode", 0): _b(lambda v: "".join(chr(int(c)) for c in v)),
    ("reverse", 0): _b(lambda v: v[::-1]),
    ("sort", 0): _b(lambda v: sorted(v, key=_cmp_key)),
    ("unique", 0): _b(lambda v: _uniq(sorted(v, key=_cmp_key))),
    ("min", 0): _b(lambda v: min(v, key=_cmp_key) if v else None),
    ("max", 0): _b(lambda v: max(v, key=_cmp_key) if v else None),
    ("first", 0): _b(lambda v: v[0]),
    ("last", 0): _b(lambda v: v[-1]),
    ("flatten", 0): _b(lambda v: _flatten(v, 10 ** 9)),
    ("flatten", 1): lambda a, i, e: iter([_flatten(i, int(_one(a[0], i, e)))]),
    ("paths", 0): _b_stream(lambda v: _paths(v, [])),
    ("getpath", 1): lambda a, i, e: iter([_getpath(i, _one(a[0], i, e))]),
    ("map", 1): _builtin_map,
    ("map_values", 1): _builtin_map_values,
    ("select", 1): _builtin_select,
    ("range", 1): _builtin_range,
    ("range", 2): _builtin_range,
    ("range", 3): _builtin_range,
    ("sort_by", 1): lambda a, i, e: iter([_by(
        a, i, e, lambda keyed: [x for _, _, x in keyed])]),
    ("group_by", 1): lambda a, i, e: iter([_by(
        a, i, e, lambda keyed: [
            [x for _, _, x in grp] for _, grp in
            __import__("itertools").groupby(keyed, key=lambda t: t[0])])]),
    ("unique_by", 1): lambda a, i, e: iter([_by(
        a, i, e, lambda keyed: [
            next(iter(grp))[2] for _, grp in
            __import__("itertools").groupby(keyed, key=lambda t: t[0])])]),
    ("min_by", 1): lambda a, i, e: iter([_by(
        a, i, e, lambda keyed: keyed[0][2] if keyed else None)]),
    ("max_by", 1): lambda a, i, e: iter([_by(
        a, i, e, lambda keyed: keyed[-1][2] if keyed else None)]),
    ("tostream", 0): None,  # placeholder: rejected below
    ("env", 0): None,
}


_BUILTINS = {k: v for k, v in _BUILTINS.items() if v is not None}


def _qualify_calls(node, keys, alias, shadow=frozenset()):
    """Rewrite ``("call", name, args)`` nodes whose (name, arity) is a
    module-local def into the alias-qualified name — sibling calls must
    keep resolving after the module's defs are re-registered under
    ``alias::name`` (user funcs evaluate in the CALL-SITE env).

    ``shadow`` tracks (name, arity) pairs bound by ENCLOSING local defs
    and their filter params: a shadowed name must stay unqualified so
    local bindings keep winning (``def g(f): f + f`` must call the
    param, not a sibling def ``f``)."""
    if isinstance(node, tuple):
        if node and node[0] == "def":
            name, params, body, rest = node[1], node[2], node[3], node[4]
            own = {(name, len(params))}
            body_shadow = shadow | own | {
                (p, 0) for p in params if not p.startswith("$")
            } | {(p[1:], 0) for p in params if p.startswith("$")}
            return ("def", name, params,
                    _qualify_calls(body, keys, alias, body_shadow),
                    _qualify_calls(rest, keys, alias, shadow | own))
        if (node and node[0] == "call"
                and (node[1], len(node[2])) in keys
                and (node[1], len(node[2])) not in shadow):
            return ("call", f"{alias}::{node[1]}",
                    [_qualify_calls(a, keys, alias, shadow)
                     for a in node[2]])
        return tuple(_qualify_calls(v, keys, alias, shadow) for v in node)
    if isinstance(node, list):
        return [_qualify_calls(v, keys, alias, shadow) for v in node]
    return node


def _module_defs(mod: str, resolver, seen: frozenset):
    """Load jq module ``mod`` (declarations only) -> [(name, params,
    body)].  Nested imports resolve recursively and arrive pre-qualified
    under their own aliases."""
    if mod in seen:
        raise JqInterpError(f"circular jq module import {mod!r}")
    try:
        src = resolver(mod) if callable(resolver) else resolver[mod]
    except KeyError:
        raise JqInterpError(f"unresolved jq module {mod!r}") from None
    # a module is a def-only file: parse it as `<defs> .` and unwind the
    # def chain the parser builds
    try:
        ast = _parse_with_imports(src + "\n.", resolver, seen | {mod})
    except JqInterpError as e:
        raise JqInterpError(
            f"jq module {mod!r} failed to parse as a declarations-only "
            f"file ({e})"
        ) from None
    defs = []
    while isinstance(ast, tuple) and ast and ast[0] == "def":
        defs.append((ast[1], ast[2], ast[3]))
        ast = ast[4]
    if ast != ("identity",):
        raise JqInterpError(
            f"jq module {mod!r} must contain only def declarations"
        )
    return defs


def _parse_with_imports(src: str, resolver, seen: frozenset = frozenset()):
    """Parse a program with leading `import "m" as alias;` / `include
    "m";` directives (the jackson-jq module-loader seam, Jq.java:27-31).
    Imported defs wrap the program as ordinary ``def`` nodes — imported
    as ``alias::fn`` (called ``alias::fn(...)``), included under their
    own names."""
    lines: list[int] = []
    p = _Parser(tokenize(src, lines), lines)
    pending: list[tuple] = []  # (alias | None, module name)
    while p.peek() in (("ident", "import"), ("ident", "include")):
        directive = p.next()[1]
        k, parts = p.next()
        if (k != "string" or len(parts) != 1
                or not isinstance(parts[0], str)):
            raise JqInterpError(
                f"jq {directive} needs a literal module name")
        mod = parts[0]
        alias = None
        if directive == "import":
            if p.next() != ("ident", "as"):
                raise JqInterpError("jq import needs `as <alias>`")
            k2, alias = p.next()
            if k2 != "ident":
                raise JqInterpError("jq import alias must be an identifier")
        p.expect(";")
        pending.append((alias, mod))
    node = p.parse_pipe()
    if p.peek()[0] != "eof":
        raise JqInterpError(f"trailing input at {p.peek()[1]!r}")
    if pending and resolver is None:
        raise JqInterpError(
            f"script imports jq modules "
            f"{sorted(m for _, m in pending)} but no jq_resolver is "
            "configured on the Context"
        )
    for alias, mod in reversed(pending):
        defs = _module_defs(mod, resolver, seen)
        if alias is not None:
            keys = {(n, len(ps)) for n, ps, _ in defs}

            def param_shadow(ps):
                # a def's own params shadow same-named siblings inside
                # its body (filter params as name/0, $x also as x/0)
                return frozenset(
                    (p[1:] if p.startswith("$") else p, 0) for p in ps
                )

            defs = [
                (f"{alias}::{n}", ps,
                 _qualify_calls(b, keys, alias, param_shadow(ps)))
                for n, ps, b in defs
            ]
        for n, ps, b in reversed(defs):
            node = ("def", n, ps, b, node)
    return node


def parse(src: str, resolver=None):
    return _parse_with_imports(src, resolver)


def jq_first(script: str, functions=None, resolver=None):
    """Compile ``script``; returns ``doc -> first output`` (the stage
    contract: one document in, one document out — Script.java:58-73).
    ``functions``: custom ``{name: fn(input, *args)}`` (jqModuleLoader
    analog, Jq.java:27-31) consulted after script defs and builtins.
    ``resolver`` (dict or callable: module name -> jq source) serves
    `import "m" as m;` / `include "m";` directives at compile time;
    ``script`` may also be an AST from ``parse``."""
    ast = parse(script, resolver) if isinstance(script, str) else script
    customs = dict(functions or {})

    def run(doc):
        try:
            for v in _ev(ast, doc, _Env(customs=customs)):
                return v
        except _LabelBreak as e:
            # real jq reports an unmatched break as an error
            raise _JqRuntimeError(f"break ${e.name} with no matching "
                                  f"label") from None
        return None

    return run


def jq_all(script: str, functions=None, resolver=None):
    """Compile ``script``; returns ``doc -> list of all outputs`` (stream
    semantics, for tests and future multi-output stages)."""
    ast = parse(script, resolver)
    customs = dict(functions or {})

    def run(doc):
        try:
            return list(_ev(ast, doc, _Env(customs=customs)))
        except _LabelBreak as e:
            raise _JqRuntimeError(f"break ${e.name} with no matching "
                                  f"label") from None

    return run
