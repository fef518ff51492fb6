"""Native JSLT-subset compiler: JSLT scripts -> Spark Column programs.

The reference runs full JSLT on the JVM (Jslt.java:19-36, the Schibsted
engine).  No Python JSLT runtime exists, so this module compiles the
practically-used subset straight to Catalyst expressions — keeping
codegen, pushdown and vectorization.  What the Column model cannot
hold (recursive defs, struct-object iteration, dynamically-typed
values) falls to the tier-2 pure-Python evaluator
(operators/jslt_eval.py) instead of erroring; only scripts the shared
parser itself rejects remain a loud boundary.

Supported (grammar of jslt.schibsted.com, subset):

- literals: numbers, strings, ``true``/``false``/``null``, arrays
  ``[...]``, objects ``{"k": <expr>, ...}``
- dot paths: ``.``, ``.foo``, ``.foo.bar`` (absent paths -> null, as in
  JSLT)
- the object spread ``* : .`` (copy the rest of the input through)
- operators: ``+ - * /``, comparisons ``== != < <= > >=``, boolean
  ``and`` / ``or``, parentheses.  ``+`` concatenates when either side is
  a string (JSLT semantics), adds otherwise — decided from the input
  schema / literal types.
- ``if (<expr>) <expr> else <expr>`` (missing else -> null)
- ``let name = <expr>`` bindings referenced as ``$name``
- ``def name(p1, p2) <expr>`` user functions (r3): non-recursive defs
  INLINE into Catalyst expressions (params bound as variables);
  recursion trips the depth guard and runs on tier 2
- the matcher ``* - a, b : .`` spread with exclusions (r3)
- for comprehensions (r3, compiled to ``transform``/``filter`` HOFs —
  no UDF): ``[for (<seq>) <body> if (<cond>)]`` over arrays (``.`` =
  element inside body/cond; lets stay document-scoped), and the object
  form ``{for (<seq>) <key> : <value>}`` -> a MapType column (dynamic
  keys cannot be struct fields)
- builtins (r3: most of the schibsted reference set, all native
  Columns): size, not, string, number, boolean, round, floor, ceiling,
  lowercase, uppercase, trim, contains, split, join, test, fallback,
  min, max, sum, mod, starts-with, ends-with, replace, uuid,
  sha256-hex, the is-* type predicates (compile-time under static
  typing), index-of, zip, zip-with-index, flatten, get-key, to-json,
  parse-time, format-time, now, capture (named regex groups ->
  object), parse-url
- ``//`` line comments

Top level must be an object: with ``* : .`` it behaves like
``$addFields`` (transform-in-place), without it like a compute-only
``$project`` (the output has exactly the template's keys).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+|//[^\n]*)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<number>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<op>==|!=|<=|>=|\*:|[-+*/<>(){}\[\],:.$=])
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.X,
)


def tokenize(src: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(src):
        m = _TOKEN.match(src, i)
        if not m:
            raise JsltUnsupported(f"unexpected character {src[i]!r} at {i}")
        i = m.end()
        kind = m.lastgroup
        if kind != "ws":
            out.append((kind, m.group()))
    out.append(("eof", ""))
    return out


class JsltUnsupported(Exception):
    """Script uses JSLT beyond the compiled subset."""


# keywords that may directly follow a bare `.` in the surrounding grammar
_RESERVED = frozenset({"if", "else", "for", "let", "and", "or"})


# ---------------------------------------------------------------- AST

@dataclass
class Lit:
    value: Any


@dataclass
class Path:
    parts: list[str]  # [] = the whole input document


@dataclass
class Var:
    name: str


@dataclass
class Bin:
    op: str
    left: Any
    right: Any


@dataclass
class If:
    cond: Any
    then: Any
    other: Any


@dataclass
class Call:
    name: str
    args: list[Any]


@dataclass
class Arr:
    items: list[Any]


@dataclass
class Obj:
    pairs: list[tuple[str, Any]]
    spread: bool
    minus: tuple = ()  # `* - a, b : .` spread exclusions (JSLT matcher)


@dataclass
class Idx:
    """Literal array index on a value: ``.foo[0]`` / ``.foo[-1]``
    (out-of-range -> null, as in jq/JSLT; compiled to try_element_at)."""
    target: Any
    index: int


@dataclass
class Slice:
    """Array/string slice ``.xs[1:3]`` / ``[1:]`` / ``[:-1]`` with
    literal integer bounds (JSLT slicing; Python-style half-open range,
    negative indices count from the end)."""
    target: Any
    lo: Optional[int]
    hi: Optional[int]


@dataclass
class Sub:
    """Field path applied to a computed value: ``.foo[0].bar``."""
    target: Any
    parts: list[str]


@dataclass
class For:
    """JSLT array comprehension ``[for (seq) body if (cond)]`` — and the
    target of jq's ``map(f)``.  Inside ``body``/``cond``, ``.`` is the
    element."""
    seq: Any
    body: Any
    cond: Any  # may be None


@dataclass
class ForObj:
    """JSLT object comprehension ``{for (seq) key: value}`` — compiles to
    a MapType column (dynamic keys cannot be a struct)."""
    seq: Any
    key: Any
    value: Any
    cond: Any  # may be None


@dataclass
class Reduce:
    """jq ``reduce SRC[] as $var (INIT; UPD)``.  Inside ``UPD``, ``.`` is
    the accumulator and ``$var`` the element."""
    src: Any
    var: str
    init: Any
    upd: Any


@dataclass
class Foreach:
    """jq ``[foreach SRC[] as $var (INIT; UPD)]`` — the collected form:
    the array of intermediate accumulator states (a running scan)."""
    src: Any
    var: str
    init: Any
    upd: Any


@dataclass
class As:
    """jq expression-level binding ``(EXPR as $var | BODY)``."""
    expr: Any
    var: str
    body: Any


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> None:
        kind, val = self.next()
        if val != text:
            raise JsltUnsupported(f"expected {text!r}, got {val!r}")

    # import declarations, then let/def declarations, then the body
    # expression (absent in declarations-only module files)
    def parse_script(self):
        imports: dict[str, str] = {}
        while self.peek() == ("ident", "import"):
            # `import "module" as alias` (JSLT modules; the reference
            # passes a resolver through Features — Jslt.java:19-36)
            self.next()
            kind, mod = self.next()
            if kind != "string":
                raise JsltUnsupported("import needs a quoted module name")
            if self.next() != ("ident", "as"):
                raise JsltUnsupported("import needs `as <alias>`")
            kind, alias = self.next()
            if kind != "ident":
                raise JsltUnsupported("import alias must be an identifier")
            imports[alias] = _unquote(mod)
        lets: dict[str, Any] = {}
        defs: dict[str, tuple[list[str], Any]] = {}
        while self.peek()[0] == "ident" and self.peek()[1] in ("let", "def"):
            kw = self.next()[1]
            kind, name = self.next()
            if kind != "ident":
                raise JsltUnsupported(f"{kw} needs an identifier")
            if kw == "let":
                self.expect("=")
                lets[name] = self.parse_expr()
                continue
            # def name(p1, p2) <expr> — params referenced as $p1
            while (self.peek() == ("op", "-")
                   and self.toks[self.i + 1][0] == "ident"):
                self.next()
                name += "-" + self.next()[1]
            self.expect("(")
            params: list[str] = []
            while self.peek()[1] != ")":
                k2, p = self.next()
                if k2 != "ident":
                    raise JsltUnsupported("bad def parameter")
                params.append(p)
                if self.peek()[1] == ",":
                    self.next()
            self.expect(")")
            defs[name] = (params, self.parse_expr())
        if self.peek()[0] == "eof":
            body = None  # declarations-only module file
        else:
            body = self.parse_expr()
            if self.peek()[0] != "eof":
                raise JsltUnsupported(f"trailing input at {self.peek()[1]!r}")
        return imports, lets, defs, body

    def parse_expr(self) -> Any:
        return self.parse_or()

    def parse_or(self) -> Any:
        node = self.parse_and()
        while self.peek() == ("ident", "or"):
            self.next()
            node = Bin("or", node, self.parse_and())
        return node

    def parse_and(self) -> Any:
        node = self.parse_cmp()
        while self.peek() == ("ident", "and"):
            self.next()
            node = Bin("and", node, self.parse_cmp())
        return node

    def parse_cmp(self) -> Any:
        node = self.parse_add()
        if self.peek()[1] in ("==", "!=", "<", "<=", ">", ">="):
            op = self.next()[1]
            node = Bin(op, node, self.parse_add())
        return node

    def parse_add(self) -> Any:
        node = self.parse_mul()
        while True:
            kind, val = self.peek()
            if val in ("+", "-"):
                op = self.next()[1]
                node = Bin(op, node, self.parse_mul())
                continue
            # unspaced subtraction: `.score-1` lexes the right side as the
            # negative number -1 (JSLT parses this as subtraction)
            if kind == "number" and val.startswith("-"):
                self.next()
                lit = Lit(float(val[1:]) if any(c in val for c in ".eE")
                          else int(val[1:]))
                node = Bin("-", node, lit)
                continue
            return node

    def parse_mul(self) -> Any:
        node = self.parse_unary()
        while self.peek()[1] in ("*", "/"):
            op = self.next()[1]
            node = Bin(op, node, self.parse_unary())
        return node

    def parse_unary(self) -> Any:
        if self.peek()[1] == "-":
            self.next()
            return Bin("-", Lit(0), self.parse_primary())
        return self.parse_primary()

    def parse_primary(self) -> Any:
        kind, val = self.peek()
        if val == "(":
            self.next()
            node = self.parse_expr()
            self.expect(")")
            return node
        if val == ".":
            return self.parse_postfix_path(self.parse_path())
        if val == "$":
            self.next()
            k, name = self.next()
            if k != "ident":
                raise JsltUnsupported("$ needs a variable name")
            return self.parse_postfix_path(Var(name))
        if val == "[":
            self.next()
            if self.peek() == ("ident", "for"):
                # [for (seq) body if (cond)]
                self.next()
                self.expect("(")
                seq = self.parse_expr()
                self.expect(")")
                body = self.parse_expr()
                cond = None
                if self.peek() == ("ident", "if"):
                    self.next()
                    self.expect("(")
                    cond = self.parse_expr()
                    self.expect(")")
                self.expect("]")
                return For(seq, body, cond)
            items = []
            while self.peek()[1] != "]":
                items.append(self.parse_expr())
                if self.peek()[1] == ",":
                    self.next()
            self.expect("]")
            return Arr(items)
        if val == "{":
            return self.parse_object()
        if kind == "string":
            self.next()
            return Lit(_unquote(val))
        if kind == "number":
            self.next()
            return Lit(float(val) if any(c in val for c in ".eE") else int(val))
        if kind == "ident":
            if val == "if":
                self.next()
                self.expect("(")
                cond = self.parse_expr()
                self.expect(")")
                then = self.parse_expr()
                other = None
                if self.peek() == ("ident", "else"):
                    self.next()
                    other = self.parse_expr()
                return If(cond, then, other)
            if val in ("true", "false"):
                self.next()
                return Lit(val == "true")
            if val == "null":
                self.next()
                return Lit(None)
            # function call — JSLT builtin names may contain hyphens
            # (starts-with, zip-with-index): bare identifiers are never
            # valid values, so greedily joining ident(-ident)* is safe
            self.next()
            while (self.peek() == ("op", "-")
                   and self.toks[self.i + 1][0] == "ident"):
                self.next()
                val += "-" + self.next()[1]
            if (self.peek() == ("op", ":")
                    and self.toks[self.i + 1][0] == "ident"):
                # module-qualified call `alias:fn(...)` (imports); safe:
                # a bare identifier before `:` is never a valid value in
                # expression position
                self.next()
                val += ":" + self.next()[1]
                while (self.peek() == ("op", "-")
                       and self.toks[self.i + 1][0] == "ident"):
                    self.next()
                    val += "-" + self.next()[1]
            if self.peek()[1] != "(":
                raise JsltUnsupported(f"bare identifier {val!r}")
            self.next()
            args = []
            while self.peek()[1] != ")":
                args.append(self.parse_expr())
                if self.peek()[1] == ",":
                    self.next()
            self.expect(")")
            return Call(val, args)
        raise JsltUnsupported(f"unsupported token {val!r}")

    def _try_parse_slice(self, node):
        """``[lo:hi]`` / ``[lo:]`` / ``[:hi]`` with literal int bounds
        after a path/variable; returns a Slice node or None."""
        if self.peek()[1] != "[":
            return None
        save = self.i
        self.next()

        def lit_int():
            neg = False
            if self.peek() == ("op", "-"):
                self.next()
                neg = True
            k, v = self.peek()
            if k != "number" or "." in v:
                return None, False
            self.next()
            return (-int(v) if neg else int(v)), True

        lo = None
        if self.peek()[1] != ":":
            lo, ok = lit_int()
            if not ok:
                self.i = save
                return None
        if self.peek()[1] != ":":
            self.i = save
            return None
        self.next()
        hi = None
        if self.peek()[1] != "]":
            hi, ok = lit_int()
            if not ok:
                self.i = save
                return None
        if self.peek()[1] != "]":
            self.i = save
            return None
        self.next()
        return Slice(node, lo, hi)

    def parse_postfix_path(self, node):
        """Literal array indexing/slicing after a path/variable:
        ``.foo[0]``, ``.foo[-1].bar``, ``$v[2]``, ``.xs[1:3]`` — only
        literal integer bounds (the empty ``[]`` iteration form belongs
        to reduce/foreach sources)."""
        while True:
            sliced = self._try_parse_slice(node)
            if sliced is not None:
                node = sliced
                continue
            if not (self.peek()[1] == "["
                    and (self.toks[self.i + 1][0] == "number"
                         or (self.toks[self.i + 1] == ("op", "-")
                             and self.toks[self.i + 2][0] == "number"))):
                break
            save = self.i
            self.next()
            neg = False
            if self.peek() == ("op", "-"):
                self.next()
                neg = True
            _, num = self.next()
            if "." in num or self.peek()[1] != "]":
                self.i = save
                break
            self.next()
            node = Idx(node, -int(num) if neg else int(num))
            parts: list[str] = []
            while self.peek()[1] == ".":
                save = self.i
                self.next()
                k, v = self.peek()
                if k == "ident" and v not in _RESERVED:
                    self.next()
                    parts.append(v)
                elif k == "string":
                    self.next()
                    parts.append(_unquote(v))
                else:
                    self.i = save
                    break
            if parts:
                node = Sub(node, parts)
        return node

    def parse_path(self) -> Path:
        parts: list[str] = []
        while self.peek()[1] == ".":
            self.next()
            kind, val = self.peek()
            # keywords after a bare `.` belong to the surrounding grammar
            # (`[for (..) . if (..)]`), not the path — whitespace is gone
            # by now, so `.if` as a field needs the quoted form `."if"`
            if kind == "ident" and val not in _RESERVED:
                self.next()
                parts.append(val)
            elif kind == "string":
                self.next()
                parts.append(_unquote(val))
            else:
                break  # bare `.`
        return Path(parts)

    def parse_object(self):
        self.expect("{")
        if self.peek() == ("ident", "for"):
            # {for (seq) key : value if (cond)} -> map (dynamic keys)
            self.next()
            self.expect("(")
            seq = self.parse_expr()
            self.expect(")")
            key = self.parse_expr()
            self.expect(":")
            value = self.parse_expr()
            cond = None
            if self.peek() == ("ident", "if"):
                self.next()
                self.expect("(")
                cond = self.parse_expr()
                self.expect(")")
            self.expect("}")
            return ForObj(seq, key, value, cond)
        pairs: list[tuple[str, Any]] = []
        spread = False
        minus: list[str] = []
        while self.peek()[1] != "}":
            kind, val = self.peek()
            if val == "*" or val == "*:":
                # `* : .` / `*: .` / `* - a, b : .` (matcher exclusions)
                self.next()
                if val == "*":
                    if self.peek()[1] == "-":
                        self.next()
                        while True:
                            k2, nm = self.next()
                            if k2 == "string":
                                minus.append(_unquote(nm))
                            elif k2 == "ident":
                                minus.append(nm)
                            else:
                                raise JsltUnsupported("bad matcher exclusion")
                            if self.peek()[1] == ",":
                                self.next()
                                continue
                            break
                    self.expect(":")
                tail = self.parse_expr()
                if not (isinstance(tail, Path) and not tail.parts):
                    raise JsltUnsupported("object spread must be `* : .`")
                spread = True
            else:
                if kind == "string":
                    self.next()
                    key = _unquote(val)
                elif kind == "ident":
                    self.next()
                    key = val
                else:
                    raise JsltUnsupported(f"bad object key {val!r}")
                self.expect(":")
                pairs.append((key, self.parse_expr()))
            if self.peek()[1] == ",":
                self.next()
        self.expect("}")
        return Obj(pairs, spread, tuple(minus))


def _unquote(s: str) -> str:
    import json

    try:
        return json.loads(s)
    except json.JSONDecodeError as e:
        # e.g. a jq interpolation escape `\(` in key position
        raise JsltUnsupported(f"unsupported string escape in {s!r}") from e


# ------------------------------------------------------------- modules
#
# `import "module" as m` + `m:fn(...)` — the resolver seam the reference
# passes into the JSLT engine through Features (Jslt.java:19-36).  A
# resolver maps module names to template SOURCE (a dict or a callable);
# module files contain declarations only (imports/lets/defs, no body).
# Resolution is purely compile-time: imported defs are merged into the
# host script's def table under their qualified `alias:name`, with
# module-level lets substituted into the def bodies and sibling/nested
# calls rewritten to qualified names — both tiers then treat them like
# ordinary script-local defs (tier 1 inlines, tier 2 interprets).


def _map_ast(node: Any, f) -> Any:
    """Bottom-up AST rebuild: recurse into dataclass fields / lists /
    tuples, then apply ``f`` to each rebuilt dataclass node."""
    import dataclasses

    if dataclasses.is_dataclass(node) and not isinstance(node, type):
        kwargs = {
            fld.name: _map_ast(getattr(node, fld.name), f)
            for fld in dataclasses.fields(node)
        }
        return f(type(node)(**kwargs))
    if isinstance(node, list):
        return [_map_ast(v, f) for v in node]
    if isinstance(node, tuple):
        return tuple(_map_ast(v, f) for v in node)
    return node


def _substitute_lets(node: Any, subst: dict[str, Any], bound: frozenset) -> Any:
    """Replace free ``$name`` variables with their AST from ``subst``,
    respecting the jq-form binders (Reduce/Foreach/As) and leaving bound
    occurrences alone."""
    if isinstance(node, Var):
        if node.name not in bound and node.name in subst:
            return subst[node.name]
        return node
    if isinstance(node, (Reduce, Foreach)):
        inner = bound | {node.var}
        return type(node)(
            _substitute_lets(node.src, subst, bound), node.var,
            _substitute_lets(node.init, subst, inner),
            _substitute_lets(node.upd, subst, inner),
        )
    if isinstance(node, As):
        return As(
            _substitute_lets(node.expr, subst, bound), node.var,
            _substitute_lets(node.body, subst, bound | {node.var}),
        )
    import dataclasses

    if dataclasses.is_dataclass(node) and not isinstance(node, type):
        kwargs = {
            fld.name: _substitute_lets(getattr(node, fld.name), subst, bound)
            for fld in dataclasses.fields(node)
        }
        return type(node)(**kwargs)
    if isinstance(node, list):
        return [_substitute_lets(v, subst, bound) for v in node]
    if isinstance(node, tuple):
        return tuple(_substitute_lets(v, subst, bound) for v in node)
    return node


def _resolver_fn(resolver):
    if resolver is None:
        return None
    if callable(resolver):
        return resolver
    return lambda name: resolver[name]


def _module_defs(
    mod: str, resolver, seen: frozenset
) -> dict[str, tuple[list, Any]]:
    """Load module ``mod`` and return its functions keyed by LOCAL name
    (own defs as ``fn``, nested imports as ``sub:fn``), with module lets
    substituted and internal calls rewritten to those local names.  The
    importer prefixes everything with its alias via ``_prefix_defs``."""
    if mod in seen:
        raise JsltUnsupported(f"circular JSLT module import {mod!r}")
    try:
        src = _resolver_fn(resolver)(mod)
    except KeyError:
        raise JsltUnsupported(f"unresolved JSLT module {mod!r}") from None
    imports, lets, defs, body = _Parser(tokenize(src)).parse_script()
    if body is not None:
        raise JsltUnsupported(
            f"JSLT module {mod!r} must contain only declarations "
            "(imports/lets/defs) — module bodies are not supported"
        )
    flat: dict[str, tuple[list, Any]] = {}
    for alias, sub in imports.items():
        flat.update(_prefix_defs(
            _module_defs(sub, resolver, seen | {mod}), alias))
    # module-level lets: substitute in declaration order (earlier lets
    # visible to later ones), then into every def body minus its params
    subst: dict[str, Any] = {}
    for name, ast in lets.items():
        subst[name] = _substitute_lets(ast, subst, frozenset())
    for name, (params, bodyast) in defs.items():
        visible = {k: v for k, v in subst.items() if k not in params}
        flat[name] = (
            list(params), _substitute_lets(bodyast, visible, frozenset())
        )
    return flat


def _prefix_defs(
    flat: dict[str, tuple[list, Any]], alias: str
) -> dict[str, tuple[list, Any]]:
    keys = set(flat)

    def fix(node):
        if isinstance(node, Call) and node.name in keys:
            return Call(f"{alias}:{node.name}", node.args)
        return node

    return {
        f"{alias}:{k}": (params, _map_ast(body, fix))
        for k, (params, body) in flat.items()
    }


def load_import_defs(
    imports: dict[str, str], resolver
) -> dict[str, tuple[list, Any]]:
    """Resolve a script's imports into a flat qualified-name def table
    (``alias:fn`` / ``alias:sub:fn``)."""
    if not imports:
        return {}
    if resolver is None:
        raise JsltUnsupported(
            f"script imports {sorted(imports.values())} but no "
            "jslt_resolver is configured on the Context"
        )
    out: dict[str, tuple[list, Any]] = {}
    for alias, mod in imports.items():
        out.update(_prefix_defs(
            _module_defs(mod, resolver, frozenset()), alias))
    return out


# ------------------------------------------------------------- compiler

_STRING = "string"
_NUMBER = "number"
_BOOL = "bool"
_ARRAY = "array"
_UNKNOWN = None


def _schema_hint(dt: T.DataType) -> Optional[str]:
    if isinstance(dt, T.StringType):
        return _STRING
    if isinstance(dt, (T.ArrayType,)):
        return _ARRAY
    if isinstance(dt, T.BooleanType):
        return _BOOL
    if isinstance(dt, T.NumericType):
        return _NUMBER
    return _UNKNOWN


class _Compiler:
    def __init__(self, schema: T.StructType, lets: dict[str, Any],
                 defs: Optional[dict] = None):
        self.schema = schema
        self.lets = lets
        self.defs = defs or {}  # user functions: name -> (params, body)
        self._def_depth = 0
        # lambda scoping (HOF bodies): `dot` rebinds `.` to
        # (column, dtype, hint); `binds` holds loop/binding variables ->
        # (column, dtype, hint)
        self.dot: Optional[tuple[Column, Optional[T.DataType], Optional[str]]] = None
        self.binds: dict[str, tuple[Column, Optional[T.DataType], Optional[str]]] = {}

    def scoped(self, dot=None, binds=None) -> "_Compiler":
        """Child compiler for a HOF lambda body: same schema/lets, with
        `.` rebound and/or extra variables visible."""
        child = type(self)(self.schema, self.lets, self.defs)
        child._def_depth = self._def_depth
        child.dot = dot if dot is not None else self.dot
        child.binds = {**self.binds, **(binds or {})}
        return child

    def field_type(self, parts: list[str]) -> Optional[T.DataType]:
        cur: T.DataType = self.schema
        for p in parts:
            if not isinstance(cur, T.StructType) or p not in cur.fieldNames():
                return None
            cur = cur[p].dataType
        return cur

    def node_type(self, node: Any) -> Optional[T.DataType]:
        """Static type of a path-like node, when the schema knows it."""
        if isinstance(node, Path):
            if self.dot is not None:
                dt = self.dot[1]
                for p in node.parts:
                    if not isinstance(dt, T.StructType) or p not in dt.fieldNames():
                        return None
                    dt = dt[p].dataType
                return dt
            return self.field_type(node.parts)
        if isinstance(node, Idx):
            dt = self.node_type(node.target)
            return dt.elementType if isinstance(dt, T.ArrayType) else None
        if isinstance(node, Slice):
            dt = self.node_type(node.target)
            return dt if isinstance(dt, (T.ArrayType, T.StringType)) else None
        if isinstance(node, Sub):
            dt = self.node_type(node.target)
            for p in node.parts:
                if not isinstance(dt, T.StructType) or p not in dt.fieldNames():
                    return None
                dt = dt[p].dataType
            return dt
        return None

    def _dot_path(self, parts: list[str]) -> tuple[Column, Optional[str]]:
        """Resolve a path against the rebound `.` (a HOF lambda value)."""
        col, dt, hint = self.dot
        if not parts:
            return col, _schema_hint(dt) if dt is not None else hint
        for p in parts:
            if dt is not None:
                if not isinstance(dt, T.StructType) or p not in dt.fieldNames():
                    return F.lit(None), _UNKNOWN  # absent -> null
                dt = dt[p].dataType
            col = col.getField(p)
        return col, _schema_hint(dt) if dt is not None else _UNKNOWN

    def compile(self, node: Any) -> tuple[Column, Optional[str]]:
        if isinstance(node, Lit):
            if node.value is None:
                return F.lit(None), _UNKNOWN
            hint = (_STRING if isinstance(node.value, str)
                    else _BOOL if isinstance(node.value, bool)
                    else _NUMBER)
            return F.lit(node.value), hint
        if isinstance(node, Path):
            if self.dot is not None:  # inside a HOF lambda: `.` = element
                return self._dot_path(node.parts)
            if not node.parts:
                # whole-document value: engine-internal columns (`__key`
                # after $setKey, `__`-reserved) are not part of the user
                # document — mirror $send/$delay's doc construction
                return (F.struct(*[F.col(c) for c in self.schema.fieldNames()
                                   if not c.startswith("__")]),
                        _UNKNOWN)
            dt = self.field_type(node.parts)
            if dt is None:
                return F.lit(None), _UNKNOWN  # absent -> null (JSLT)
            return F.col(".".join(f"`{p}`" for p in node.parts)), _schema_hint(dt)
        if isinstance(node, Var):
            if node.name in self.binds:
                col, _dt, hint = self.binds[node.name]
                return col, hint
            if node.name not in self.lets:
                raise JsltUnsupported(f"unbound variable ${node.name}")
            if self.dot is not None:
                # let-bindings are document-scoped: compile them outside
                # the lambda so their paths hit columns, not the element
                return type(self)(self.schema, self.lets, self.defs).compile(
                    self.lets[node.name])
            return self.compile(self.lets[node.name])
        if isinstance(node, Idx):
            col, _ = self.compile(node.target)
            pos = node.index + 1 if node.index >= 0 else node.index
            dt = self.node_type(node)
            return (F.try_element_at(col, F.lit(pos)),
                    _schema_hint(dt) if dt is not None else _UNKNOWN)
        if isinstance(node, Slice):
            col, _ = self.compile(node.target)
            dt = self.node_type(node.target)
            # Python/JSLT half-open [lo:hi) with negative bounds -> the
            # (start, length) form Spark's slice()/substr() want; bounds
            # clamp to [0, n] so out-of-range never errors
            if isinstance(dt, T.ArrayType):
                n = F.size(col)
            elif isinstance(dt, T.StringType):
                n = F.length(col)
            else:
                raise JsltUnsupported("slice of a non-array/string value")

            def norm(bound, default):
                if bound is None:
                    return default
                b = F.lit(bound) if bound >= 0 else n + F.lit(bound)
                return F.greatest(F.least(b, n), F.lit(0))

            lo = norm(node.lo, F.lit(0))
            hi = norm(node.hi, n)
            length = F.greatest(hi - lo, F.lit(0))
            if isinstance(dt, T.ArrayType):
                out = F.slice(col, lo + 1, length)
            else:
                out = col.substr(lo + 1, length)
            return out, _schema_hint(dt)
        if isinstance(node, Sub):
            col, _ = self.compile(node.target)
            dt = self.node_type(node.target)
            for p in node.parts:
                if dt is not None:
                    if not isinstance(dt, T.StructType) or p not in dt.fieldNames():
                        return F.lit(None), _UNKNOWN  # absent -> null
                    dt = dt[p].dataType
                col = col.getField(p)
            return col, _schema_hint(dt) if dt is not None else _UNKNOWN
        if isinstance(node, Bin):
            return self.compile_bin(node)
        if isinstance(node, If):
            cond, _ = self.compile(node.cond)
            then, th = self.compile(node.then)
            if node.other is None:
                return F.when(cond, then), th
            other, oh = self.compile(node.other)
            return F.when(cond, then).otherwise(other), th or oh
        if isinstance(node, Arr):
            # `[foreach ...]` is the collected running-scan form: the
            # Foreach already compiles to an array of states
            if len(node.items) == 1 and isinstance(node.items[0], Foreach):
                return self.compile_foreach(node.items[0])
            cols = [self.compile(i)[0] for i in node.items]
            return F.array(*cols), _ARRAY
        if isinstance(node, Obj):
            if node.spread:
                raise JsltUnsupported("nested objects cannot use `* : .`")
            return (F.struct(*[self.compile(v)[0].alias(k)
                               for k, v in node.pairs]), _UNKNOWN)
        if isinstance(node, For):
            seq, elem_dt = self.compile_seq(node.seq)
            dot = lambda x: (x, elem_dt, _schema_hint(elem_dt)
                             if elem_dt is not None else _UNKNOWN)
            if node.cond is not None:
                seq = F.filter(
                    seq,
                    lambda x: self.scoped(dot=dot(x)).compile(
                        node.cond)[0].cast("boolean"),
                )
            body = lambda x: self.scoped(dot=dot(x)).compile(node.body)[0]
            return F.transform(seq, body), _ARRAY
        if isinstance(node, ForObj):
            seq, elem_dt = self.compile_seq(node.seq)
            dot = lambda x: (x, elem_dt, _schema_hint(elem_dt)
                             if elem_dt is not None else _UNKNOWN)
            if node.cond is not None:
                seq = F.filter(
                    seq,
                    lambda x: self.scoped(dot=dot(x)).compile(
                        node.cond)[0].cast("boolean"),
                )
            keys = F.transform(seq, lambda x: self.scoped(dot=dot(x))
                               .compile(node.key)[0].cast("string"))
            vals = F.transform(seq, lambda x: self.scoped(dot=dot(x))
                               .compile(node.value)[0])
            return F.map_from_arrays(keys, vals), _UNKNOWN
        if isinstance(node, Reduce):
            return self.compile_reduce(node)
        if isinstance(node, Foreach):
            raise JsltUnsupported(
                "foreach emits a stream; only the collected form "
                "[foreach ...] is supported")
        if isinstance(node, As):
            col, dt, hint = self._compile_binding(node.expr)
            return self.scoped(binds={node.var: (col, dt, hint)}).compile(
                node.body)
        if isinstance(node, Call):
            return self.compile_call(node)
        raise JsltUnsupported(f"unsupported node {node!r}")

    def compile_seq(self, node: Any) -> tuple[Column, Optional[T.DataType]]:
        """Compile a sequence expression, tracking the ELEMENT type when
        the schema knows it (needed to resolve paths inside HOF lambdas).
        JSLT iterates objects as {key, value} pairs: map-typed columns do
        that natively via map_entries; struct-typed objects have
        heterogeneous field types (no single element type) and fall to
        the tier-2 evaluator."""
        dt = self.node_type(node)
        col, _hint = self.compile(node)
        if isinstance(dt, T.ArrayType):
            return col, dt.elementType
        if isinstance(dt, T.MapType):
            elem = T.StructType([
                T.StructField("key", dt.keyType),
                T.StructField("value", dt.valueType),
            ])
            return F.map_entries(col), elem
        if isinstance(dt, T.StructType):
            raise JsltUnsupported(
                "iteration over a struct-typed object (heterogeneous "
                "fields) — tier 2")
        return col, None

    def _compile_binding(self, node: Any):
        """Compile a bound expression, carrying its dtype when derivable
        (so paths into the bound value resolve inside lambdas)."""
        dt = self.node_type(node)
        col, hint = self.compile(node)
        return col, dt, hint

    def _fold_init(self, node: Any) -> tuple[Column, Optional[str]]:
        """The zero of an aggregate must have the merged type: jq numbers
        are doubles, so numeric (and numeric-literal) zeros widen to
        double up front instead of failing analysis on long+double."""
        col, hint = self.compile(node)
        if isinstance(node, Lit) and isinstance(node.value, (int, float)) \
                and not isinstance(node.value, bool):
            return F.lit(float(node.value)), _NUMBER
        if hint == _NUMBER:
            return col.cast("double"), _NUMBER
        return col, hint

    def _fold_lambda(self, node: Reduce | Foreach, elem_dt, init_hint):
        ehint = _schema_hint(elem_dt) if elem_dt is not None else _UNKNOWN
        return lambda acc, x: self.scoped(
            dot=(acc, None, init_hint),
            binds={node.var: (x, elem_dt, ehint)},
        ).compile(node.upd)[0]

    def compile_reduce(self, node: Reduce) -> tuple[Column, Optional[str]]:
        src, elem_dt = self.compile_seq(node.src)
        init, ih = self._fold_init(node.init)
        upd = self._fold_lambda(node, elem_dt, ih)
        return F.aggregate(src, init, upd), ih

    def compile_foreach(self, node: Foreach) -> tuple[Column, Optional[str]]:
        """Collected foreach = running scan: state[i] folds UPD over the
        first i elements.  O(n²) element visits but fully native (one
        nested HOF expression, no Python)."""
        src, elem_dt = self.compile_seq(node.src)
        init, ih = self._fold_init(node.init)
        upd = self._fold_lambda(node, elem_dt, ih)
        # sequence(1, 0) would generate DESCENDING [1, 0]: guard empties
        idx = F.when(F.size(src) > 0, F.sequence(F.lit(1), F.size(src))) \
            .otherwise(F.array().cast("array<int>"))
        return (
            F.transform(idx, lambda i: F.aggregate(F.slice(src, 1, i), init, upd)),
            _ARRAY,
        )

    def compile_bin(self, node: Bin) -> tuple[Column, Optional[str]]:
        left, lh = self.compile(node.left)
        right, rh = self.compile(node.right)
        op = node.op
        if op == "+":
            if _STRING in (lh, rh):
                return F.concat(left.cast("string"), right.cast("string")), _STRING
            return left + right, _NUMBER
        if op == "-":
            return left - right, _NUMBER
        if op == "*":
            return left * right, _NUMBER
        if op == "/":
            return F.try_divide(left, right), _NUMBER
        if op == "==":
            return left == right, _BOOL
        if op == "!=":
            return left != right, _BOOL
        if op == "<":
            return left < right, _BOOL
        if op == "<=":
            return left <= right, _BOOL
        if op == ">":
            return left > right, _BOOL
        if op == ">=":
            return left >= right, _BOOL
        if op == "and":
            return left & right, _BOOL
        if op == "or":
            return left | right, _BOOL
        raise JsltUnsupported(f"operator {op!r}")

    def compile_call(self, node: Call) -> tuple[Column, Optional[str]]:
        if node.name in self.defs:
            # user `def`: inline by binding value-compiled args as
            # variables — `.` inside the body is the call-site input.
            # Recursive defs cannot inline (no fixed expression depth):
            # the guard trips and tier 2 interprets them instead.
            params, body = self.defs[node.name]
            if len(node.args) != len(params):
                raise JsltUnsupported(
                    f"{node.name}() takes {len(params)} argument(s)")
            if self._def_depth > 16:
                raise JsltUnsupported(f"recursive def {node.name}()")
            binds = {p: self._compile_binding(a)
                     for p, a in zip(params, node.args)}
            child = self.scoped(binds=binds)
            child._def_depth = self._def_depth + 1
            return child.compile(body)
        args = [self.compile(a) for a in node.args]
        cols = [c for c, _ in args]
        name = node.name

        def need(n: int) -> None:
            if len(cols) != n:
                raise JsltUnsupported(f"{name}() takes {n} argument(s)")

        if name == "size":
            need(1)
            # JSLT size(): length of string, size of array/object
            return (F.length(cols[0]) if args[0][1] == _STRING
                    else F.size(cols[0])).cast("long"), _NUMBER
        if name == "not":
            need(1)
            return ~cols[0].cast("boolean"), _BOOL
        if name == "string":
            need(1)
            return cols[0].cast("string"), _STRING
        if name == "number":
            need(1)
            return cols[0].try_cast("double"), _NUMBER
        if name == "round":
            need(1)
            return F.round(cols[0]).cast("long"), _NUMBER
        if name == "floor":
            need(1)
            return F.floor(cols[0]).cast("long"), _NUMBER
        if name == "ceiling":
            need(1)
            return F.ceil(cols[0]).cast("long"), _NUMBER
        if name == "lowercase":
            need(1)
            return F.lower(cols[0]), _STRING
        if name == "uppercase":
            need(1)
            return F.upper(cols[0]), _STRING
        if name == "trim":
            need(1)
            return F.trim(cols[0]), _STRING
        if name == "contains":
            need(2)
            # JSLT: contains(element, sequence)
            if args[1][1] == _STRING:
                return cols[1].contains(cols[0].cast("string")), _BOOL
            return F.array_contains(cols[1], cols[0]), _BOOL
        if name == "split":
            need(2)
            return F.split(cols[0], _literal_str(node.args[1])), _ARRAY
        if name == "join":
            need(2)
            return F.array_join(cols[0], _literal_str(node.args[1])), _STRING
        if name == "test":
            need(2)
            return cols[0].rlike(_literal_str(node.args[1])), _BOOL
        if name == "fallback":
            if len(cols) < 2:
                raise JsltUnsupported("fallback() takes 2+ arguments")
            return F.coalesce(*cols), next((h for _, h in args if h), _UNKNOWN)
        if name in ("min", "max"):
            need(2)
            # JSLT (and tier 2) return null when either side is null;
            # Spark's least/greatest skip nulls — guard explicitly
            best = (F.least if name == "min" else F.greatest)(*cols)
            return (
                F.when(cols[0].isNull() | cols[1].isNull(),
                       F.lit(None)).otherwise(best),
                args[0][1] or args[1][1],
            )
        if name == "sum":
            need(1)
            return (F.aggregate(cols[0], F.lit(0.0).cast("double"),
                                lambda acc, x: acc + x), _NUMBER)
        if name == "mod":
            need(2)
            return F.pmod(cols[0].cast("long"), cols[1].cast("long")), _NUMBER
        if name == "starts-with":
            need(2)
            return cols[0].startswith(cols[1]), _BOOL
        if name == "ends-with":
            need(2)
            return cols[0].endswith(cols[1]), _BOOL
        if name == "replace":
            need(3)
            return (F.regexp_replace(cols[0], _literal_str(node.args[1]),
                                     _literal_str(node.args[2])), _STRING)
        if name == "uuid":
            need(0)
            return F.uuid(), _STRING
        if name == "sha256-hex":
            need(1)
            return F.sha2(cols[0].cast("string"), 256), _STRING
        if name == "boolean":
            need(1)
            return self._truthy(node.args[0], *args[0]), _BOOL
        if name in ("is-number", "is-integer", "is-decimal", "is-string",
                    "is-boolean", "is-object", "is-array"):
            need(1)
            return self._type_predicate(name, node.args[0], args[0][1])
        if name == "index-of":
            need(2)
            # JSLT index-of: 0-based position, -1 when absent
            pos = F.array_position(cols[0], cols[1])
            return F.when(pos > 0, pos - 1).otherwise(F.lit(-1)).cast("long"), _NUMBER
        if name == "zip":
            need(2)
            ta, tb = (self.node_type(node.args[0]),
                      self.node_type(node.args[1]))
            if isinstance(ta, T.ArrayType) and isinstance(tb, T.ArrayType) \
                    and not (
                        ta.elementType == tb.elementType
                        or (isinstance(ta.elementType, T.NumericType)
                            and isinstance(tb.elementType, T.NumericType))):
                raise JsltUnsupported(
                    "zip() of differently-typed arrays has no typed "
                    "column representation")
            # truncate to the SHORTER side (JSLT/tier-2 semantics);
            # Spark's zip_with would null-pad the longer one
            n = F.least(F.size(cols[0]), F.size(cols[1]))
            return (F.zip_with(F.slice(cols[0], 1, n),
                               F.slice(cols[1], 1, n),
                               lambda a, b: F.array(a, b)), _ARRAY)
        if name == "zip-with-index":
            need(1)
            # sequence(0, -1) on an empty array would generate the
            # DESCENDING [0, -1] (phantom entries) — guard empties
            idx = F.when(
                F.size(cols[0]) > 0,
                F.sequence(F.lit(0), F.size(cols[0]) - 1),
            ).otherwise(F.array().cast("array<int>"))
            return (F.zip_with(cols[0], idx,
                               lambda v, i: F.struct(v.alias("value"),
                                                     i.alias("index"))),
                    _ARRAY)
        if name == "flatten":
            need(1)
            dt = self.node_type(node.args[0])
            col = cols[0]
            if not isinstance(dt, T.ArrayType):
                raise JsltUnsupported(
                    "flatten() needs a statically-typed array")
            # JSLT flatten is recursive; the schema bounds the depth
            while isinstance(dt.elementType, T.ArrayType):
                col = F.flatten(col)
                dt = dt.elementType
            return col, _ARRAY
        if name == "get-key":
            if len(cols) not in (2, 3):
                raise JsltUnsupported("get-key() takes 2 or 3 arguments")
            dt = self.node_type(node.args[0])
            if isinstance(dt, T.MapType):
                got = F.try_element_at(cols[0], cols[1])
            elif isinstance(node.args[1], Lit) and isinstance(
                    node.args[1].value, str):
                key = node.args[1].value
                if isinstance(dt, T.StructType):
                    got = cols[0].getField(key) \
                        if key in dt.fieldNames() else F.lit(None)
                else:  # dtype unknown (computed object): blind access
                    got = cols[0].getField(key)
            else:
                raise JsltUnsupported(
                    "get-key() needs a map-typed object or a literal key")
            if len(cols) == 3:
                got = F.coalesce(got, cols[2])
            return got, _UNKNOWN
        if name == "to-json":
            need(1)
            dt = self.node_type(node.args[0])
            hint = args[0][1]
            if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)) \
                    or hint == _ARRAY:
                return F.to_json(cols[0]), _STRING
            if hint == _NUMBER or isinstance(dt, T.NumericType):
                return cols[0].cast("string"), _STRING
            if hint == _BOOL or isinstance(dt, T.BooleanType):
                return F.when(cols[0], "true").otherwise("false"), _STRING
            if hint == _STRING or isinstance(dt, T.StringType):
                return F.to_json(F.struct(cols[0].alias("v"))).substr(
                    F.lit(6), F.length(F.to_json(F.struct(cols[0].alias("v")))) - 6
                ), _STRING
            raise JsltUnsupported("to-json() needs a typed argument")
        if name == "parse-time":
            if len(cols) not in (2, 3):
                raise JsltUnsupported("parse-time() takes 2 or 3 arguments")
            ts = F.try_to_timestamp(cols[0], F.lit(_literal_str(node.args[1])))
            secs = ts.cast("double")
            if len(cols) == 3:
                secs = F.coalesce(secs, cols[2])
            return secs, _NUMBER
        if name == "format-time":
            need(2)
            return (F.date_format(F.timestamp_seconds(cols[0]),
                                  _literal_str(node.args[1])), _STRING)
        if name == "now":
            need(0)
            return F.current_timestamp().cast("double"), _NUMBER
        if name == "capture":
            need(2)
            return self._capture(cols[0], _literal_str(node.args[1]))
        if name == "parse-url":
            need(1)
            url = cols[0]
            parts = {
                "scheme": F.parse_url(url, F.lit("PROTOCOL")),
                "host": F.parse_url(url, F.lit("HOST")),
                "path": F.parse_url(url, F.lit("PATH")),
                "query": F.parse_url(url, F.lit("QUERY")),
                "fragment": F.parse_url(url, F.lit("REF")),
                "userinfo": F.parse_url(url, F.lit("USERINFO")),
            }
            return (F.struct(*[v.alias(k) for k, v in parts.items()]),
                    _UNKNOWN)
        raise JsltUnsupported(f"builtin {name!r}")

    def _truthy(self, node: Any, col: Column, hint: Optional[str]) -> Column:
        """JSLT truthiness: null, false, 0, "", [] and {} are falsy."""
        dt = self.node_type(node)
        if hint == _BOOL or isinstance(dt, T.BooleanType):
            return F.coalesce(col, F.lit(False))
        if hint == _NUMBER or isinstance(dt, T.NumericType):
            return col.isNotNull() & (col != 0)
        if hint == _STRING or isinstance(dt, T.StringType):
            return col.isNotNull() & (F.length(col) > 0)
        if hint == _ARRAY or isinstance(dt, (T.ArrayType, T.MapType)):
            return col.isNotNull() & (F.size(col) > 0)
        if isinstance(dt, T.StructType):
            return col.isNotNull()
        raise JsltUnsupported("boolean() needs a typed argument")

    def _type_predicate(self, name: str, node: Any,
                        hint: Optional[str]) -> tuple[Column, Optional[str]]:
        """Static typing makes JSLT's is-* checks compile-time constants
        (null is never a member of any type, so nullable columns fold to
        `isNotNull & <const>`)."""
        dt = self.node_type(node)
        if dt is None and hint is None:
            raise JsltUnsupported(f"{name}() needs a typed argument")
        if dt is None and name in ("is-integer", "is-decimal"):
            # a number hint can't distinguish the two — refuse loudly
            # rather than answer wrong
            raise JsltUnsupported(f"{name}() needs a statically-typed argument")
        col, _ = self.compile(node)
        checks = {
            "is-number": isinstance(dt, T.NumericType) or hint == _NUMBER,
            "is-integer": isinstance(dt, (T.IntegerType, T.LongType,
                                          T.ShortType, T.ByteType)),
            "is-decimal": isinstance(dt, (T.DoubleType, T.FloatType,
                                          T.DecimalType)),
            "is-string": isinstance(dt, T.StringType) or hint == _STRING,
            "is-boolean": isinstance(dt, T.BooleanType) or hint == _BOOL,
            "is-object": isinstance(dt, (T.StructType, T.MapType)),
            "is-array": isinstance(dt, T.ArrayType) or (
                dt is None and hint == _ARRAY),
        }
        return (col.isNotNull() & F.lit(bool(checks[name])), _BOOL)

    def _capture(self, col: Column, pattern: str) -> tuple[Column, Optional[str]]:
        """JSLT capture(): named regex groups -> object.  The pattern is a
        literal, so the named groups (and their indexes among ALL groups)
        are known at compile time — one regexp_extract per name."""
        import re as _re

        names: list[tuple[str, int]] = []
        group_idx = 0
        i = 0
        in_class = False
        while i < len(pattern):
            ch = pattern[i]
            if ch == "\\":
                i += 2
                continue
            if ch == "[":
                in_class = True
            elif ch == "]":
                in_class = False
            if ch == "(" and not in_class:
                # only CAPTURING groups count toward regexp_extract's
                # numbering: named groups `(?<n>`/`(?P<n>` and plain `(`;
                # `(?:`, lookarounds `(?=`/`(?!`/`(?<=`/`(?<!`, and
                # inline flags `(?i)` do not
                m = _re.match(r"\(\?P?<([A-Za-z][A-Za-z0-9]*)>", pattern[i:])
                if m:
                    group_idx += 1
                    names.append((m.group(1), group_idx))
                elif not pattern.startswith("(?", i):
                    group_idx += 1
            i += 1
        if not names:
            raise JsltUnsupported("capture() needs named groups")
        # Python-style `(?P<name>` -> Java `(?<name>` (regexp_extract);
        # anchored on a letter so lookbehinds are never touched
        spark_pat = _re.sub(r"\(\?P<([A-Za-z])", r"(?<\1", pattern)
        fields = [
            F.regexp_extract(col, spark_pat, idx).alias(nm)
            for nm, idx in names
        ]
        return F.struct(*fields), _UNKNOWN


def _literal_str(node: Any) -> str:
    if isinstance(node, Lit) and isinstance(node.value, str):
        return node.value
    raise JsltUnsupported("this argument must be a string literal")


def parse_jslt(script: str, resolver=None):
    """Parse ``script`` once and resolve its imports: returns ``(lets,
    defs, body)``, the form both tiers take (``compile_jslt`` here,
    ``jslt_eval.jslt_transform``).  ``resolver`` (dict or callable:
    module name -> source) serves `import "m" as m` declarations
    (Jslt.java:19-36).  Raises JsltUnsupported when the script does not
    parse."""
    imports, lets, defs, body = _Parser(tokenize(script)).parse_script()
    if body is None:
        raise JsltUnsupported("top-level JSLT script needs a body")
    return lets, {**load_import_defs(imports, resolver), **defs}, body


def compile_jslt(parsed: tuple, df: DataFrame):
    """Compile a ``parse_jslt`` result against ``df``'s schema.

    Returns ``(added, dropped, projected)``: exactly one of
    ``added``/``projected`` is non-None — ``added`` (dict of name ->
    Column) for spread templates ($addFields semantics), with
    ``dropped`` the matcher exclusions (`* - a, b : .`) to remove;
    ``projected`` (list of aliased Columns) for spread-less templates
    ($project-compute semantics).  Raises JsltUnsupported outside the
    subset."""
    lets, defs, body = parsed
    if not isinstance(body, Obj):
        raise JsltUnsupported("top-level JSLT must be an object template")
    comp = _Compiler(df.schema, lets, defs)
    cols = {k: comp.compile(v)[0] for k, v in body.pairs}
    if body.spread:
        return cols, tuple(m for m in body.minus if m not in cols), None
    return None, (), [c.alias(k) for k, c in cols.items()]
