"""Atlas-syntax compatibility stages: ``$vectorSearch`` and ``$search``.

MongoDB Atlas users write ``$vectorSearch`` / ``$search`` as the FIRST
stage of a pipeline; this module accepts that syntax and maps it onto
the engine's native retrieval machinery so those pipelines run
unchanged:

- ``$vectorSearch`` → row-local cosine scoring + TakeOrderedAndProject
  (the $annTopK plan for a single literal query vector).  Scores follow
  Atlas' cosine normalization ``(1 + cos) / 2``.  ``filter`` compiles
  through the $match language and pushes down to the scan.
  ``exact: false`` opts into the LSH-pruned scan (query bucket +
  1-bit-flip multiprobe, hyperplanes shared with $annLsh);
  ``exact: true`` — the default, recall 1.0 — scans everything.  The
  horizontal-scale multi-query ANN paths remain
  $annLshSearch/$annIvfSearch.
- ``$search`` (``text`` operator subset) → the $bm25 scoring fold over
  one or more paths, emitting every matching document ordered by score;
  a following ``$limit`` collapses the global sort into
  TakeOrderedAndProject (Catalyst), which is how Atlas pipelines are
  written anyway.

Both stages bind their relevance score to a hidden column that the
``{"$meta": "vectorSearchScore" | "searchScore"}`` expression
(expressions.py) reads — the Atlas idiom
``{"$project": {"score": {"$meta": "vectorSearchScore"}}}`` works
as-is.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..match import compile_match
from ..paths import nested_col, split_path
from ..pipeline import StageFn, register_stage

VSCORE = "__meta_vectorSearchScore"
SSCORE = "__meta_searchScore"


@register_stage("$vectorSearch", "batch")
def vector_search_stage(expression: Any, ctx: Context) -> StageFn:
    """``{index?, path, queryVector, numCandidates?, limit, filter?,
    exact?, bits?}`` — Atlas $vectorSearch syntax.

    ``exact: true`` (the default here — recall 1.0, never worse than
    Atlas' ANN; Atlas defaults to approximate) scans the whole
    (filtered) corpus.  ``exact: false`` prunes the scan with the
    engine's sign-bit LSH:
    the query vector's bucket is computed driver-side from the SAME
    md5-derived hyperplanes the corpus column uses, and only rows in the
    query's bucket or a 1-bit-flip neighbor (standard multiprobe) get
    the exact cosine — ``bits`` (default 8) sizes the pruning; recall is
    standard-LSH approximate.  ``numCandidates`` is accepted for
    syntax compatibility (bucket membership, not a candidate count, is
    the pruning unit here)."""
    path = expression["path"]
    qv = [float(x) for x in expression["queryVector"]]
    limit = int(expression["limit"])
    flt = expression.get("filter")
    exact = bool(expression.get("exact", True))
    bits = int(expression.get("bits", 8))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        if flt:
            df = df.filter(compile_match(flt, ectx))
        emb = nested_col(split_path(path)).cast("array<double>")
        if not exact:
            from ..functions.datapipe import _plane_component, lsh_bucket

            dim = len(qv)
            qb = 0
            for j in range(bits):
                dot = sum(
                    qv[d] * _plane_component(j, d) for d in range(dim)
                )
                if dot >= 0:
                    qb |= 1 << j
            probes = [qb] + [qb ^ (1 << j) for j in range(bits)]
            df = df.filter(lsh_bucket(emb, bits, dim).isin(probes))
        qlit = F.array(*[F.lit(x) for x in qv])
        import math

        qn = math.sqrt(sum(x * x for x in qv)) or 1.0
        dot = F.expr(
            f"aggregate(zip_with(`__vs_e`, `__vs_q`, (a, b) -> a * b), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        cn = F.expr(
            "sqrt(aggregate(`__vs_e`, 0.0D, (acc, x) -> acc + x * x))"
        )
        scored = (
            df.withColumn("__vs_e", emb)
            .withColumn("__vs_q", qlit)
            .withColumn(
                VSCORE,
                (F.lit(1.0) + dot / F.when(cn > 0, cn * F.lit(qn)))
                / F.lit(2.0),
            )
            .drop("__vs_e", "__vs_q")
        )
        order_keys = [F.col(VSCORE).desc()] + [
            F.col(x) for x in df.columns[:1]
        ]
        # null/zero-norm/wrong-length embeddings score NULL — exclude
        # them (Atlas only returns indexed vectors) instead of letting
        # null-scored rows pad the top-k when limit exceeds the matches
        return (
            scored.filter(F.col(VSCORE).isNotNull())
            .orderBy(*order_keys)
            .limit(limit)
        )

    return fn


# $search operator surface beyond `text` (all deterministic and
# SQL-oracle-able; Atlas's own Lucene scores are index-internal and not
# reproducible, so non-text operators default to score 1.0, overridable
# with Atlas's own `score: {constant|boost}` modifiers):
#   phrase   — query tokens in order, up to `slop` intervening tokens
#   equals   — exact value match on a field
#   range    — gt/gte/lt/lte bounds
#   exists   — field is present (fixed-schema: non-null)
#   wildcard — * / ? glob over the whole field value
#   regex    — regular expression over the whole field value
#   autocomplete — every query token matches as a token PREFIX
#              (Atlas's edge-gram index, re-expressed as anchored
#              regexes); tokenOrder any|sequential
#   queryString — the Lucene-syntax subset (see _QsParser below)
#   embeddedDocument — operator matches within ONE array element
#              (F.exists over the array — row-local, no explode)
#   moreLikeThis — like-doc string fields analyzed into per-field BM25
#              text clauses, combined compound-should
#   geoWithin — box / circle / GeoJSON Polygon|MultiPolygon containment
#              over [lon, lat] or GeoJSON point columns (column math,
#              not a 2dsphere index; see search_stage docstring)
#   geoShape — within|intersects|disjoint|contains over point fields
#   compound — must/mustNot/should/filter with minimumShouldMatch;
#              score = sum of matched must+should clause scores

_SEARCH_OPS = {"text", "phrase", "equals", "range", "exists", "wildcard",
               "regex", "autocomplete", "queryString", "embeddedDocument",
               "moreLikeThis", "in", "near", "geoWithin", "geoShape",
               "compound"}


# --------------------------------------------------- queryString parser
#
# Atlas's `queryString` operator takes Lucene query syntax.  Supported
# subset (all deterministic, matching the rest of this module's
# analyzer: lowercase, [a-z0-9] tokens):
#   term             — token match on the default/explicit field
#   "a phrase"       — adjacent tokens in order
#   field:value      — per-clause field override (also field:(sub query))
#   wild*card / wi?d — token-level wildcard terms
#   [lo TO hi] / {lo TO hi} — inclusive/exclusive ranges (numeric when
#                      both bounds parse as numbers, else lexicographic);
#                      * as an open bound
#   AND / OR / NOT, parentheses; bare juxtaposition = OR (Lucene's
#   default operator, which Atlas keeps)
# Rejected loudly: fuzzy (~), boosts (^n), regex (/.../)


def _qs_tokenize(q: str) -> list[str]:
    import re as _re

    # quoted phrases and ranges (each optionally field-prefixed) first —
    # they contain spaces, so the generic token class must not get a
    # chance to split them
    toks = _re.findall(
        r'[^\s()]*"[^"]*"'
        r"|[^\s()]*\[[^\]]*\]"
        r"|[^\s()]*\{[^}]*\}"
        r"|\(|\)|[^\s()]+", q)
    return [t for t in toks if t.strip()]


class _QsParser:
    def __init__(self, toks: list[str], default_path: str):
        self.toks = toks
        self.i = 0
        self.default_path = default_path

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self) -> dict:
        node = self.parse_or()
        if self.peek() is not None:
            raise ValueError(
                f"$search queryString: trailing input at {self.peek()!r}")
        return node

    def parse_or(self) -> dict:
        # bare juxtaposition = OR (Lucene's default operator); AND binds
        # tighter and is fully consumed inside parse_and
        parts = [self.parse_and()]
        while self.peek() is not None and self.peek() != ")":
            if self.peek() == "OR":
                self.next()
            parts.append(self.parse_and())
        return parts[0] if len(parts) == 1 else {"or": parts}

    def parse_and(self) -> dict:
        parts = [self.parse_not()]
        while self.peek() == "AND":
            self.next()
            parts.append(self.parse_not())
        return parts[0] if len(parts) == 1 else {"and": parts}

    def parse_not(self) -> dict:
        if self.peek() == "NOT":
            self.next()
            return {"not": self.parse_not()}
        return self.parse_unit(self.default_path)

    def parse_unit(self, path: str) -> dict:
        t = self.next()
        if t is None:
            raise ValueError("$search queryString: unexpected end of query")
        if t == "(":
            saved, self.default_path = self.default_path, path
            node = self.parse_or()
            self.default_path = saved
            if self.next() != ")":
                raise ValueError("$search queryString: missing ')'")
            return node
        # field:value / field:(...) — split on the first colon of an
        # unquoted token
        if not t.startswith('"') and ":" in t:
            field, rest = t.split(":", 1)
            if rest:
                self.toks.insert(self.i, rest)
            return self.parse_unit(field)
        for bad, what in (("~", "fuzzy"), ("^", "boost")):
            if not t.startswith('"') and bad in t:
                raise NotImplementedError(
                    f"$search queryString {what} ({t!r}) is not supported")
        if t.startswith('"'):
            return {"kind": "phrase", "path": path, "query": t.strip('"')}
        if (t.startswith("[") and t.endswith("]")) or (
                t.startswith("{") and t.endswith("}")):
            inner = t[1:-1].split()
            if len(inner) != 3 or inner[1].upper() != "TO":
                raise ValueError(
                    f"$search queryString: bad range {t!r} "
                    "(expected [lo TO hi])")
            return {"kind": "rangeq", "path": path, "lo": inner[0],
                    "hi": inner[2], "inclusive": t.startswith("[")}
        if "*" in t or "?" in t:
            return {"kind": "wildterm", "path": path, "term": t}
        return {"kind": "term", "path": path, "term": t}


def _qs_pred(node: dict, df: DataFrame) -> Column:
    import re as _re

    if "or" in node:
        out = None
        for sub in node["or"]:
            p = _qs_pred(sub, df)
            out = p if out is None else (out | p)
        return out
    if "and" in node:
        out = None
        for sub in node["and"]:
            p = _qs_pred(sub, df)
            out = p if out is None else (out & p)
        return out
    if "not" in node:
        return ~F.coalesce(_qs_pred(node["not"], df), F.lit(False))
    path = node["path"]
    col = compile_expr(f"${path}", ExprContext(schema=df.schema))
    if node["kind"] == "rangeq":
        lo, hi = node["lo"], node["hi"]

        def is_num(v: str) -> bool:
            try:
                float(v)
                return True
            except ValueError:
                return False

        # numeric compare only when EVERY closed bound is numeric; a
        # mixed/textual range compares lexicographically on the string
        # rendering (Lucene ranges are typed by the field; the literals
        # decide here)
        closed = [v for v in (lo, hi) if v != "*"]
        if not closed:
            raise ValueError(
                "$search queryString: range needs at least one bound")
        numeric = all(is_num(v) for v in closed)
        # try_cast: a string-typed field holding non-numeric values must
        # simply not match a numeric range (null compares null -> row
        # dropped), not throw under ANSI mode's strict string->double cast
        cmp_col = col.try_cast("double") if numeric else col.cast("string")
        mk = ((lambda v: F.lit(float(v))) if numeric
              else (lambda v: F.lit(v)))
        pred = col.isNotNull()
        for v, cmp_incl, cmp_excl in (
            (lo, lambda c, b: c >= b, lambda c, b: c > b),
            (hi, lambda c, b: c <= b, lambda c, b: c < b),
        ):
            if v == "*":
                continue
            pred = pred & (cmp_incl(cmp_col, mk(v)) if node["inclusive"]
                           else cmp_excl(cmp_col, mk(v)))
        return pred
    low = F.lower(col)
    if node["kind"] == "phrase":
        terms = _norm_terms(node["query"])
        if not terms:
            raise ValueError("$search queryString: empty phrase")
        pat = "[^a-z0-9]+".join(_re.escape(t) for t in terms)
        return col.isNotNull() & low.rlike(
            f"(^|[^a-z0-9])({pat})($|[^a-z0-9])")
    if node["kind"] == "wildterm":
        term = node["term"].lower()
        pat = "".join(
            "[a-z0-9]*" if ch == "*" else "[a-z0-9]" if ch == "?"
            else _re.escape(ch) for ch in term)
        return col.isNotNull() & low.rlike(f"(^|[^a-z0-9])({pat})($|[^a-z0-9])")
    terms = _norm_terms(node["term"])
    if not terms:
        raise ValueError(f"$search queryString: empty term {node['term']!r}")
    pred = col.isNotNull()
    for t in terms:
        pred = pred & low.rlike(f"(^|[^a-z0-9]){_re.escape(t)}($|[^a-z0-9])")
    return pred


def _embedded_pred(elem: Column, etype: T.StructType, op: str,
                   body: dict, root: str) -> Column:
    """Predicate of one $search operator evaluated against a single
    array ELEMENT (embeddedDocument).  Paths may be written Atlas-style
    (full, ``items.name``) or relative to the element (``name``)."""
    import re as _re

    def field(p: str) -> tuple[Column, Any]:
        if p.startswith(root + "."):
            p = p[len(root) + 1:]
        col: Column = elem
        dt: Any = etype
        for part in p.split("."):
            if not isinstance(dt, T.StructType) or part not in dt.fieldNames():
                return F.lit(None), None
            col = col.getField(part)
            dt = dt[part].dataType
        return col, dt

    def token_pred(col: Column, pattern: str) -> Column:
        return col.isNotNull() & F.lower(col).rlike(pattern)

    if op == "equals":
        col, _ = field(body["path"])
        return col.eqNullSafe(F.lit(body["value"]))
    if op == "exists":
        col, _ = field(body["path"])
        return col.isNotNull()
    if op == "range":
        col, _ = field(body["path"])
        pred = col.isNotNull()
        found = False
        for kw, mk in (("gt", lambda v: col > F.lit(v)),
                       ("gte", lambda v: col >= F.lit(v)),
                       ("lt", lambda v: col < F.lit(v)),
                       ("lte", lambda v: col <= F.lit(v))):
            if kw in body:
                found = True
                pred = pred & mk(body[kw])
        if not found:
            raise ValueError("$search range needs gt/gte/lt/lte")
        return pred
    if op == "text":
        # predicate form only: ANY analyzed query token matches (the
        # element-level BM25 score is index-internal)
        if "synonyms" in body or "fuzzy" in body:
            raise NotImplementedError(
                "$search text synonyms/fuzzy inside embeddedDocument are "
                "not supported — apply them on a top-level text clause")
        terms = _norm_terms(body["query"])
        if not terms:
            raise ValueError("$search text.query needs at least one term")
        col, _ = field(body["path"])
        pred = None
        for t in terms:
            m = token_pred(col, f"(^|[^a-z0-9]){_re.escape(t)}($|[^a-z0-9])")
            pred = m if pred is None else (pred | m)
        return pred
    if op == "phrase":
        terms = _norm_terms(body["query"])
        if not terms:
            raise ValueError("$search phrase.query needs at least one term")
        slop = int(body.get("slop", 0))
        gap = "[^a-z0-9]+" + (f"(?:[a-z0-9]+[^a-z0-9]+){{0,{slop}}}"
                              if slop else "")
        pat = gap.join(_re.escape(t) for t in terms)
        col, _ = field(body["path"])
        return token_pred(col, f"(^|[^a-z0-9])({pat})($|[^a-z0-9])")
    if op == "wildcard":
        glob = body["query"]
        pat = "".join("[\\s\\S]*" if ch == "*" else "[\\s\\S]"
                      if ch == "?" else _re.escape(ch) for ch in glob)
        col, _ = field(body["path"])
        return col.isNotNull() & col.rlike(f"^(?s)({pat})$")
    if op == "regex":
        col, _ = field(body["path"])
        return col.isNotNull() & col.rlike(f"^(?s)(?:{body['query']})$")
    if op == "compound":
        pred: Optional[Column] = F.lit(True)
        for kind in ("must", "filter"):
            for sub in body.get(kind, []):
                sop = next((k for k in sub if k in _SEARCH_OPS), None)
                if sop is None:
                    raise NotImplementedError(
                        f"$search embeddedDocument compound.{kind} "
                        f"operator {sorted(sub)}")
                pred = pred & _embedded_pred(elem, etype, sop, sub[sop], root)
        for sub in body.get("mustNot", []):
            sop = next((k for k in sub if k in _SEARCH_OPS), None)
            if sop is None:
                raise NotImplementedError(
                    f"$search embeddedDocument compound.mustNot "
                    f"operator {sorted(sub)}")
            pred = pred & ~F.coalesce(
                _embedded_pred(elem, etype, sop, sub[sop], root),
                F.lit(False))
        shoulds = body.get("should", [])
        if shoulds:
            min_should = int(body.get("minimumShouldMatch", 0))
            matched = None
            for sub in shoulds:
                sop = next((k for k in sub if k in _SEARCH_OPS), None)
                if sop is None:
                    raise NotImplementedError(
                        f"$search embeddedDocument compound.should "
                        f"operator {sorted(sub)}")
                m = F.when(
                    F.coalesce(_embedded_pred(elem, etype, sop, sub[sop],
                                              root), F.lit(False)),
                    1).otherwise(0)
                matched = m if matched is None else (matched + m)
            # same rule as the top-level compound: with no must/filter
            # clauses, at least one should clause has to match —
            # otherwise a should-only compound would be lit(True) and
            # exists() would match every non-empty array
            has_hard = bool(body.get("must") or body.get("filter"))
            need = max(min_should, 0 if has_hard else 1)
            if need:
                pred = pred & (matched >= F.lit(need))
        return pred
    raise NotImplementedError(
        f"$search {op!r} inside embeddedDocument is not supported "
        "(index-analyzer feature)"
    )


def _clause_score(body: dict, base: Column) -> Column:
    """Apply Atlas's `score: {constant: {value}} | {boost: {value}}`."""
    mod = body.get("score")
    if not mod:
        return base
    if "constant" in mod:
        return F.lit(float(mod["constant"]["value"]))
    if "boost" in mod:
        return base * F.lit(float(mod["boost"]["value"]))
    raise NotImplementedError(f"$search score modifier {sorted(mod)}")


def _norm_terms(query: str) -> list[str]:
    import re as _re

    return [t for t in _re.sub(r"[^a-z0-9 ]", " ", query.lower()).split()
            if t]


# ---------------------------------------------------------- geo helpers
#
# Shared with $geoNear and the $match query language's
# $geoWithin/$geoIntersects — implementations live in ..geo (pure
# Column math: haversine on the IUGG mean sphere, even-odd ray casting
# over literal rings; see that module's docstring for the planar
# approximation notes).

from ..geo import (geo_point as _geo_point,  # noqa: E402
                   haversine_m as _haversine_m,
                   lonlat_from_type as _lonlat_from_type,
                   point_in_geometry as _point_in_geometry)


def _geo_lonlat(df: DataFrame, path: str) -> tuple[Column, Column]:
    """Resolve a geo point field to ``(lon, lat)`` double columns.

    Accepted shapes: ``array<numeric>`` as ``[lon, lat]`` or a
    GeoJSON-style struct carrying a ``coordinates`` array field.
    """
    from ..paths import path_type

    dt = path_type(df.schema, split_path(path))
    if dt is None:
        raise ValueError(
            f"$search geo path {path!r} is not in the schema")
    col = compile_expr(f"${path}", ExprContext(schema=df.schema))
    return _lonlat_from_type(col, dt, f"$search geo path {path!r}")


def _synonym_groups(ctx: Optional["Context"], mapping: str,
                    query: str) -> list[list[str]]:
    """Expand the analyzed query tokens through an Atlas synonyms source
    collection (wired as ``Context.collections[mapping]`` — the engine's
    analog of the index's ``synonyms`` definition).  Docs follow Atlas's
    format: ``{mappingType: "equivalent", synonyms: [...]}`` matches any
    member of the group (the token included, it is in the list);
    ``{mappingType: "explicit", input: [...], synonyms: [...]}`` REWRITES
    an input token to the synonyms (it matches itself only if listed).
    The collection is metadata-sized (Atlas caps synonym collections) and
    collects once per compile — same class as the IVF quantizer sample."""
    if ctx is None:
        raise ValueError(
            "$search text.synonyms needs the synonyms source collection "
            "in Context.collections")
    rows = ctx.collection(mapping).collect()
    equiv: dict[str, set] = {}
    expl: dict[str, set] = {}

    def one_token(s: str, what: str) -> str:
        toks = _norm_terms(s)
        if len(toks) != 1:
            # Lucene handles phrase synonyms as a token GRAPH; a
            # flattened bag would match any single word of the phrase
            # (silent over-matching) — reject instead
            raise NotImplementedError(
                f"synonyms mapping {mapping!r}: multi-word {what} "
                f"{s!r} is not supported (single-token synonyms only)")
        return toks[0]

    for r in rows:
        d = r.asDict(recursive=True)
        mt = d.get("mappingType")
        syns = [one_token(s, "synonym") for s in d.get("synonyms") or []]
        if mt == "equivalent":
            for s in syns:
                equiv.setdefault(s, set()).update(syns)
        elif mt == "explicit":
            for inp in d.get("input") or []:
                # an explicit input with an empty synonyms list REWRITES
                # to nothing (matches no token) — distinct from "has no
                # mapping", which falls through to the literal token
                expl.setdefault(one_token(inp, "input"), set()).update(syns)
        else:
            raise ValueError(
                f"synonyms mapping {mapping!r}: mappingType must be "
                f"'equivalent' or 'explicit', got {mt!r}")

    def expand(tok: str) -> list[str]:
        if tok not in equiv and tok not in expl:
            return [tok]
        return sorted(equiv.get(tok, set()) | expl.get(tok, set()))

    return [expand(t) for t in _norm_terms(query)]


def _search_clause(df: DataFrame, op: str, body: dict, idx: list[int],
                   ctx: Optional["Context"] = None
                   ) -> tuple[DataFrame, Column, Column, list[str]]:
    """Compile one $search operator to (df', matched_pred, score,
    temp_cols_to_drop).  ``idx`` is a mutable counter making temp column
    names unique across nested compound clauses; ``ctx`` resolves
    ``text.synonyms`` source collections."""
    if op == "text":
        i = idx[0]
        idx[0] += 1
        if "synonyms" in body and "fuzzy" in body:
            raise ValueError(
                "$search text cannot combine fuzzy with synonyms "
                "(Atlas forbids it too)")
        groups = (_synonym_groups(ctx, body["synonyms"], body["query"])
                  if "synonyms" in body else None)
        df2, score, drops = _bm25_prepare(df, body["query"], body["path"],
                                          f"c{i}", groups=groups,
                                          fuzzy=body.get("fuzzy"))
        return df2, score > 0, _clause_score(body, score), drops
    if op == "phrase":
        paths = body["path"]
        if isinstance(paths, str):
            paths = [paths]
        terms = _norm_terms(body["query"])
        if not terms:
            raise ValueError("$search phrase.query needs at least one term")
        slop = int(body.get("slop", 0))
        import re as _re2

        gap = "[^a-z0-9]+" + (f"(?:[a-z0-9]+[^a-z0-9]+){{0,{slop}}}"
                              if slop else "")
        pat = gap.join(_re2.escape(t) for t in terms)
        # token-boundary anchors so "cat" never phrase-matches "catalog"
        pat = f"(^|[^a-z0-9])({pat})($|[^a-z0-9])"
        pred = None
        for p in paths:
            text = compile_expr(f"${p}", ExprContext(schema=df.schema))
            # isNotNull & rlike (not coalesce): the null guard stays a
            # plain conjunct so IsNotNull pushes into the parquet scan
            m = text.isNotNull() & F.lower(text).rlike(pat)
            pred = m if pred is None else (pred | m)
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "equals":
        col = compile_expr(f"${body['path']}",
                           ExprContext(schema=df.schema))
        pred = col.eqNullSafe(F.lit(body["value"]))
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "range":
        col = compile_expr(f"${body['path']}",
                           ExprContext(schema=df.schema))
        # isNotNull & bound (not coalesce-wrapped): plain conjuncts push
        # into the parquet scan (PushedFilters), a coalesce blocks it
        pred = col.isNotNull()
        found = False
        for kw, mk in (("gt", lambda v: col > F.lit(v)),
                       ("gte", lambda v: col >= F.lit(v)),
                       ("lt", lambda v: col < F.lit(v)),
                       ("lte", lambda v: col <= F.lit(v))):
            if kw in body:
                found = True
                pred = pred & mk(body[kw])
        if not found:
            raise ValueError("$search range needs gt/gte/lt/lte")
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "exists":
        col = compile_expr(f"${body['path']}",
                           ExprContext(schema=df.schema))
        return df, col.isNotNull(), _clause_score(body, F.lit(1.0)), []
    if op == "in":
        # {path, value: x | [xs]} — field equals any of the values;
        # array fields match on ANY element (Atlas `in` semantics)
        vals = body["value"]
        if not isinstance(vals, list):
            vals = [vals]
        if not vals:
            raise ValueError("$search in.value needs at least one value")
        col = compile_expr(f"${body['path']}",
                           ExprContext(schema=df.schema))
        dt: Any = df.schema
        for part in body["path"].split("."):
            dt = (dt[part].dataType
                  if isinstance(dt, T.StructType) and part in dt.fieldNames()
                  else None)
            if dt is None:
                break
        if isinstance(dt, T.ArrayType):
            lits = F.array(*[F.lit(v) for v in vals])
            pred = col.isNotNull() & F.arrays_overlap(col, lits)
        else:
            pred = col.isin(vals)
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "near":
        # {path, origin, pivot} over numbers/dates/geo points: matches
        # every doc with the field, scored pivot / (pivot + distance) —
        # Atlas's documented decay (|value - origin| for numbers,
        # seconds for dates, haversine metres for geo origins).
        origin = body.get("origin")
        pivot = float(body["pivot"])
        if pivot <= 0:
            raise ValueError("$search near.pivot must be positive")
        if isinstance(origin, (dict, list, tuple)):
            # geo origin: distance in METRES (haversine), pivot metres —
            # Atlas's documented geo near decay
            olon, olat = _geo_point(origin, "near.origin")
            lon, lat = _geo_lonlat(df, body["path"])
            dist = _haversine_m(lon, lat, olon, olat)
            score = F.lit(pivot) / (F.lit(pivot) + dist)
            return (df, lon.isNotNull() & lat.isNotNull(),
                    _clause_score(body, score), [])
        col = compile_expr(f"${body['path']}",
                           ExprContext(schema=df.schema))
        if isinstance(origin, (int, float)) and not isinstance(origin, bool):
            # try_cast: same ANSI-mode protection as the date path —
            # a non-numeric string value must not-match, not throw
            num = col.try_cast("double")
            o = F.lit(float(origin))
        elif isinstance(origin, str):
            # ISO date/timestamp origin; distance in MILLISECONDS, the
            # unit Atlas documents for date near pivots — a pivot
            # written for Atlas ports unchanged.  try_cast: a malformed
            # date string in ONE row must not-match, not abort the whole
            # query under ANSI mode
            num = col.try_cast("timestamp").cast("double") * F.lit(1000.0)
            o = F.to_timestamp(F.lit(origin)).cast("double") * F.lit(1000.0)
        else:
            raise NotImplementedError(
                "$search near origins: number, ISO date, [lon, lat] or "
                "GeoJSON Point"
            )
        dist = F.abs(num - o)
        score = F.lit(pivot) / (F.lit(pivot) + dist)
        # predicate on the CASTED value: a malformed date/number would
        # otherwise match with a null score
        return df, num.isNotNull(), _clause_score(body, score), []
    if op == "geoWithin":
        # {path, box | circle | geometry} — constant score like Atlas
        lon, lat = _geo_lonlat(df, body["path"])
        base = lon.isNotNull() & lat.isNotNull()
        if "box" in body:
            bl_lon, bl_lat = _geo_point(
                body["box"]["bottomLeft"], "geoWithin box.bottomLeft")
            tr_lon, tr_lat = _geo_point(
                body["box"]["topRight"], "geoWithin box.topRight")
            pred = (base & (lon >= F.lit(bl_lon)) & (lon <= F.lit(tr_lon))
                    & (lat >= F.lit(bl_lat)) & (lat <= F.lit(tr_lat)))
        elif "circle" in body:
            c = body["circle"]
            olon, olat = _geo_point(c["center"], "geoWithin circle.center")
            radius = float(c["radius"])
            if radius <= 0:
                raise ValueError("$search geoWithin circle.radius must be "
                                 "positive")
            pred = base & (_haversine_m(lon, lat, olon, olat)
                           <= F.lit(radius))
        elif "geometry" in body:
            pred = base & _point_in_geometry(lon, lat, body["geometry"])
        else:
            raise ValueError(
                "$search geoWithin needs box, circle or geometry")
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "geoShape":
        # {path, relation, geometry} over point fields: within and
        # intersects both reduce to point-in-geometry (boundary
        # containment differences are spherical-index details), disjoint
        # is its complement (still requiring the field), contains only
        # holds for an identical Point geometry.
        relation = body.get("relation")
        geom = body["geometry"]
        lon, lat = _geo_lonlat(df, body["path"])
        base = lon.isNotNull() & lat.isNotNull()
        if relation not in ("within", "intersects", "disjoint", "contains"):
            raise ValueError(
                "$search geoShape.relation must be "
                "within|intersects|disjoint|contains")
        if geom.get("type") == "Point":
            qlon, qlat = _geo_point(geom, "geoShape geometry")
            inside = (lon == F.lit(qlon)) & (lat == F.lit(qlat))
        elif relation == "contains":
            raise NotImplementedError(
                "$search geoShape contains over a point field can only "
                "contain a Point geometry")
        else:
            inside = _point_in_geometry(lon, lat, geom)
        pred = base & (~inside if relation == "disjoint" else inside)
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "moreLikeThis":
        # {like: doc | [docs]} — Atlas extracts representative terms
        # from the like documents and searches with them.  Deterministic
        # analog (Lucene's tf-idf term selection is index-internal):
        # every ANALYZED token of every string field that exists in the
        # schema becomes a per-field BM25 `text` clause, combined
        # compound-should — documents sharing more vocabulary with the
        # like docs score higher.  Like docs themselves are not
        # excluded (Atlas returns them too; follow with $match to drop).
        like = body["like"]
        docs_ = like if isinstance(like, list) else [like]
        if not docs_:
            raise ValueError("$search moreLikeThis.like needs a document")
        field_terms: dict[str, set] = {}

        def walk_like(d: Any, prefix: str) -> None:
            if isinstance(d, dict):
                for k, v in d.items():
                    walk_like(v, f"{prefix}.{k}" if prefix else k)
            elif isinstance(d, str):
                field_terms.setdefault(prefix, set()).update(_norm_terms(d))

        for d in docs_:
            if not isinstance(d, dict):
                raise ValueError(
                    "$search moreLikeThis.like entries must be documents")
            walk_like(d, "")

        def in_schema(p: str) -> bool:
            dt: Any = df.schema
            for part in p.split("."):
                if not isinstance(dt, T.StructType) or part not in dt.fieldNames():
                    return False
                dt = dt[part].dataType
            return isinstance(dt, T.StringType)

        shoulds = [
            {"text": {"query": " ".join(sorted(ts)), "path": p}}
            for p, ts in sorted(field_terms.items())
            if ts and in_schema(p)
        ]
        if not shoulds:
            raise ValueError(
                "$search moreLikeThis.like has no analyzable string "
                "field present in the schema"
            )
        df2, pred, score, drops = _search_clause(
            df, "compound", {"should": shoulds}, idx, ctx)
        return df2, pred, _clause_score(body, score), drops
    if op == "embeddedDocument":
        # {path, operator}: the operator must match within ONE array
        # element (Atlas's nested-document semantics — a `must` over
        # different elements does NOT match, unlike flattened fields).
        # Compiled to F.exists(array, elem -> pred): stays row-local,
        # no explode/regroup shuffle.  Scores are constant 1.0 like the
        # other non-text operators (Atlas's per-element Lucene scores
        # and score.embedded aggregates are index-internal).
        apath = body["path"]
        dt: Any = df.schema
        for part in apath.split("."):
            if not isinstance(dt, T.StructType) or part not in dt.fieldNames():
                raise ValueError(
                    f"$search embeddedDocument path {apath!r} is not in "
                    "the schema")
            dt = dt[part].dataType
        if not (isinstance(dt, T.ArrayType)
                and isinstance(dt.elementType, T.StructType)):
            raise ValueError(
                f"$search embeddedDocument path {apath!r} must be an "
                f"array of documents (got {dt.simpleString()})"
            )
        etype = dt.elementType
        arr = compile_expr(f"${apath}", ExprContext(schema=df.schema))
        inner = body["operator"]
        iop = next((k for k in inner if k in _SEARCH_OPS), None)
        if iop is None:
            raise NotImplementedError(
                f"$search embeddedDocument operator {sorted(inner)}: "
                f"supported operators are {sorted(_SEARCH_OPS)}"
            )
        pred = arr.isNotNull() & F.exists(
            arr, lambda e: _embedded_pred(e, etype, iop, inner[iop], apath)
        )
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "queryString":
        if "defaultPath" not in body:
            raise ValueError("$search queryString needs defaultPath")
        node = _QsParser(
            _qs_tokenize(body["query"]), body["defaultPath"]).parse()
        pred = _qs_pred(node, df)
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "autocomplete":
        # Atlas indexes edge-grams of each token: every ANALYZED query
        # token matches as a PREFIX of some document token.  tokenOrder
        # "any" (default): each prefix anywhere, any order (conjunction
        # of anchored regexes); "sequential": prefix-matched tokens
        # ADJACENT and in query order (one anchored regex).  `fuzzy` is
        # an index-analyzer feature with no deterministic analog here.
        if "fuzzy" in body:
            raise NotImplementedError(
                "$search autocomplete.fuzzy is not supported "
                "(edit-distance matching is an Atlas index feature)"
            )
        terms = _norm_terms(body["query"])
        if not terms:
            raise ValueError(
                "$search autocomplete.query needs at least one term")
        order = body.get("tokenOrder", "any")
        if order not in ("any", "sequential"):
            raise ValueError(
                f"$search autocomplete.tokenOrder must be any or "
                f"sequential, got {order!r}"
            )
        import re as _re4

        col = compile_expr(f"${body['path']}",
                           ExprContext(schema=df.schema))
        low = F.lower(col)
        if order == "sequential":
            pat = "(^|[^a-z0-9])" + "[a-z0-9]*[^a-z0-9]+".join(
                _re4.escape(t) for t in terms)
            pred = col.isNotNull() & low.rlike(pat)
        else:
            pred = col.isNotNull()
            for t in terms:
                pred = pred & low.rlike(f"(^|[^a-z0-9]){_re4.escape(t)}")
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "wildcard":
        import re as _re3

        glob = body["query"]
        pat = "".join("[\\s\\S]*" if ch == "*" else "[\\s\\S]"
                      if ch == "?" else _re3.escape(ch) for ch in glob)
        col = compile_expr(f"${body['path']}",
                           ExprContext(schema=df.schema))
        pred = col.isNotNull() & col.rlike(f"^(?s)({pat})$")
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "regex":
        # {path, query}: regular expression matched against the ENTIRE
        # field value (Atlas regex semantics — wildcard's sibling).
        # Java regex is a practical superset of Lucene's regexp syntax;
        # Lucene-only operators (`~` interval, `@` any-string) are not
        # translated.
        col = compile_expr(f"${body['path']}",
                           ExprContext(schema=df.schema))
        pred = col.isNotNull() & col.rlike(f"^(?s)(?:{body['query']})$")
        return df, pred, _clause_score(body, F.lit(1.0)), []
    if op == "compound":
        out = df
        drops: list[str] = []
        musts: list[tuple[Column, Column]] = []
        shoulds: list[tuple[Column, Column]] = []
        must_nots: list[Column] = []
        filters: list[Column] = []
        for kind in ("must", "should", "mustNot", "filter"):
            for sub in body.get(kind, []):
                sub_op = next((k for k in sub if k in _SEARCH_OPS), None)
                if sub_op is None:
                    raise NotImplementedError(
                        f"$search compound.{kind} operator "
                        f"{sorted(sub)}: supported operators are "
                        f"{sorted(_SEARCH_OPS)}"
                    )
                out, pred, score, d = _search_clause(out, sub_op,
                                                     sub[sub_op], idx, ctx)
                drops += d
                if kind == "must":
                    musts.append((pred, score))
                elif kind == "should":
                    shoulds.append((pred, score))
                elif kind == "mustNot":
                    must_nots.append(pred)
                else:
                    filters.append(pred)
        pred = F.lit(True)
        for p, _ in musts:
            pred = pred & p
        for p in filters:
            pred = pred & p
        for p in must_nots:
            pred = pred & ~p
        min_should = int(body.get("minimumShouldMatch", 0))
        if shoulds:
            matched = sum(
                (F.when(p, 1).otherwise(0) for p, _ in shoulds),
                start=F.lit(0),
            )
            # Atlas: with no must/filter clauses at least one should
            # clause has to match
            need = max(min_should, 1 if not musts and not filters else 0)
            if need:
                pred = pred & (matched >= F.lit(need))
        score = sum(
            (F.when(p, s).otherwise(F.lit(0.0)) for p, s in musts + shoulds),
            start=F.lit(0.0),
        )
        # a pure-filter compound still emits score 1 for matched docs
        if not musts and not shoulds:
            score = F.lit(1.0)
        return out, pred, _clause_score(body, score), drops
    raise NotImplementedError(f"$search operator {op!r}")


def _q_sql(t: str) -> str:
    return "'" + t.replace("'", "''") + "'"


def _fuzzy_params(term: str, fuzzy: dict) -> tuple[int, str]:
    """Validate a fuzzy spec against one term: returns (maxEdits,
    required literal prefix).  ``prefixLength`` caps at the term length
    (Lucene: the non-fuzzy prefix is the first ``prefixLength`` chars
    OF THE TERM — a longer candidate still matches when it starts with
    that prefix).  ``maxExpansions`` is an index-side cap and is
    accepted/ignored.  Single source of truth for both the BM25 SQL
    slots and the $searchMeta Column predicate — the rowset and the
    count must stay in lockstep."""
    k = int(fuzzy.get("maxEdits", 2))
    if k not in (1, 2):
        raise ValueError("$search fuzzy.maxEdits must be 1 or 2")
    pl = min(int(fuzzy.get("prefixLength", 0)), len(term))
    return k, term[:pl]


def _transposed_variants(term: str, k: int) -> tuple[list[str], list[str]]:
    """(T1, T2): ``term`` with one adjacent transposition applied; with
    two DISJOINT adjacent transpositions (k=2 only).  Swaps of equal
    characters are no-ops and skipped.  Because the query term is a
    compile-time literal, Damerau's transposition-as-one-edit composes
    into plain ``levenshtein`` calls (see :func:`_fuzzy_cond`)."""
    t1 = []
    for i in range(len(term) - 1):
        if term[i] != term[i + 1]:
            t1.append(term[:i] + term[i + 1] + term[i] + term[i + 2:])
    t2 = []
    if k >= 2:
        for i in range(len(term) - 1):
            if term[i] == term[i + 1]:
                continue
            vi = term[:i] + term[i + 1] + term[i] + term[i + 2:]
            for j in range(i + 2, len(term) - 1):
                if vi[j] != vi[j + 1]:
                    t2.append(vi[:j] + vi[j + 1] + vi[j] + vi[j + 2:])
    return list(dict.fromkeys(t1)), list(dict.fromkeys(t2))


def _osa2_parts(term: str):
    """Compile-time pieces of the EXACT ``osa(term, t) <= 2`` predicate
    (r7 — closes the r6 over-match where a second edit landed inside
    the transposed pair).  OSA alignments of cost <= 2 split by how
    many transpositions they use:

    - 0: plain ``levenshtein(t, term) <= 2``;
    - 2: both edits are disjoint transpositions, rest equal -> ``t``
      IS a two-swap literal (T2);
    - 1: the reversed pair sits intact in ``t`` and the one remaining
      edit is DISJOINT from it.  Relative to the one-swap variant
      ``vi`` (swap at 0-based ``i``, pair ``sw = vi[i:i+2]``):
      a deletion outside the pair is a LITERAL (enumerable); a
      substitution keeps length and the pair at ``i``; an insertion
      grows length by one and leaves the pair intact at ``i`` (insert
      after it, prefix preserved) or at ``i+1`` (insert before it,
      suffix preserved).  An edit INSIDE the pair fails these context
      checks — and any string reachable that way is either reachable
      by a disjoint path too (duplicate-char ambiguity) or genuinely
      OSA 3 (e.g. term "ab", t "bxa").  Verified exhaustively against
      the OSA DP over small alphabets (test_search_fuzzy_max_edits_2_
      exact_osa).

    Returns ``(variants, extra_literals)`` with ``variants`` =
    ``[(i, vi, sw)]`` and ``extra_literals`` = outside-pair deletions
    ∪ T2 — renderable to SQL and to Columns from the same data so the
    BM25 rowset and the $searchMeta count cannot drift."""
    L = len(term)
    variants = []
    dels: set = set()
    for i in range(L - 1):
        if term[i] == term[i + 1]:
            continue
        vi = term[:i] + term[i + 1] + term[i] + term[i + 2:]
        variants.append((i, vi, vi[i:i + 2]))
        for p in range(L):
            if p not in (i, i + 1):
                dels.add(vi[:p] + vi[p + 1:])
    _, t2 = _transposed_variants(term, 2)
    return variants, sorted(dels | set(t2))


def _fuzzy_cond(term: str, fuzzy: dict) -> str:
    """SQL token predicate (over the variable ``t``) for one fuzzy term
    slot: Damerau-Levenshtein within ``maxEdits`` (Lucene counts an
    adjacent TRANSPOSITION as one edit), sharing the literal prefix
    from :func:`_fuzzy_params`.  The term is a literal, so Damerau
    unrolls exactly: DL <= 1 iff lev <= 1 or t equals a one-swap
    variant; DL <= 2 via the :func:`_osa2_parts` decomposition.  Both
    maxEdits levels are now EXACT Lucene (OSA) semantics —
    differential-tested against an OSA DP, exhaustively over small
    alphabets at k=2 (r7; the r6 inside-the-pair over-match is
    closed)."""
    k, prefix = _fuzzy_params(term, fuzzy)
    parts = [f"levenshtein(t, {_q_sql(term)}) <= {k}"]
    if k == 1:
        t1, _ = _transposed_variants(term, k)
        if t1:
            parts.append(
                "t IN (" + ", ".join(_q_sql(v) for v in t1) + ")")
    else:
        L = len(term)
        variants, lits = _osa2_parts(term)
        for i, vi, sw in variants:
            sub_c = (f"(length(t) = {L} AND "
                     f"substring(t, {i + 1}, 2) = {_q_sql(sw)})")
            ins_c = (f"(length(t) = {L + 1} AND ("
                     f"(substring(t, 1, {i}) = {_q_sql(vi[:i])} AND "
                     f"substring(t, {i + 1}, 2) = {_q_sql(sw)}) OR "
                     f"(substring(t, {i + 2}, 2) = {_q_sql(sw)} AND "
                     f"substring(t, {i + 4}, {max(L - i - 2, 0)}) = "
                     f"{_q_sql(vi[i + 2:])})))")
            parts.append(f"(levenshtein(t, {_q_sql(vi)}) <= 1 AND "
                         f"({sub_c} OR {ins_c}))")
        if lits:
            parts.append(
                "t IN (" + ", ".join(_q_sql(v) for v in lits) + ")")
    cond = "(" + " OR ".join(parts) + ")"
    if prefix:
        cond += (f" AND substring(t, 1, {len(prefix)}) = "
                 f"{_q_sql(prefix)}")
    return cond


def _bm25_prepare(df: DataFrame, query: str, paths: Any, tag: str,
                  groups: Optional[list[list[str]]] = None,
                  fuzzy: Optional[dict] = None
                  ) -> tuple[DataFrame, Column, list[str]]:
    """Shared BM25 scoring prep (k1=1.2, b=0.75): adds per-path tf/dl
    temp columns + a broadcast single-row stats join; returns (df',
    score_col, temp_cols).

    ``groups`` (the synonyms path) replaces each analyzed query term
    with an expansion GROUP: a group's tf counts tokens matching ANY
    member (Lucene's query-time synonym graph folds synonyms into one
    term position), and its document frequency counts documents
    containing any member — one BM25 term slot per group.  ``fuzzy``
    (mutually exclusive with groups, as in Atlas) widens each term slot
    to tokens within ``maxEdits`` Levenshtein edits."""
    from ..functions.dp_retrieval import bm25_term_sql

    if isinstance(paths, str):
        paths = [paths]
    if groups is None:
        groups = [[t] for t in _norm_terms(query)]
    terms = groups
    if not terms:
        raise ValueError("$search text.query needs at least one term")
    k1, b = 1.2, 0.75

    def slot_cond(grp: list[str]) -> str:
        """Boolean SQL over the token variable ``t`` for one term slot."""
        if not grp:
            # an explicit synonym mapping rewrote the term to nothing:
            # the slot matches no token (tf 0, df 0)
            return "false"
        if fuzzy is not None:
            return " OR ".join(f"({_fuzzy_cond(t, fuzzy)})" for t in grp)
        if len(grp) == 1:
            return f"t = {_q_sql(grp[0])}"
        return "array_contains(array(" + ", ".join(
            _q_sql(t) for t in grp) + "), t)"

    out = df
    for pi, p in enumerate(paths):
        text = compile_expr(f"${p}", ExprContext(schema=df.schema))
        toks = F.coalesce(
            F.filter(F.split(F.lower(text), "[^a-z0-9]+"),
                     lambda t: t != ""),
            F.array().cast("array<string>"),
        )
        tf_sql = ", ".join(
            f"cast(size(filter(`__s_{tag}_toks{pi}`, "
            f"t -> {slot_cond(grp)})) as double)"
            for grp in terms)
        out = out.withColumn(f"__s_{tag}_toks{pi}", toks).withColumn(
            f"__s_{tag}_tfs{pi}", F.expr(f"array({tf_sql})"),
        ).withColumn(
            f"__s_{tag}_dl{pi}",
            F.expr(f"cast(size(`__s_{tag}_toks{pi}`) as double)"),
        ).drop(f"__s_{tag}_toks{pi}")
    stats = out.groupBy().agg(
        F.expr("cast(count(1) as double)").alias(f"__s_{tag}_n"),
        *[F.expr(f"avg(__s_{tag}_dl{pi})").alias(f"__s_{tag}_avgdl{pi}")
          for pi in range(len(paths))],
        *[
            F.expr(
                f"sum(cast(__s_{tag}_tfs{pi}[{i}] > 0 as double))"
            ).alias(f"__s_{tag}_df{pi}_{i}")
            for pi in range(len(paths))
            for i in range(len(terms))
        ],
    )
    out = out.crossJoin(F.broadcast(stats))
    score_sql = " + ".join(
        bm25_term_sql(f"__s_{tag}_tfs{pi}[{i}]", f"__s_{tag}_df{pi}_{i}",
                      f"__s_{tag}_n", f"__s_{tag}_dl{pi}",
                      f"__s_{tag}_avgdl{pi}", k1, b)
        for pi in range(len(paths))
        for i in range(len(terms))
    )
    drops = (
        [f"__s_{tag}_n"]
        + [f"__s_{tag}_avgdl{pi}" for pi in range(len(paths))]
        + [f"__s_{tag}_df{pi}_{i}" for pi in range(len(paths))
           for i in range(len(terms))]
        + [f"__s_{tag}_tfs{pi}" for pi in range(len(paths))]
        + [f"__s_{tag}_dl{pi}" for pi in range(len(paths))]
    )
    return out, F.expr(f"0.0D + {score_sql}"), drops


@register_stage("$search", "batch")
def search_stage(expression: Any, ctx: Context) -> StageFn:
    """``{index?, <operator>: {...}}`` — the Atlas $search surface:
    ``text`` (BM25-scored, k1=1.2, b=0.75; ``synonyms: "name"`` expands
    query tokens through an Atlas-format mapping collection wired as
    ``Context.collections[name]`` — equivalent groups match any member,
    explicit mappings rewrite input tokens one-directionally, and each
    expansion group scores as ONE BM25 term slot, Lucene's query-time
    synonym-graph behavior), ``phrase``, ``equals``,
    ``range``, ``exists``, ``wildcard``, ``regex`` (whole-value
    regular-expression match), ``autocomplete``
    (token-prefix matching, tokenOrder any|sequential), ``queryString``
    (the Lucene-syntax subset: AND/OR/NOT, field:value, phrases, token
    wildcards, ranges), ``embeddedDocument`` (single-array-element
    nested matching via row-local exists), ``moreLikeThis`` (like-doc
    vocabulary as per-field BM25 should-clauses), ``in``, ``near``
    (numeric/ISO-date/geo-point pivot decay; date distances and
    pivots are in MILLISECONDS and geo in METRES, Atlas's documented
    units — numeric origins use the field's own scale), ``geoWithin``
    (box/circle/GeoJSON Polygon/MultiPolygon over ``[lon, lat]`` or
    GeoJSON point columns), ``geoShape``
    (within/intersects/disjoint/contains over point fields), and
    ``compound`` (must/mustNot/should/filter, minimumShouldMatch).
    Emits every document with a positive score ordered by score
    descending; compose with ``$limit`` for top-k (collapses to
    TakeOrderedAndProject).  The Atlas ``sort`` option replaces
    relevance order with field order (``{field: 1|-1}``, and
    ``{x: {"$meta": "searchScore"}}`` mixes the score back in; score
    desc remains the final tie-break).  Non-text operators score a deterministic
    constant 1.0 (Atlas's Lucene scores are index-internal; ``near``
    scores its documented pivot/(pivot+distance) decay), overridable
    per clause via Atlas's ``score: {constant|boost}`` modifiers.

    Geo semantics are computed from the COLUMN, not a 2dsphere index:
    distances are haversine on the IUGG mean sphere (Lucene's
    constant), and polygon containment is even-odd ray casting on the
    lon/lat PLANE — a planar approximation of the index's spherical
    polygons that is exact for ``box`` and diverges only for rings
    spanning large arcs, the antimeridian, or a pole.

    ``phrase.slop`` is an IN-ORDER, PER-GAP approximation: each gap
    between consecutive phrase terms admits up to ``slop`` filler
    tokens, and terms never reorder.  Lucene's sloppy phrase instead
    shares one edit-distance budget across the whole phrase and permits
    transpositions at slop >= 2 — so multi-term phrases with slop > 0
    can over-match in-order documents (every gap gets the full budget)
    and under-match reordered ones.  Single-gap (two-term) phrases and
    slop=0 are exact."""
    op = next((k for k in expression if k in _SEARCH_OPS), None)
    if op is None:
        raise NotImplementedError(
            f"$search supports {sorted(_SEARCH_OPS)}"
        )
    spec = expression[op]
    if not isinstance(spec, dict):
        raise ValueError(f"$search {op} takes an options document")
    if op == "text" and not _norm_terms(spec.get("query", "")):
        raise ValueError("$search text.query needs at least one term")
    sort = expression.get("sort")
    if sort is not None and (not isinstance(sort, dict) or not sort):
        raise ValueError("$search sort takes a non-empty sort document")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        out, pred, score, drops = _search_clause(df, op, spec, [0], c)
        # filter on the raw predicate FIRST: a plain boolean conjunction
        # splits into conjuncts and the pushable ones (range bounds,
        # null guards, equals) reach the parquet scan; scoring runs on
        # the survivors only
        scored = out.filter(pred).withColumn(SSCORE, score)
        if sort:
            # Atlas `sort` option: field order instead of relevance;
            # {"field": 1|-1} plus {"x": {"$meta": "searchScore"}} to
            # mix the score back in; score desc stays the tie-break
            order = []
            for fname, sdir in sort.items():
                if isinstance(sdir, dict):
                    if sdir.get("$meta") != "searchScore":
                        raise ValueError(
                            "$search sort values are 1, -1 or "
                            "{$meta: searchScore}")
                    order.append(F.col(SSCORE).desc())
                elif sdir in (1, -1):
                    fc = F.col(fname)
                    order.append(fc.asc() if sdir == 1 else fc.desc())
                else:
                    raise ValueError(
                        "$search sort values are 1, -1 or "
                        "{$meta: searchScore}")
            # score desc then first column: the same deterministic
            # tie-break as relevance order, so $limit top-k is stable
            order += [F.col(SSCORE).desc(), F.col(df.columns[0])]
        else:
            order = [F.col(SSCORE).desc(), F.col(df.columns[0])]
        return (
            scored.filter(F.col(SSCORE) > 0)
            .drop(*drops)
            .orderBy(*order)
        )

    return fn


def _text_match_pred(df: DataFrame, spec: dict,
                     ctx: Optional["Context"] = None) -> Column:
    """Fast membership filter for a text clause: a document counts iff
    ANY path contains ANY query term — the BM25 score is positive
    exactly then, so counting needs only tokenize + overlap, not the
    full scoring plan."""
    paths = spec["path"]
    if isinstance(paths, str):
        paths = [paths]
    if "synonyms" in spec and "fuzzy" in spec:
        raise ValueError(
            "$search text cannot combine fuzzy with synonyms "
            "(Atlas forbids it too)")
    if "synonyms" in spec:
        if not _norm_terms(spec["query"]):
            raise ValueError(
                "$searchMeta text.query needs at least one term")
        terms = sorted({t for grp in _synonym_groups(
            ctx, spec["synonyms"], spec["query"]) for t in grp})
        if not terms:
            # every query term rewrote to nothing — matches no document
            return F.lit(False)
    else:
        terms = _norm_terms(spec["query"])
    if not terms:
        raise ValueError("$searchMeta text.query needs at least one term")
    fuzzy = spec.get("fuzzy")
    tlit = F.array(*[F.lit(t) for t in terms])

    def tok_hit(t: Column) -> Column:
        """fuzzy membership: the token is within maxEdits of ANY term
        (parameters from _fuzzy_params, Damerau variants from
        _transposed_variants — the BM25 slots' source of truth, so
        count and rowset cannot drift)."""
        hit = None
        for term in terms:
            k, prefix = _fuzzy_params(term, fuzzy)
            c = F.levenshtein(t, F.lit(term)) <= k
            if k == 1:
                t1, _ = _transposed_variants(term, k)
                if t1:
                    c = c | t.isin(*t1)
            else:
                L = len(term)
                variants, lits = _osa2_parts(term)
                for i, vi, sw in variants:
                    sub_c = ((F.length(t) == L)
                             & (F.substring(t, i + 1, 2) == F.lit(sw)))
                    ins_c = ((F.length(t) == L + 1) & (
                        ((F.substring(t, 1, i) == F.lit(vi[:i]))
                         & (F.substring(t, i + 1, 2) == F.lit(sw)))
                        | ((F.substring(t, i + 2, 2) == F.lit(sw))
                           & (F.substring(t, i + 4, max(L - i - 2, 0))
                              == F.lit(vi[i + 2:])))))
                    c = c | ((F.levenshtein(t, F.lit(vi)) <= 1)
                             & (sub_c | ins_c))
                if lits:
                    c = c | t.isin(*lits)
            if prefix:
                c = c & (F.substring(t, 1, len(prefix)) == F.lit(prefix))
            hit = c if hit is None else (hit | c)
        return hit

    match = None
    for p in paths:
        text = compile_expr(f"${p}", ExprContext(schema=df.schema))
        toks = F.coalesce(
            F.filter(
                F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != ""
            ),
            F.array().cast("array<string>"),
        )
        m = (F.exists(toks, tok_hit) if fuzzy is not None
             else F.arrays_overlap(toks, tlit))
        match = m if match is None else (match | m)
    return match


def _meta_filtered(df: DataFrame, expression: dict,
                   ctx: Optional["Context"] = None) -> DataFrame:
    """The documents the equivalent $search would return."""
    op = next((k for k in expression if k in _SEARCH_OPS), None)
    if op is None:
        return df  # facet form without an operator counts everything
    if op == "text":
        return df.filter(_text_match_pred(df, expression[op], ctx))
    out, pred, _score, drops = _search_clause(df, op, expression[op], [0],
                                              ctx)
    out = out.filter(pred)
    return out.drop(*drops) if drops else out


def _facet_bucket_col(df: DataFrame, name: str, spec: dict) -> DataFrame:
    """One facet -> a single-row DataFrame with column ``name`` holding
    the ordered ``[{_id, count}]`` bucket array."""
    ftype = spec.get("type", "string")
    path = spec["path"]
    col = compile_expr(f"${path}", ExprContext(schema=df.schema))
    if ftype == "string":
        n = int(spec.get("numBuckets", 10))
        counts = (
            df.filter(col.isNotNull())
            .groupBy(col.alias("_id"))
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.col("count").desc(), F.col("_id"))
            .limit(n)
        )
    elif ftype in ("number", "date"):
        bounds = spec["boundaries"]
        if len(bounds) < 2 or sorted(bounds) != list(bounds):
            raise ValueError(f"facet {name}: boundaries must be ordered")
        default = spec.get("default")
        # Atlas's `default` is a STRING bucket name next to numeric/date
        # boundary ids; one Spark column holds one type, so when a
        # default is present every bucket _id is rendered as a string
        # (boundary values via CAST, the default verbatim).  A separate
        # ordinal keeps boundary order with the default bucket LAST —
        # never a lexicographic sort over the mixed renderings.
        bucket = None
        ordinal = None
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            clause = (col >= F.lit(lo)) & (col < F.lit(hi))
            bid = (F.lit(lo).cast("string") if default is not None
                   else F.lit(lo))
            bucket = (F.when(clause, bid) if bucket is None
                      else bucket.when(clause, bid))
            ordinal = (F.when(clause, F.lit(i)) if ordinal is None
                       else ordinal.when(clause, F.lit(i)))
        if default is not None:
            if not isinstance(default, str):
                raise ValueError(
                    f"facet {name}: default must be a string bucket name"
                )
            bucket = bucket.otherwise(F.lit(default))
            ordinal = ordinal.otherwise(F.lit(len(bounds)))
        else:
            ordinal = ordinal.otherwise(F.lit(None))
        counts = (
            # a missing/null path is not faceted at all — `default`
            # catches out-of-boundary VALUES, not absent fields
            df.filter(col.isNotNull())
            .withColumn("__fb", bucket).withColumn("__fo", ordinal)
            .filter(F.col("__fb").isNotNull())
            .groupBy(F.col("__fb").alias("_id"))
            .agg(F.count(F.lit(1)).alias("count"),
                 F.min("__fo").alias("__fo"))
            .orderBy(F.col("__fo"))
        )
    else:
        raise NotImplementedError(f"facet type {ftype!r}")
    # deterministic in-array order: count desc then _id for string
    # facets, boundary order for numeric — encoded in the sort key
    if ftype == "string":
        keyed = F.struct((-F.col("count")).alias("__k1"),
                         F.col("_id").alias("__k2"),
                         F.struct("_id", "count").alias("__b"))
    else:
        keyed = F.struct(F.col("__fo").alias("__k1"),
                         F.lit(0).alias("__k2"),
                         F.struct("_id", "count").alias("__b"))
    return counts.agg(
        F.transform(
            F.sort_array(F.collect_list(keyed)), lambda s: s["__b"]
        ).alias(name)
    )


@register_stage("$searchMeta", "batch")
def search_meta_stage(expression: Any, ctx: Context) -> StageFn:
    """``{index?, <operator>: {...}, count?: {type}}`` or the facet form
    ``{facet: {operator?: {...}, facets: {name: {type, path, ...}}}}`` —
    Atlas $searchMeta: ONE row with ``count.total`` (always exact;
    Atlas's lowerBound is an index-internal shortcut) and, in the facet
    form, ``facet.<name>.buckets`` arrays.  String facets emit the top
    ``numBuckets`` (default 10) values by count; number/date facets
    bucket by ``boundaries`` with an optional ``default`` catch-all.
    All $search operators work as the filter."""
    cnt = expression.get("count", {})
    if not isinstance(cnt, dict):
        raise ValueError("$searchMeta count takes an options document")
    if cnt.get("type", "total") not in ("total", "lowerBound"):
        raise ValueError(
            f"$searchMeta count.type must be total or lowerBound, "
            f"got {cnt.get('type')!r}"
        )
    facet = expression.get("facet")
    if facet is None:
        op = next((k for k in expression if k in _SEARCH_OPS), None)
        if op is None:
            raise NotImplementedError(
                f"$searchMeta needs one of {sorted(_SEARCH_OPS)} or facet"
            )

    def fn(df: DataFrame, c: Context) -> DataFrame:
        if facet is None:
            filt = _meta_filtered(df, expression, c)
            return filt.groupBy().agg(
                F.count(F.lit(1)).alias("__n")
            ).select(F.struct(F.col("__n").alias("total")).alias("count"))
        filt = _meta_filtered(df, facet.get("operator", {}), c)
        total = filt.groupBy().agg(F.count(F.lit(1)).alias("__n"))
        out = total
        names = []
        for name, spec in facet["facets"].items():
            names.append(name)
            out = out.crossJoin(
                F.broadcast(_facet_bucket_col(filt, name, spec))
            )
        return out.select(
            F.struct(F.col("__n").alias("total")).alias("count"),
            F.struct(*[
                F.struct(F.col(n).alias("buckets")).alias(n) for n in names
            ]).alias("facet"),
        )

    return fn


@register_stage("$geoNear", "batch")
def geo_near_stage(expression: Any, ctx: Context) -> StageFn:
    """MongoDB-core ``$geoNear``: ``{near, distanceField, key, query?,
    minDistance?, maxDistance?, distanceMultiplier?, includeLocs?,
    spherical?}`` — nearest-first emission with the computed distance
    written to ``distanceField``.

    Reference parity notes (Mongo's stage is 2dsphere-index-backed):
    ``key`` is REQUIRED here — with no index there is nothing to infer
    the geo field from; distances are spherical metres (haversine, IUGG
    mean sphere) regardless of ``spherical`` — the legacy planar 2d
    mode is not reproduced; documents whose geo field is null/missing
    drop, as the index scan would skip them.

    100 TB shape: distance is row-local column arithmetic against a
    literal origin; ``query``/min/max filters stay plain conjuncts
    (pushdown candidates); the only wide operation is the nearest-first
    global sort, which collapses to TakeOrderedAndProject under a
    following ``$limit``.
    """
    near = expression["near"]
    dist_field = expression["distanceField"]
    key = expression.get("key")
    if not key:
        raise ValueError(
            "$geoNear needs `key` (no 2dsphere index to infer the geo "
            "field from)")
    query = expression.get("query")
    min_d = expression.get("minDistance")
    max_d = expression.get("maxDistance")
    mult = float(expression.get("distanceMultiplier", 1.0))
    if mult < 0:
        # Mongo rejects it too; silently sorting ascending on negated
        # distances would emit farthest-first
        raise ValueError("$geoNear distanceMultiplier must be nonnegative")
    include_locs = expression.get("includeLocs")
    olon, olat = _geo_point(near, "geoNear.near")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from ..paths import set_path

        lon, lat = _geo_lonlat(df, key)
        dist = _haversine_m(lon, lat, olon, olat)
        pred = lon.isNotNull() & lat.isNotNull()
        if query:
            pred = pred & compile_match(query, ExprContext(schema=df.schema))
        if min_d is not None:
            pred = pred & (dist >= F.lit(float(min_d)))
        if max_d is not None:
            pred = pred & (dist <= F.lit(float(max_d)))
        out = df.filter(pred)
        out = set_path(out, dist_field,
                       dist * F.lit(mult) if mult != 1.0 else dist)
        if include_locs:
            out = set_path(
                out, include_locs,
                compile_expr(f"${key}", ExprContext(schema=df.schema)))
        return out.orderBy(nested_col(split_path(dist_field)).asc())

    return fn
