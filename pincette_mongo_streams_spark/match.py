"""MongoDB query-language compiler: query document -> boolean pyspark Column.

The reference delegates to ``net.pincette.mongo.Match.predicate(query,
features)`` (reference Match.java:4,26); the contract is MongoDB's public
query-operator semantics: implicit equality ``{field: value}``, comparison
``$eq $ne $gt $gte $lt $lte``, membership ``$in $nin``, logical
``$and $or $nor $not``, element ``$exists $type``, evaluation
``$mod $regex $expr $sampleRate``, array ``$all $elemMatch $size``.

Everything compiles to a native Catalyst boolean Column, so ``$match``
stages become plain ``df.filter(...)`` that Catalyst pushes down to the
parquet scan (SURVEY.md §2.3b).

Fixed-schema deviations (documented): ``$exists: false`` on a field that is
in the schema means "is null"; absent-from-schema fields are uniformly
"missing".
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import features
from .expressions import ExprContext, _lit_deep, truthy_expr
from .paths import split_path

_FIELD_OPS = {
    "$eq",
    "$ne",
    "$gt",
    "$gte",
    "$lt",
    "$lte",
    "$in",
    "$nin",
    "$exists",
    "$type",
    "$mod",
    "$regex",
    "$options",
    "$all",
    "$elemMatch",
    "$size",
    "$not",
    "$bitsAllSet",
    "$bitsAnySet",
    "$bitsAllClear",
    "$bitsAnyClear",
    "$geoWithin",
    "$geoIntersects",
}


def _bitmask(arg: Any) -> int:
    """A $bits* operand: numeric mask, or a list of bit positions."""
    if isinstance(arg, list):
        mask = 0
        for pos in arg:
            mask |= 1 << int(pos)
        return mask
    return int(arg)


def compile_match(query: dict, ctx: ExprContext) -> Column:
    """Compile a Mongo query document to a boolean Column."""
    preds: list[Column] = []
    for key, value in query.items():
        if key == "$and":
            preds.append(_fold_and([compile_match(q, ctx) for q in value]))
        elif key == "$or":
            preds.append(_fold_or([compile_match(q, ctx) for q in value]))
        elif key == "$nor":
            preds.append(~_fold_or([compile_match(q, ctx) for q in value]))
        elif key == "$expr":
            preds.append(truthy_expr(value, ctx))
        elif key == "$sampleRate":
            # Bernoulli sample: keep each document independently with
            # probability `value` (Mongo $sampleRate).
            if not isinstance(value, (int, float)) or not 0 <= value <= 1:
                raise ValueError("$sampleRate needs a number in [0, 1]")
            preds.append(F.rand() < F.lit(float(value)))
        elif key == "$jsonSchema":
            preds.append(_json_schema_root(value, ctx))
        elif key == "$text":
            preds.append(_text_predicate(value, ctx))
        elif key == "$comment":
            continue  # metadata only, like Mongo
        elif key.startswith("$"):
            raise NotImplementedError(f"unsupported top-level query operator {key}")
        else:
            preds.append(_field_predicate(key, value, ctx))
    if not preds:
        return F.lit(True)
    return _fold_and(preds)


def _fold_and(preds: list[Column]) -> Column:
    acc = preds[0]
    for p in preds[1:]:
        acc = acc & p
    return acc


def _fold_or(preds: list[Column]) -> Column:
    acc = preds[0]
    for p in preds[1:]:
        acc = acc | p
    return acc


# $text tokenization — ONE pattern for the query terms, the document
# split, and the phrase-sequence regex, so the three can never drift
_TEXT_TOKEN_SPLIT = "[^A-Za-z0-9]+"


def _parse_text_search(search: str) -> tuple[list[str], list[str],
                                             list[str], list[str]]:
    """Mongo $text search-string grammar: quoted phrases (optionally
    ``-``-negated), whitespace terms, ``-term`` negations.
    -> (terms, phrases, neg_terms, neg_phrases)."""
    phrases: list[str] = []
    neg_phrases: list[str] = []

    def grab(m: "re.Match[str]") -> str:
        (neg_phrases if m.group(1) else phrases).append(m.group(2))
        return " "

    rest = re.sub(r'(-?)"([^"]*)"', grab, search)
    terms: list[str] = []
    neg_terms: list[str] = []
    for tok in rest.split():
        neg = tok.startswith("-") and len(tok) > 1
        body = tok[1:] if neg else tok
        # tokenize the query the same way documents are tokenized
        words = [w for w in re.split(_TEXT_TOKEN_SPLIT, body) if w]
        (neg_terms if neg else terms).extend(words)
    return terms, [p for p in phrases if p], neg_terms, \
        [p for p in neg_phrases if p]


def _text_predicate(spec: Any, ctx: ExprContext) -> Column:
    """``{$text: {$search, $path, $caseSensitive?, $language?}}`` —
    index-free legacy text match.  Mongo resolves the field set from the
    collection's text index; this engine has no index metadata, so the
    field(s) MUST be named inline via ``$path`` (string or list — the
    documented deviation).  Semantics per Mongo's $text contract:

    - terms are OR-ed; ``-term`` excludes; quoted phrases match as
      TOKEN sequences (any non-alphanumeric run separates tokens, so
      ``"slow scan"`` matches ``slow scan,`` and ``slow-scan`` but
      never the inside of ``coleslaw scandal``) and, when present, are
      what is required (each phrase must appear — loose terms then only
      affect scoring in Mongo, so they do not further restrict the
      match here either)
    - an all-negation search matches nothing, like Mongo
    - case-insensitive unless ``$caseSensitive: true``

    Documented approximations: no stemming and no diacritic folding
    (``$language`` / ``$diacriticSensitive`` are accepted and ignored —
    an index-free engine carries no per-language stemmer).  Word
    tokenization is ``[^A-Za-z0-9]+`` splitting on both the query and
    the document, identical to the DuckDB oracle."""
    if not isinstance(spec, dict) or "$search" not in spec:
        raise ValueError("$text needs {$search: <string>, $path: <field>}")
    unknown = set(spec) - {"$search", "$path", "$caseSensitive",
                           "$language", "$diacriticSensitive"}
    if unknown:
        raise NotImplementedError(f"$text options {sorted(unknown)}")
    paths = spec.get("$path")
    if not paths:
        raise ValueError(
            "$text needs $path (index-free engine: the text-index field "
            "set must be stated inline)")
    paths = paths if isinstance(paths, list) else [paths]
    case = bool(spec.get("$caseSensitive", False))
    terms, phrases, neg_terms, neg_phrases = \
        _parse_text_search(str(spec["$search"]))
    if not case:
        terms = [t.lower() for t in terms]
        phrases = [p.lower() for p in phrases]
        neg_terms = [t.lower() for t in neg_terms]
        neg_phrases = [p.lower() for p in neg_phrases]

    def field_cols() -> list[Column]:
        out = []
        for p in paths:
            col = ctx.resolve(split_path(p)).cast("string")
            out.append(col if case else F.lower(col))
        return out

    cols = field_cols()
    words = [F.split(c, _TEXT_TOKEN_SPLIT) for c in cols]

    def term_hit(t: str) -> Column:
        return _fold_or([
            F.exists(w, lambda x: x == F.lit(t)) for w in words])

    def phrase_hit(p: str) -> Column:
        # token-sequence match: tokenize the phrase the same way as the
        # documents; tokens are pure alphanumeric after the split, so
        # the pattern needs no escaping and is Java/RE2-portable
        toks = [w for w in re.split(_TEXT_TOKEN_SPLIT, p) if w]
        rx = (f"(^|{_TEXT_TOKEN_SPLIT})"
              + _TEXT_TOKEN_SPLIT.join(toks)
              + f"({_TEXT_TOKEN_SPLIT}|$)")
        return _fold_or([c.rlike(rx) for c in cols])

    def has_tokens(p: str) -> bool:
        return any(w for w in re.split(_TEXT_TOKEN_SPLIT, p))

    # a phrase that tokenizes to nothing ('"!!!"') imposes no constraint
    # — Mongo's tokenizer reduces it to the empty phrase too; dropping
    # it lets the remaining terms/phrases decide the match instead of
    # compiling an unsatisfiable constant
    phrases = [p for p in phrases if has_tokens(p)]
    neg_phrases = [p for p in neg_phrases if has_tokens(p)]

    if phrases:
        positive = _fold_and([phrase_hit(p) for p in phrases])
    elif terms:
        positive = _fold_or([term_hit(t) for t in terms])
    else:
        return F.lit(False)  # all-negation searches match nothing
    negative = [term_hit(t) for t in neg_terms] + \
        [phrase_hit(p) for p in neg_phrases]
    if negative:
        positive = positive & ~_fold_or(negative)
    return positive


def _is_operator_doc(value: Any) -> bool:
    ops = _FIELD_OPS | features.match_extension_names()
    return isinstance(value, dict) and bool(value) and all(k in ops for k in value)


def _field_predicate(path: str, value: Any, ctx: ExprContext) -> Column:
    if isinstance(value, dict):
        geo = {"$near", "$nearSphere"} & set(value)
        if geo:
            # Mongo itself forbids these inside an aggregation $match —
            # reject explicitly instead of falling through to implicit
            # equality against a literal (README: $geoNear is the stage
            # for nearest-first)
            raise NotImplementedError(
                f"{sorted(geo)[0]} is not allowed in $match (Mongo forbids "
                "it in aggregation); use the $geoNear stage")
    parts = split_path(path)
    col = ctx.resolve(parts)
    ftype = ctx.type_of_path(parts)
    if _is_operator_doc(value):
        return _operator_predicate(col, ftype, value, ctx)
    return _equality(col, ftype, value)


def _equality(col: Column, ftype: Any, value: Any) -> Column:
    """Implicit equality; on array fields Mongo also matches membership."""
    if value is None:
        return col.isNull()
    lit = _lit_deep(value)
    if isinstance(ftype, T.ArrayType) and not isinstance(value, list):
        return F.coalesce(F.array_contains(col, lit) | col.eqNullSafe(F.array(lit)), F.lit(False))
    return col.eqNullSafe(lit)


def _operator_predicate(col: Column, ftype: Any, ops: dict, ctx: ExprContext) -> Column:
    preds: list[Column] = []
    for op, arg in ops.items():
        if op == "$options":
            continue  # consumed by $regex
        preds.append(_one_op(col, ftype, op, arg, ops, ctx))
    return _fold_and(preds)


def _one_op(col: Column, ftype: Any, op: str, arg: Any, ops: dict, ctx: ExprContext) -> Column:
    if op == "$eq":
        return _equality(col, ftype, arg)
    if op == "$ne":
        return ~_equality(col, ftype, arg)
    if op in ("$gt", "$gte", "$lt", "$lte"):
        mk = {"$gt": lambda c: c > _lit_deep(arg),
              "$gte": lambda c: c >= _lit_deep(arg),
              "$lt": lambda c: c < _lit_deep(arg),
              "$lte": lambda c: c <= _lit_deep(arg)}[op]
        if isinstance(ftype, T.ArrayType) and not isinstance(arg, list):
            # Mongo array-field matching: ANY element may satisfy the
            # comparison
            return F.coalesce(F.exists(col, mk), F.lit(False))
        return F.coalesce(mk(col), F.lit(False))
    if op == "$in":
        if isinstance(ftype, T.ArrayType):
            return F.coalesce(
                F.arrays_overlap(col, F.array(*[_lit_deep(v) for v in arg])), F.lit(False)
            )
        preds = [_equality(col, ftype, v) for v in arg]
        return _fold_or(preds)
    if op == "$nin":
        return ~_one_op(col, ftype, "$in", arg, ops, ctx)
    if op == "$exists":
        present = col.isNotNull() if ftype is not None else F.lit(False)
        # fixed-schema: "exists" ≈ "is not null" (documented deviation)
        return present if arg else ~present
    if op == "$type":
        wanted = arg if isinstance(arg, list) else [arg]
        from .expressions import _SPARK_TO_BSON

        actual = _SPARK_TO_BSON.get(type(ftype), "object") if ftype is not None else "missing"
        static = F.lit(actual in wanted)
        if "null" in wanted:
            return F.when(col.isNull(), F.lit(True)).otherwise(static)
        return F.when(col.isNull(), F.lit(False)).otherwise(static)
    if op == "$mod":
        d, r = arg
        return F.coalesce((col % F.lit(d)) == F.lit(r), F.lit(False))
    if op == "$regex":
        pattern = arg
        opts = ops.get("$options", "")
        if opts:
            pattern = f"(?{opts}){pattern}"
        return F.coalesce(col.rlike(pattern), F.lit(False))
    if op == "$all":
        preds = [_equality(col, ftype, v) for v in arg]
        return _fold_and(preds)
    if op == "$size":
        return F.coalesce(F.size(col) == F.lit(arg), F.lit(False))
    if op == "$elemMatch":
        elem_t = ftype.elementType if isinstance(ftype, T.ArrayType) else None
        return F.coalesce(
            F.exists(col, lambda e: _elem_predicate(e, elem_t, arg, ctx)), F.lit(False)
        )
    if op == "$not":
        return ~_operator_predicate(col, ftype, arg, ctx)
    if op in ("$bitsAllSet", "$bitsAnySet", "$bitsAllClear", "$bitsAnyClear"):
        mask = F.lit(_bitmask(arg)).cast("long")
        v = col.cast("long")
        masked = v.bitwiseAND(mask)
        pred = {
            "$bitsAllSet": masked == mask,
            "$bitsAnySet": masked != 0,
            "$bitsAllClear": masked == 0,
            "$bitsAnyClear": masked != mask,
        }[op]
        return F.coalesce(pred, F.lit(False))
    if op in ("$geoWithin", "$geoIntersects"):
        return _geo_predicate(col, ftype, op, arg)
    ext = features.match_extension(op)
    if ext is not None:
        return ext(col, arg, ctx)
    raise NotImplementedError(f"unsupported query operator {op}")


def _geo_predicate(col: Column, ftype: Any, op: str, arg: Any) -> Column:
    """Mongo's query-language geo operators over point fields (geo.py;
    index-free — Mongo's are 2dsphere/2d-index backed).

    ``$geoWithin``: ``$geometry`` (GeoJSON Polygon/MultiPolygon,
    spherical semantics approximated planar per geo.py), ``$box`` /
    ``$polygon`` / ``$center`` (Mongo's legacy 2d PLANAR shapes —
    planar math here is exact), ``$centerSphere`` (radius in RADIANS,
    haversine).  ``$geoIntersects``: ``$geometry`` only, and for a
    point field intersection reduces to containment."""
    from .geo import (EARTH_R_M, geo_point, haversine_m, lonlat_from_type,
                      point_in_geometry, point_in_ring)

    if not isinstance(arg, dict) or not arg:
        raise ValueError(f"{op} needs a shape document")
    if ftype is None:
        # Mongo: a missing field simply doesn't match any geo predicate
        # (every other $match operator degrades the same way here)
        return F.lit(False)
    lon, lat = lonlat_from_type(col, ftype, op)
    base = lon.isNotNull() & lat.isNotNull()
    if "$geometry" in arg:
        return base & point_in_geometry(lon, lat, arg["$geometry"])
    if op == "$geoIntersects":
        raise ValueError("$geoIntersects supports $geometry only")
    if "$box" in arg:
        (x1, y1), (x2, y2) = (geo_point(p, "$box corner")
                              for p in arg["$box"])
        return (base
                & (lon >= F.lit(min(x1, x2))) & (lon <= F.lit(max(x1, x2)))
                & (lat >= F.lit(min(y1, y2))) & (lat <= F.lit(max(y1, y2))))
    if "$polygon" in arg:
        return base & point_in_ring(lon, lat, arg["$polygon"])
    if "$center" in arg:
        (cx, cy), r = arg["$center"]
        # legacy 2d $center is PLANAR: euclidean distance in coordinate
        # units, exactly as Mongo computes it for 2d indexes
        d2 = ((lon - F.lit(float(cx))) * (lon - F.lit(float(cx)))
              + (lat - F.lit(float(cy))) * (lat - F.lit(float(cy))))
        return base & (d2 <= F.lit(float(r) * float(r)))
    if "$centerSphere" in arg:
        (cx, cy), r = arg["$centerSphere"]
        # radius in RADIANS (Mongo's spherical convention): compare
        # haversine metres against r * R
        return base & (haversine_m(lon, lat, float(cx), float(cy))
                       <= F.lit(float(r) * EARTH_R_M))
    raise ValueError(
        f"{op} needs $geometry, $box, $polygon, $center or $centerSphere")


def _elem_predicate(elem: Column, elem_t: Any, query: dict, ctx: ExprContext) -> Column:
    """$elemMatch body: operator doc applies to the element itself; a plain
    query doc applies to struct elements' fields."""
    if _is_operator_doc(query):
        return _operator_predicate(elem, elem_t, query, ctx)
    sub_schema = elem_t if isinstance(elem_t, T.StructType) else None
    sub_ctx = ExprContext(
        schema=sub_schema,
        variables=ctx.variables,
        resolver=lambda parts: _getfield_chain(elem, parts),
    )
    return compile_match(query, sub_ctx)


def _getfield_chain(base: Column, parts: list[str]) -> Column:
    col = base
    for p in parts:
        col = col.getField(p)
    return col


# --------------------------------------------------------------- $jsonSchema
# Draft-4-flavored subset as MongoDB documents it, compiled to a boolean
# Column.  Fixed-schema stance (same deviation as $exists): a field absent
# from the Spark schema is uniformly "missing"; a null value counts as
# missing, so it passes every keyword except `required` (Mongo validates
# present-but-null values against `type` — with absent ≈ null the engine
# cannot distinguish the two, documented in the module header).

_TYPE_NAMES = {
    "string": (T.StringType,),
    "double": (T.DoubleType, T.FloatType),
    "int": (T.IntegerType, T.ShortType, T.ByteType),
    "long": (T.LongType,),
    "integer": (T.IntegerType, T.LongType, T.ShortType, T.ByteType),
    "number": (T.NumericType,),
    "decimal": (T.DecimalType,),
    "bool": (T.BooleanType,),
    "boolean": (T.BooleanType,),
    "array": (T.ArrayType,),
    "object": (T.StructType, T.MapType),
    "date": (T.DateType, T.TimestampType),
    "timestamp": (T.TimestampType,),
}

_SCHEMA_KEYWORDS = {
    "type", "bsonType", "enum", "minimum", "maximum", "exclusiveMinimum",
    "exclusiveMaximum", "multipleOf", "minLength", "maxLength", "pattern",
    "minItems", "maxItems", "uniqueItems", "items", "properties",
    "required", "allOf", "anyOf", "oneOf", "not", "title", "description",
    "additionalProperties",
}


def _type_pred(col: Column, stype: Any, names: Any) -> Column:
    if isinstance(names, str):
        names = [names]
    ok = False
    allow_null = False
    for nm in names:
        if nm == "null":
            allow_null = True
            continue
        classes = _TYPE_NAMES.get(nm)
        if classes is None:
            raise NotImplementedError(f"$jsonSchema type {nm!r}")
        if isinstance(stype, classes):
            ok = True
    # type is a STATIC property of the fixed schema: a mismatching
    # column fails for every non-null value; 'null' in a type UNION adds
    # the null case, it never discards a matching type
    static = F.lit(ok)
    return col.isNull() | static if allow_null else static


def _schema_pred(col: Column, stype: Any, sch: Any) -> Column:
    """Validity of a NON-NULL value under sub-schema ``sch``."""
    if not isinstance(sch, dict):
        raise NotImplementedError(
            "$jsonSchema sub-schemas must be documents (tuple-form "
            "'items' arrays are not supported)"
        )
    unknown = set(sch) - _SCHEMA_KEYWORDS
    if unknown:
        raise NotImplementedError(f"$jsonSchema keywords {sorted(unknown)}")
    preds: list[Column] = []
    tnames = sch.get("bsonType", sch.get("type"))
    if tnames is not None:
        preds.append(_type_pred(col, stype, tnames))
    if "enum" in sch:
        preds.append(_fold_or([col.eqNullSafe(_lit_deep(v))
                               for v in sch["enum"]]))
    # draft-4 (and Mongo) semantics: keywords that don't apply to the
    # instance type are IGNORED — a numeric keyword on a string column
    # (or vice versa) validates every value.  With a fixed schema the
    # applicability test is static per column, so a non-applicable
    # keyword compiles to lit(True), never to a silent reject-all.
    is_num = isinstance(stype, T.NumericType)
    for kw, mk in (("minimum", lambda b: col >= F.lit(b)),
                   ("maximum", lambda b: col <= F.lit(b)),
                   ("exclusiveMinimum", lambda b: col > F.lit(b)),
                   ("exclusiveMaximum", lambda b: col < F.lit(b))):
        if kw in sch:
            preds.append(F.coalesce(mk(sch[kw]), F.lit(False))
                         if is_num else F.lit(True))
    if "multipleOf" in sch:
        preds.append(F.coalesce(col % F.lit(sch["multipleOf"]) == 0,
                                F.lit(False))
                     if is_num else F.lit(True))
    is_str = isinstance(stype, T.StringType)
    is_arr = isinstance(stype, T.ArrayType)
    if "minLength" in sch:
        preds.append(F.length(col) >= F.lit(int(sch["minLength"]))
                     if is_str else F.lit(True))
    if "maxLength" in sch:
        preds.append(F.length(col) <= F.lit(int(sch["maxLength"]))
                     if is_str else F.lit(True))
    if "pattern" in sch:
        preds.append(col.rlike(sch["pattern"]) if is_str else F.lit(True))
    if "minItems" in sch:
        preds.append(F.size(col) >= F.lit(int(sch["minItems"]))
                     if is_arr else F.lit(True))
    if "maxItems" in sch:
        preds.append(F.size(col) <= F.lit(int(sch["maxItems"]))
                     if is_arr else F.lit(True))
    if sch.get("uniqueItems"):
        preds.append(F.size(F.array_distinct(col)) == F.size(col)
                     if is_arr else F.lit(True))
    if "items" in sch:
        isch = sch["items"]
        if not isinstance(isch, dict):
            raise NotImplementedError(
                "$jsonSchema tuple-form 'items' is not supported"
            )
        preds.append(
            F.forall(col, lambda e: _value_pred(e, stype.elementType, isch))
            if is_arr else F.lit(True)
        )
    if isinstance(stype, T.StructType):
        fields = {f.name: f.dataType for f in stype.fields}
        for req in sch.get("required", []):
            preds.append(col.getField(req).isNotNull()
                         if req in fields else F.lit(False))
        for name, psch in (sch.get("properties") or {}).items():
            if name in fields:
                preds.append(_value_pred(col.getField(name),
                                         fields[name], psch))
            # absent from the fixed schema = missing = valid
    if "allOf" in sch:
        preds.append(_fold_and([_schema_pred(col, stype, s)
                                for s in sch["allOf"]]))
    if "anyOf" in sch:
        preds.append(_fold_or([_schema_pred(col, stype, s)
                               for s in sch["anyOf"]]))
    if "oneOf" in sch:
        ones = [_schema_pred(col, stype, s).cast("int")
                for s in sch["oneOf"]]
        total = ones[0]
        for o in ones[1:]:
            total = total + o
        preds.append(total == 1)
    if "not" in sch:
        preds.append(~_schema_pred(col, stype, sch["not"]))
    if not preds:
        return F.lit(True)
    return _fold_and(preds)


def _value_pred(col: Column, stype: Any, sch: dict) -> Column:
    """Missing (null) passes every keyword except `required` (handled by
    the enclosing object schema)."""
    return col.isNull() | _schema_pred(col, stype, sch)


_ROOT_KEYWORDS = {
    "type", "bsonType", "properties", "required", "allOf", "anyOf",
    "oneOf", "not", "title", "description", "additionalProperties",
}


def _json_schema_root(sch: dict, ctx: ExprContext) -> Column:
    """$jsonSchema against the document root (the row)."""
    if not isinstance(sch, dict):
        raise ValueError("$jsonSchema takes a schema document")
    unknown = set(sch) - _ROOT_KEYWORDS
    if unknown:
        # same convention as nested schemas: an unknown (or typo'd)
        # keyword must fail loudly — a silently ignored keyword would
        # leave a data-quality gate wide open
        raise NotImplementedError(
            f"$jsonSchema root keywords {sorted(unknown)}"
        )
    preds: list[Column] = []
    fields = {f.name: f.dataType for f in ctx.schema.fields}
    tnames = sch.get("bsonType", sch.get("type"))
    if tnames is not None:
        names = [tnames] if isinstance(tnames, str) else tnames
        if "object" not in names:
            raise ValueError("$jsonSchema root must allow type 'object'")
    for req in sch.get("required", []):
        preds.append(ctx.resolve(split_path(req)).isNotNull()
                     if req in fields else F.lit(False))
    for name, psch in (sch.get("properties") or {}).items():
        parts = split_path(name)
        if parts[0] not in fields:
            continue  # missing field = valid (unless required above)
        col = ctx.resolve(parts)
        preds.append(_value_pred(col, ctx.type_of_path(parts), psch))
    for comb, fold in (("allOf", _fold_and), ("anyOf", _fold_or)):
        if comb in sch:
            preds.append(fold([_json_schema_root(s, ctx)
                               for s in sch[comb]]))
    if "oneOf" in sch:
        ones = [_json_schema_root(s, ctx).cast("int") for s in sch["oneOf"]]
        total = ones[0]
        for o in ones[1:]:
            total = total + o
        preds.append(total == 1)
    if "not" in sch:
        preds.append(~_json_schema_root(sch["not"], ctx))
    if not preds:
        return F.lit(True)
    return _fold_and(preds)
