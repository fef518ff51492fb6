"""Text-transform family: $scrubText, $datasetSplit, $packSequences,
$sentenceSplit, $spanDedup, $winnow, $charLmScore, $quantileBin,
$fingerprint, $decodeMedia, $frameSample, $stratifiedSample,
$chunkText.

Split out of functions/datapipe.py (r10); the import surface stays
``functions.datapipe`` — the aggregator re-exports every name.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage

from .dp_dedup import _WS, _spread, md5_long
from .dp_eval import _eval_words
from .dp_retrieval import SCRUB_RULES


@register_stage("$scrubText", "per_batch")
def scrub_text_stage(expression: Any, ctx: Context) -> StageFn:
    """PII scrubbing for training corpora: ``{input, as, rules?}`` —
    emails, URLs, IPs and phone-number-shaped digit runs are replaced by
    placeholder tokens, in a fixed rule order (emails before URLs before
    digit runs, so one entity is never half-matched by a later rule).
    ``rules`` selects a subset by name.  A chain of native
    ``regexp_replace`` calls: map-only, scales."""
    inp = expression["input"]
    as_field = expression.get("as", "text")
    selected = expression.get("rules")
    rules = [
        (name, rx, tok) for name, (rx, tok) in SCRUB_RULES
        if selected is None or name in selected
    ]
    if selected is not None and len(rules) != len(selected):
        known = [n for n, _ in SCRUB_RULES]
        raise ValueError(f"$scrubText: unknown rule in {selected}; known: {known}")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        col = compile_expr(inp, ExprContext(schema=df.schema))
        for _name, rx, tok in rules:
            col = F.regexp_replace(col, rx, tok)
        return df.withColumn(as_field, col)

    return fn


@register_stage("$datasetSplit", "per_batch")
def dataset_split_stage(expression: Any, ctx: Context) -> StageFn:
    """Deterministic train/val/test assignment:
    ``{id, weights: {name: w, ...}, as, seed}``.

    A document's bucket is the first name whose cumulative weight range
    contains ``md5_long(seed:id) % 1e6`` — reproducible across runs and
    engines (md5 is portable, unlike engine-native hashes), and stable
    under corpus growth: assignment depends only on the row's own id,
    never on other rows.  Map-only — scales trivially.

    K-FOLD mode (r11): ``{id, folds: k, as, seed}`` assigns
    ``md5_long(seed:id) % k`` (a long in 0..k-1) instead — the
    cross-validation layout; filter ``{$match: {fold: {$ne: i}}}`` for
    fold i's training set.  Exactly one of ``weights``/``folds``.

    NULL-ID CONTRACT (r12, VERDICT r11 #4): a null/missing id yields a
    NULL split in BOTH modes.  Previously weights mode silently routed
    null-id rows into the LAST named bucket (null ``when`` conditions
    fall through to ``otherwise``) — a train/test contamination hazard
    for exactly the rows whose provenance is already broken.  Callers
    that want those rows routed should assign an explicit surrogate id
    upstream; the splitter never guesses."""
    id_expr = expression.get("id", "$_id")
    weights: dict = expression.get("weights") or {}
    folds = expression.get("folds")
    as_field = expression.get("as", "split")
    seed = int(expression.get("seed", 0))
    if (not weights) == (folds is None):
        raise ValueError(
            "$datasetSplit needs exactly one of weights | folds")
    if folds is not None:
        folds = int(folds)
        if folds < 2:
            raise ValueError("$datasetSplit folds must be >= 2")

        def fold_fn(df: DataFrame, c: Context) -> DataFrame:
            idc = compile_expr(
                id_expr, ExprContext(schema=df.schema)).cast("string")
            return df.withColumn(as_field, md5_long(idc, seed) % folds)

        return fold_fn
    total = float(sum(weights.values()))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        idc = compile_expr(id_expr, ExprContext(schema=df.schema)).cast("string")
        h = md5_long(idc, seed) % F.lit(1_000_000)
        col = None
        cum = 0.0
        names = list(weights)
        for name in names[:-1]:
            cum += float(weights[name]) / total
            cond = h < F.lit(int(round(cum * 1_000_000)))
            col = F.when(cond, name) if col is None else col.when(cond, name)
        col = F.lit(names[-1]) if col is None else col.otherwise(names[-1])
        # null id -> null split (folds mode gets this for free from
        # md5_long's null propagation; mirror it here instead of the
        # otherwise() fall-through)
        col = F.when(idc.isNull(), F.lit(None).cast("string")).otherwise(col)
        return df.withColumn(as_field, col)

    return fn


@register_stage("$packSequences", "batch")
def pack_sequences_stage(expression: Any, ctx: Context) -> StageFn:
    """Concatenate-then-chunk layout for LLM pretraining shards:
    ``{tokens, budget, sortBy, as, partitionBy?}``.

    Documents are laid out in ``sortBy`` order and the running token
    offset assigns ``as = floor(offset / budget)`` plus
    ``<as>_offset = offset % budget`` — the standard "concatenate all
    text, cut every N tokens" pretraining pipeline, expressed as ONE
    window cumulative sum.  With ``partitionBy`` the layout is per shard
    (chunk ids repeat per shard — combine (shard, chunk) downstream) and
    the window shuffles once on the shard key: scales.  Without it the
    global order serializes the cumsum to a single partition — the same
    documented caveat as ordered ``$per`` (SCALE.md §5)."""
    tokens_expr = expression["tokens"]
    budget = int(expression["budget"])
    as_field = expression.get("as", "pack")
    part = expression.get("partitionBy")
    sort_by = expression.get("sortBy")
    if budget <= 0:
        raise ValueError("$packSequences needs a positive budget")
    if not sort_by:
        raise ValueError("$packSequences needs sortBy (deterministic layout)")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        ectx = ExprContext(schema=df.schema)
        t = compile_expr(tokens_expr, ectx).cast("long")
        order_cols = [
            F.col(k).asc() if d >= 0 else F.col(k).desc()
            for k, d in sort_by.items()
        ]
        base = (
            Window.partitionBy(compile_expr(part, ectx))
            if part is not None
            else Window
        )
        w = base.orderBy(*order_cols).rowsBetween(
            Window.unboundedPreceding, -1
        )
        off = F.coalesce(F.sum(t).over(w), F.lit(0))
        tagged = df.withColumn("__off", off)
        return (
            tagged.withColumn(as_field, (F.col("__off") / budget).cast("long"))
            .withColumn(f"{as_field}_offset", F.col("__off") % budget)
            .drop("__off")
        )

    return fn


@register_stage("$sentenceSplit", "per_batch")
def sentence_split_stage(expression: Any, ctx: Context) -> StageFn:
    """Sentence segmentation: ``{input, as, minChars?}`` — splits on
    runs of sentence-ending punctuation (``.!?``) followed by
    whitespace (or end of text), trims, and drops segments shorter than
    ``minChars`` (default 1).  Row-local HOFs, no shuffle; compose with
    ``$unwind {includeArrayIndex}`` for per-sentence rows.  The regex is
    deliberately lookaround-free so the same pattern runs identically in
    any SQL engine (trailing punctuation is consumed, not kept)."""
    inp = expression["input"]
    as_field = expression.get("as", "sentences")
    min_chars = int(expression.get("minChars", 1))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        df = _spread(df)
        text = compile_expr(inp, ExprContext(schema=df.schema))
        return df.withColumn("__ss_t", text).withColumn(
            as_field,
            F.expr(
                "filter(transform(split(`__ss_t`, "
                r"'[.!?]+\\s+|[.!?]+$'), s -> trim(s)), "
                f"s -> length(s) >= {min_chars})"
            ),
        ).drop("__ss_t")

    return fn


@register_stage("$spanDedup", "corpus")
def span_dedup_stage(expression: Any, ctx: Context) -> StageFn:
    """C4's corpus-wide sentence-span dedup (Raffel et al. 2020 §2.2:
    "we removed any three-sentence span occurring more than once"):
    ``{input, id, as?, span?, minChars?, unit?}`` — sentences split
    with the $sentenceSplit rule, every window of ``span`` (default 3)
    consecutive sentences is matched CORPUS-WIDE (case-insensitive);
    for each duplicated span, the occurrence with the minimum
    (id, position) survives and every other occurrence's sentences are
    removed from their documents.  ``id`` must be unique per row.

    ``unit: "tokens"`` switches the segmentation to whitespace tokens —
    the Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better") exact-substring-dedup analog, where duplicated
    ``span``-token windows (their paper uses 50; the default becomes 50
    in this mode) are removed wherever they recur.  The removal is
    window-granular (whole windows drop), a scalable approximation of
    the paper's suffix-array character spans.

    Adds a struct ``as`` (default "span_dedup"): ``text`` (surviving
    segments joined with single spaces — the rewrite is lossy about
    original punctuation/whitespace, as C4's was), ``n_sentences`` (the
    SEGMENT count — tokens in token mode), ``n_removed``.

    Duplicate spans are identified by xxhash64 of the lowercased span.
    A 64-bit hash collides (birthday bound) with ~50% probability once
    the corpus holds ~5e9 DISTINCT spans — at that scale a collision
    deletes an unrelated span with no verification.  ``verify: true``
    closes that: the ownership groupBy keys on the span STRING itself
    (hash only pre-buckets), so only true duplicates are removed, at
    the cost of shuffling span text instead of 8-byte hashes.

    100 TB shape: spans explode to slim (id, pos, xxhash64) rows —
    O(corpus sentences); ownership is one groupBy(span-hash) with
    partial aggregation (boilerplate spans collapse map-side); removals
    group back by id and join the corpus once (AQE broadcasts when the
    removal set is small).  Never pairwise."""
    inp = expression["input"]
    id_expr = expression["id"]
    as_field = expression.get("as", "span_dedup")
    verify = bool(expression.get("verify", False))
    unit = expression.get("unit", "sentences")
    if unit not in ("sentences", "tokens"):
        raise ValueError("$spanDedup unit must be 'sentences' or 'tokens'")
    if unit == "tokens" and "minChars" in expression:
        # segmentation feeds BOTH window matching and the rewrite, so a
        # token-length floor would silently delete short tokens from
        # every document's text even when nothing is duplicated
        raise ValueError(
            "$spanDedup minChars is a sentence-mode option; token mode "
            "keeps every non-empty token")
    span = int(expression.get("span", 50 if unit == "tokens" else 3))
    min_chars = int(expression.get("minChars", 1))
    if span < 1:
        raise ValueError("$spanDedup span must be >= 1")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        if unit == "tokens":
            seg = F.filter(
                F.split(F.col("__sd_t"), _WS + "+"),
                lambda s: (s != F.lit("")) & (F.length(s) >= min_chars))
        else:
            seg = F.expr(
                "filter(transform(split(`__sd_t`, "
                r"'[.!?]+\\s+|[.!?]+$'), s -> trim(s)), "
                f"s -> length(s) >= {min_chars})"
            )
        base = (
            df.withColumn("__sd_id", compile_expr(id_expr, ectx))
            .withColumn("__sd_t", compile_expr(inp, ectx))
            .withColumn("__sd_s", seg)
        )
        # slim span occurrences: (id, pos, hash of the lowercased span);
        # verify mode also carries the span string so ownership keys on
        # true equality (a hash collision can't delete an unrelated span)
        span_s = (f"lower(concat_ws(' ', slice(__sd_s, i, {span})))"
                  if verify else "''")
        occ = base.select(
            F.col("__sd_id").alias("__id"),
            F.explode(
                F.expr(
                    f"""IF(size(__sd_s) >= {span},
                       transform(sequence(1, size(__sd_s) - {span} + 1),
                         i -> named_struct(
                            'pos', i,
                            'h', xxhash64(lower(
                                concat_ws(' ', slice(__sd_s, i, {span})))),
                            's', {span_s})),
                       array())"""
                )
            ).alias("__sp"),
        ).select("__id", F.col("__sp.pos").alias("__pos"),
                 F.col("__sp.h").alias("__h"),
                 *([F.col("__sp.s").alias("__s")] if verify else []))
        key = ["__h", "__s"] if verify else ["__h"]
        owners = occ.groupBy(*key).agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__own"),
        )
        # non-canonical occurrences of duplicated spans -> removed
        # sentence indices per doc
        removed = (
            occ.join(owners, key)
            .filter(
                (F.col("__n") > 1)
                & ~F.struct(F.col("__id"), F.col("__pos"))
                .eqNullSafe(F.col("__own"))
            )
            .select(
                "__id",
                F.explode(
                    F.sequence(F.col("__pos"),
                               F.col("__pos") + F.lit(span - 1))
                ).alias("__ri"),
            )
            .groupBy("__id")
            .agg(F.array_sort(F.collect_set("__ri")).alias("__removed"))
        )
        out = base.join(removed, base["__sd_id"] == removed["__id"], "left")
        keep = F.filter(
            F.col("__sd_s"),
            lambda s, i: F.col("__removed").isNull()
            | ~F.array_contains(F.col("__removed"), i + 1),
        )
        st = F.struct(
            F.concat_ws(" ", keep).alias("text"),
            F.coalesce(F.size("__sd_s"), F.lit(0)).cast("int")
            .alias("n_sentences"),
            F.coalesce(F.size("__removed"), F.lit(0)).cast("int")
            .alias("n_removed"),
        )
        return out.withColumn(as_field, st).drop(
            "__sd_id", "__sd_t", "__sd_s", "__id", "__removed"
        )

    return fn


@register_stage("$winnow", "per_batch")
def winnow_stage(expression: Any, ctx: Context) -> StageFn:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): ``{input, as?, k?, window?}`` — the text
    normalizes (lowercase, non-[a-z0-9] stripped), every char k-gram
    (k default 5) hashes with the same md5-derived 60-bit hash as the
    dedup family (bit-identical in DuckDB — oracle-able), a window of
    ``window`` consecutive hashes (default 4) slides selecting each
    window's minimum, and the DISTINCT selected hashes emit sorted as an
    array<long>.  Value-set semantics make the paper's rightmost-tie
    rule irrelevant.  Guarantee: any shared substring of length >=
    window + k - 1 between two documents yields at least one shared
    fingerprint — position-robust local fingerprints for
    plagiarism/near-dup detection, pair via ``$crossDedup``-style band
    joins or array intersection.  Fewer than ``window`` k-grams winnow
    to the single global minimum; shorter than ``k`` to an empty array.
    100 TB shape: pure row-local HOFs, zero shuffle, no Python."""
    inp = expression["input"]
    as_field = expression.get("as", "fingerprints")
    k = int(expression.get("k", 5))
    w = int(expression.get("window", 4))
    if k < 1 or w < 1:
        raise ValueError("$winnow needs k >= 1 and window >= 1")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        # r13: md5 per char position + sliding window min is the
        # per-row-heavy class — fan a single-scan-task corpus out
        # (13 s -> ~1 s at sf0.1; row-group gate keeps wide inputs as-is)
        out = _spread(df).withColumn(
            "__wn_t",
            F.regexp_replace(F.lower(text), "[^a-z0-9]", ""),
        )
        out = out.withColumn(
            "__wn_h",
            F.expr(
                f"""IF(length(__wn_t) >= {k},
                   transform(sequence(1, length(__wn_t) - {k} + 1),
                     i -> cast(conv(substr(md5(concat('7:',
                            substr(__wn_t, i, {k}))), 1, 15), 16, 10)
                          as bigint)),
                   array())"""
            ),
        )
        fps = F.expr(
            f"""CASE
               WHEN size(__wn_h) = 0 THEN array()
               WHEN size(__wn_h) < {w}
                 THEN array(array_min(__wn_h))
               ELSE array_sort(array_distinct(
                 transform(sequence(1, size(__wn_h) - {w} + 1),
                   j -> array_min(slice(__wn_h, j, {w})))))
               END"""
        )
        return out.withColumn(as_field, fps).drop("__wn_t", "__wn_h")

    return fn


@register_stage("$charLmScore", "corpus")
def char_lm_score_stage(expression: Any, ctx: Context) -> StageFn:
    """Corpus-trained character-bigram cross-entropy: ``{input, as}`` —
    appends bits-per-character under a Laplace-smoothed char-bigram
    model fit on the SAME corpus.  The perplexity-style quality signal
    without a neural LM: gibberish, encoding junk, and wrong-language
    text score high; fluent text scores low.  Null for docs shorter
    than two characters.

    bits = −mean log2 (c(ab)+1) / (c(a)+V) over the doc's bigrams,
    where c(ab)/c(a) are corpus bigram/prefix counts and V the corpus
    character vocabulary size.

    Corpus-scale plan: bigrams come from row-local substr explodes; the
    two count tables partial-aggregate to character-vocabulary size
    (≤ |charset|²) and BROADCAST back to the scoring join; the per-doc
    mean rides one doc-keyed shuffle.  Join keys are substr slices in
    both engines, so the DuckDB oracle is exact.
    """
    inp = expression["input"]
    as_field = expression.get("as", "bits_per_char")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        df = _spread(df)
        text = compile_expr(inp, ExprContext(schema=df.schema))
        lowered = F.lower(text)
        # positions 1..len-1: bigram substr(i,2); its conditioning
        # prefix is substr(i,1)
        # sequence(1, 0) DESCENDS in Spark — gate short strings to an
        # explicit empty array
        bi_arr = F.expr(
            "if(length(`__lm_t`) < 2, array(), "
            "transform(sequence(1, length(`__lm_t`) - 1), "
            "i -> substring(`__lm_t`, i, 2)))"
        )
        uni_arr = F.expr(
            "if(length(`__lm_t`) < 1, array(), "
            "transform(sequence(1, length(`__lm_t`)), "
            "i -> substring(`__lm_t`, i, 1)))"
        )
        base = df.withColumn("__lm_t", lowered)
        corpus_bi = (
            base.select(F.explode(bi_arr).alias("__bg"))
            .groupBy("__bg")
            .agg(F.count(F.lit(1)).cast("double").alias("__cab"))
        )
        corpus_uni = (
            base.select(
                F.explode(
                    F.expr(
                        "if(length(`__lm_t`) < 2, array(), "
                        "transform(sequence(1, length(`__lm_t`) - 1), "
                        "i -> substring(`__lm_t`, i, 1)))"
                    )
                ).alias("__pre")
            )
            .groupBy("__pre")
            .agg(F.count(F.lit(1)).cast("double").alias("__ca"))
        )
        vocab = base.select(F.explode(uni_arr).alias("__ch")).agg(
            F.countDistinct("__ch").cast("double").alias("__v")
        )
        key = F.xxhash64(F.col("__lm_t"))
        doc_bi = base.withColumn("__did", key).select(
            "__did", F.explode(bi_arr).alias("__bg")
        ).withColumn("__pre", F.substring("__bg", 1, 1))
        scored = (
            doc_bi.join(F.broadcast(corpus_bi), "__bg")
            .join(F.broadcast(corpus_uni), "__pre")
            .crossJoin(F.broadcast(vocab))
            .groupBy("__did")
            .agg(
                F.avg(
                    -F.log2(
                        (F.col("__cab") + 1.0)
                        / (F.col("__ca") + F.col("__v"))
                    )
                ).alias("__bits")
            )
        )
        # doc-keyed equi-join (scored is corpus-cardinality — never
        # broadcast); AQE picks the strategy
        out = base.withColumn("__did", key).join(scored, "__did", "left")
        # half-up at 9 digits (the SQL-oracle convention)
        return out.withColumn(
            as_field,
            F.floor(F.col("__bits") * 1e9 + F.lit(0.5)).cast("double")
            / F.lit(1e9),
        ).drop("__lm_t", "__did", "__bits")

    return fn


@register_stage("$quantileBin", "corpus")
def quantile_bin_stage(expression: Any, ctx: Context) -> StageFn:
    """Equal-frequency bin labels: ``{input, bins, as, exact?,
    accuracy?}`` — appends a 1-based bin index (decile/percentile
    bucketing for feature engineering and stratified reporting).

    Two physical modes:
    - default (scale path): bin BOUNDARIES come from one
      ``percentile_approx`` aggregate (Greenwald-Khanna sketch,
      driver-sized result), and the bin index is a row-local literal
      CASE chain — no global sort, no extra shuffle beyond the single
      aggregate.  Bin populations are approximately equal (sketch
      ``accuracy``, default 10000).
    - ``exact: true``: Spark ``ntile`` over a global order — exactly
      equal counts, but a single-partition sort; test/small-data only
      (same stance as $bucketAuto's ntile).
    """
    inp = expression["input"]
    bins = int(expression["bins"])
    as_field = expression.get("as", "bin")
    exact = bool(expression.get("exact", False))
    accuracy = int(expression.get("accuracy", 10000))
    tie_break = expression.get("tieBreak")
    if bins < 2:
        raise ValueError("$quantileBin needs bins >= 2")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        sctx = ExprContext(schema=df.schema)
        value = compile_expr(inp, sctx).cast("double")
        if exact:
            # ntile on ties is order-dependent; an explicit tieBreak key
            # makes the assignment fully deterministic
            keys = [value] + (
                [compile_expr(tie_break, sctx)] if tie_break else []
            )
            w = Window.orderBy(*keys)
            return df.withColumn(as_field, F.ntile(bins).over(w))
        ps = [i / bins for i in range(1, bins)]
        row = df.select(
            F.percentile_approx(
                value, F.array(*[F.lit(p) for p in ps]), F.lit(accuracy)
            ).alias("__qb")
        ).collect()[0]["__qb"]
        bounds = list(row) if row is not None else []
        idx = F.lit(bins)
        for i in range(len(bounds) - 1, -1, -1):
            idx = F.when(value <= F.lit(float(bounds[i])),
                         F.lit(i + 1)).otherwise(idx)
        return df.withColumn(as_field, F.when(value.isNotNull(), idx))

    return fn


@register_stage("$fingerprint", "per_batch")
def fingerprint_stage(expression: Any, ctx: Context) -> StageFn:
    """Normalized content fingerprint: ``{input, as}`` = md5 of
    lowercase/whitespace-collapsed/punctuation-stripped text — the standard
    near-exact-dup key (casing/spacing-invariant)."""
    inp = expression["input"]
    as_field = expression.get("as", "fingerprint")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        # light: one regex+md5 codegen pass costs about what moving the
        # payload costs, so the fan-out reshuffle can't amortize on
        # small inputs (r12: 0.30 s -> 0.19 s at sf0.1 without it)
        df = _spread(df, light=True)
        text = compile_expr(inp, ExprContext(schema=df.schema))
        norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(text),
                                                        "[^a-z0-9\\s]", ""), "\\s+", " "))
        return df.withColumn(as_field, F.md5(norm))

    return fn


# ------------------------------------------------------------- multimodal


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),       # image | audio | video
        T.StructField("content", T.BinaryType()),    # opaque encoded bytes
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)
"""Canonical multimodal column bundle: media as opaque binary + typed
metadata.  Partitioning guidance: bucket by media_id; keep `content` out of
every projection until the decode stage (column pruning keeps scans thin)."""


@register_stage("$decodeMedia", "per_batch")
def decode_media_stage(expression: Any, ctx: Context) -> StageFn:
    """Decode/feature-extract media bytes: ``{input, kind, as, op}``.

    The Spark plumbing (schema, Arrow batching, partition-local decode) is
    real; the codec itself is a deterministic stub (this container has no
    image/audio libraries).  ``op``: ``meta`` (byte stats) | ``resize`` |
    ``frame_sample`` — each returns a typed feature struct.
    """
    inp = expression["input"]
    as_field = expression.get("as", "features")
    op = expression.get("op", "meta")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        out_schema = T.StructType(
            list(df.schema.fields)
            + [
                T.StructField(
                    as_field,
                    T.StructType(
                        [
                            T.StructField("n_bytes", T.LongType()),
                            T.StructField("checksum", T.StringType()),
                            T.StructField("op", T.StringType()),
                        ]
                    ),
                )
            ]
        )
        col_name = inp[1:] if isinstance(inp, str) and inp.startswith("$") else inp

        def decode(batches: Iterator) -> Iterator:
            import hashlib

            for pdf in batches:
                feats = []
                for v in pdf[col_name]:
                    if v is None:
                        feats.append(None)
                        continue
                    raw = bytes(v)
                    # -- codec boundary: real decoders (PIL/ffmpeg) plug in
                    # here; deterministic stub keeps the pipeline testable
                    feats.append(
                        {
                            "n_bytes": len(raw),
                            "checksum": hashlib.md5(raw).hexdigest(),
                            "op": op,
                        }
                    )
                yield pdf.assign(**{as_field: feats})

        return df.mapInPandas(decode, out_schema)

    return fn


@register_stage("$frameSample", "per_batch")
def frame_sample_stage(expression: Any, ctx: Context) -> StageFn:
    """Sample fixed-size byte windows ("frames") from a binary column:
    ``{input, frameSize, stride, as}`` -> ``array<struct<idx, data>>``.

    The framing is pure JVM column algebra (sequence + transform + substr)
    — zero Python, pipelines with the scan.  A real container-format
    demuxer (mp4/mkv) would replace the byte-window step behind the same
    schema via mapInPandas (the $decodeMedia codec boundary); the
    partitioning/batch plumbing is identical.
    """
    inp = expression["input"]
    frame_size = int(expression["frameSize"])
    stride = int(expression.get("stride", frame_size))
    as_field = expression.get("as", "frames")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        data = compile_expr(inp, ExprContext(schema=df.schema))
        n = F.octet_length(data)
        count = F.when(
            n >= frame_size, F.floor((n - frame_size) / stride) + 1
        ).otherwise(F.lit(0))
        frames = F.transform(
            F.sequence(F.lit(0), count.cast("long") - 1),
            lambda i: F.struct(
                i.cast("long").alias("idx"),
                F.substr(data, (i * stride + 1).cast("int"), F.lit(frame_size)).alias(
                    "data"
                ),
            ),
        )
        return df.withColumn(
            as_field, F.when(count > 0, frames).otherwise(F.array().cast(
                "array<struct<idx:bigint,data:binary>>"))
        )

    return fn


@register_stage("$stratifiedSample", "per_batch")
def stratified_sample_stage(expression: Any, ctx: Context) -> StageFn:
    """Deterministic per-stratum sampling for training-mix construction:
    ``{by: <expr>, fractions: {value: fraction, ...} | fraction,
    seed?, default?}``.

    Each row keeps iff ``md5_long(seed:key) % 10^6 < fraction * 10^6`` —
    a pure map-side filter (no shuffle, no RNG state), reproducible
    across engines and stable under retries/recomputation, unlike
    ``df.sample``.  ``by`` is the stratum label; with a scalar
    ``fractions`` every stratum uses the same rate.  Keying the hash on
    the DOCUMENT key (pass ``key: <expr>``, default ``$_id``) keeps the
    decision per-document, not per-stratum."""
    by = expression["by"]
    fractions = expression["fractions"]
    seed = int(expression.get("seed", 0))
    key = expression.get("key", "$_id")
    default = float(expression.get("default", 0.0))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        # a null key must not silently drop the row (null < thresh is
        # null -> filtered): null-keyed rows hash as "" — one shared,
        # deterministic decision per stratum; give documents a real
        # unique key for per-document decisions
        key_str = F.coalesce(
            compile_expr(key, ectx).cast("string"), F.lit(""))
        h = F.pmod(md5_long(key_str, seed), F.lit(1_000_000))
        if isinstance(fractions, dict):
            stratum = compile_expr(by, ectx).cast("string")
            thresh: Column = F.lit(int(default * 1_000_000))
            for value, frac in fractions.items():
                thresh = F.when(
                    stratum == str(value), F.lit(int(float(frac) * 1_000_000))
                ).otherwise(thresh)
        else:
            thresh = F.lit(int(float(fractions) * 1_000_000))
        return df.filter(h < thresh)

    return fn


@register_stage("$chunkText", "per_batch")
def chunk_text_stage(expression: Any, ctx: Context) -> StageFn:
    """Split a text column into overlapping WORD-window chunks (training
    context windows / RAG passages): ``{input, size, overlap?, as}`` ->
    ``array<struct<idx, text, n_words>>``.

    Pure HOF column algebra (split -> sequence -> slice -> join): row-
    local, zero shuffle, pipelines with the scan.  The last chunk may be
    short; a document shorter than ``size`` yields one chunk.

    Null semantics, IDENTICAL across units (advisor r8 — they used to
    diverge): null text -> null; a non-null document with no units ->
    ``[]`` (unit "words": empty or whitespace-only — words are the
    eval-family split, Java ``\\s`` with empties dropped, so
    whitespace-only docs no longer yield phantom empty-string chunks;
    unit "tokens": empty only — whitespace is real bytes and
    tokenizes).

    r7: ``unit: "tokens"`` + ``tokenizer: {merges}`` chunks by REAL BPE
    token windows — what a context window actually measures — emitting
    ``array<struct<idx, text, n_tokens>>`` where each chunk's text is
    the EXACT substring of the document its tokens cover (byte-offset
    slice — whitespace intact; a window edge inside a multi-byte
    codepoint keeps the longest whole-character substring).  Same
    Arrow-batched tokenizer boundary as ``$truncateTokens``: merge
    table broadcast once per executor, row-local, zero shuffle."""
    inp = expression["input"]
    size = int(expression["size"])
    overlap = int(expression.get("overlap", 0))
    as_field = expression.get("as", "chunks")
    unit = {"token": "tokens", "word": "words"}.get(
        expression.get("unit", "words"), expression.get("unit", "words"))
    tokenizer = expression.get("tokenizer")
    if unit not in ("words", "tokens"):
        raise ValueError(f"$chunkText unit must be words|tokens, got {unit}")
    if unit == "tokens" and (tokenizer is None or "merges" not in tokenizer):
        raise ValueError(
            "$chunkText unit 'tokens' needs tokenizer: {merges: ...}")
    if unit == "words" and tokenizer is not None:
        raise ValueError("$chunkText tokenizer applies to unit 'tokens'")
    if not 0 <= overlap < size:
        raise ValueError("$chunkText needs 0 <= overlap < size")
    stride = size - overlap

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        if unit == "tokens":
            from . import bpe as _bpe

            _bpe.ship()
            bc = _bpe.broadcast_tokenizer(c, tokenizer["merges"])
            chunker = _bpe.chunk_tokens

            cache: dict = {}  # per-task word memo, see $tokenCount

            @F.pandas_udf(
                "array<struct<idx:bigint,text:string,n_tokens:bigint>>")
            def _chunks(s: pd.Series) -> pd.Series:
                _bpe.trim_memo(cache)
                rk, _ = bc.value
                return s.map(
                    lambda t: chunker(t, size, stride, rk, cache))

            return df.withColumn(as_field, _chunks(text))
        words = _eval_words(text)
        n = F.size(words)
        # chunk starts: 0, stride, 2*stride, ...; the last window reaches
        # the end (ceil), with no redundant tail chunk once covered; docs
        # shorter than the overlap still yield their single chunk
        n_chunks = F.when(
            n > 0,
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil((n - F.lit(overlap)) / F.lit(stride)),
            ),
        ).otherwise(F.lit(0)).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("idx"),
                F.array_join(
                    F.slice(words, i * stride + 1, size), " "
                ).alias("text"),
                F.least(F.lit(size), n - i * stride).cast("long")
                .alias("n_words"),
            ),
        )
        chunk_t = "array<struct<idx:bigint,text:string,n_words:bigint>>"
        return df.withColumn(
            as_field,
            F.when(text.isNull(), F.lit(None).cast(chunk_t))
            .when(n_chunks > 0, chunks)
            .otherwise(F.array().cast(chunk_t)),
        )

    return fn


