"""Quality-filter family: $langId, $qualityScore, $repetitionScore,
$gopherRules, $c4Filter.

Split out of functions/datapipe.py (r10); the import surface stays
``functions.datapipe`` — the aggregator re-exports every name.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage

from .dp_dedup import _WS, _spread


def _half_up6(col: Column) -> Column:
    """Half-up at 6 digits via the floor formula — bit-identical to the
    SQL-oracle ``_r(expr, 6)`` convention (plain round() differs between
    engines on boundary halves)."""
    return (F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).cast("double")



_STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "it", "that", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "de", "y", "es", "un", "una", "que", "por"],
}


def _stopword_hits(words: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(sw, w)))


@register_stage("$langId", "per_batch")
def lang_id_stage(expression: Any, ctx: Context) -> StageFn:
    """Stopword-vote language ID: ``{input, as}``.  Argmax over per-language
    stopword hit counts ('und' for ties/zero hits).  Pure column algebra —
    at 100 TB this is a map-only pass."""
    inp = expression["input"]
    as_field = expression.get("as", "lang_pred")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        words = F.split(F.lower(text), "[^a-z]+")
        # materialize the hit counts ONCE in an intermediate projection:
        # HOFs are interpreted (no codegen CSE), and the argmax when-chain
        # references each score ~6x — inlined, that re-runs split+filter
        # ~24x per row.  CollapseProject keeps non-cheap expressions in
        # their own project, so the struct evaluates once.
        hits = F.struct(*[
            _stopword_hits(words, lang).alias(lang) for lang in _STOPWORDS
        ])
        tmp = df.withColumn("__lang_hits", hits)
        scores = {lang: F.col(f"__lang_hits.{lang}") for lang in _STOPWORDS}
        best = F.greatest(*scores.values())
        expr = F.lit("und")
        # deterministic tie-break: language order en,de,fr,es (first wins)
        for lang in reversed(list(_STOPWORDS)):
            expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
        expr = F.when(best <= 0, F.lit("und")).otherwise(expr)
        return tmp.withColumn(as_field, expr).drop("__lang_hits")

    return fn


@register_stage("$qualityScore", "per_batch")
def quality_score_stage(expression: Any, ctx: Context) -> StageFn:
    """Heuristic doc quality in [0,1]: ``{input, as}`` — blend of length
    band, alpha ratio, punctuation ratio and mean word length.  Map-only."""
    inp = expression["input"]
    as_field = expression.get("as", "quality")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        n = F.length(text).cast("double")
        alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("double")
        punct = F.length(F.regexp_replace(text, "[^.,;:!?]", "")).cast("double")
        words = F.split(F.trim(text), "\\s+")
        n_words = F.size(words).cast("double")
        len_score = F.least(n / F.lit(500.0), F.lit(1.0))
        alpha_ratio = F.try_divide(alpha, n)
        punct_penalty = F.lit(1.0) - F.least(F.try_divide(punct * 10.0, n), F.lit(1.0))
        mean_wl = F.try_divide(n, n_words)
        wl_score = F.when((mean_wl >= 3) & (mean_wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
        score = F.round(
            (len_score + F.coalesce(alpha_ratio, F.lit(0.0))
             + F.coalesce(punct_penalty, F.lit(1.0)) + wl_score) / F.lit(4.0), 6)
        return df.withColumn(as_field, score)

    return fn


@register_stage("$repetitionScore", "per_batch")
def repetition_score_stage(expression: Any, ctx: Context) -> StageFn:
    """Gopher-style repetition signals (Rae et al. 2021, table A1), the
    classic pretraining-data repetition filters: ``{input, as?}`` adds a
    struct of six doubles (rounded to 6):

    - ``dup_line_frac`` — 1 − distinct/total over non-empty lines
    - ``dup_line_char_frac`` — characters inside lines occurring more
      than once / total line characters
    - ``top2_char_frac`` / ``top3_char_frac`` / ``top4_char_frac`` —
      occurrences × length of the most frequent word n-gram / length of
      the normalized text (0.0 unless it occurs at least twice; ties
      break to the lexicographically smallest n-gram; capped at 1.0 —
      overlapping occurrences can over-count)
    - ``dup5_char_frac`` — Σ occurrences × length over 5-grams occurring
      more than once / normalized length, capped at 1.0 (an
      overlap-agnostic upper bound of Gopher's covered-character
      fraction — documented approximation)

    Normalization: words = lowercased text with non-[a-z0-9] mapped to
    spaces, split on whitespace; lines split on ``\\n``, empty lines
    dropped.  100 TB shape: pure row-local column program — sort_array +
    one aggregate() fold per metric, no shuffle, no Python."""
    inp = expression["input"]
    as_field = expression.get("as", "repetition")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        # r13: six sort+fold passes per row — fan a single-scan-task
        # corpus out first (10 s -> ~1 s at sf0.1)
        out = _spread(df).withColumn("__rep_t", text)
        # non-empty lines, sorted so duplicates are neighbors
        out = out.withColumn(
            "__rep_lines",
            F.sort_array(F.filter(F.split(F.col("__rep_t"), "\n"),
                                  lambda x: x != F.lit(""))),
        )
        # normalized word array + joined length (the n-gram denominator)
        out = out.withColumn(
            "__rep_w",
            F.filter(
                F.split(F.regexp_replace(F.lower(F.col("__rep_t")),
                                         "[^a-z0-9]", " "), " "),
                lambda x: x != F.lit(""),
            ),
        ).withColumn(
            "__rep_wlen", F.length(F.concat_ws(" ", F.col("__rep_w")))
        )
        # neighbor-run fold over a sorted array: on the SECOND element of
        # a run both occurrences' characters become "duplicated", each
        # further one adds its own — O(L log L), no pairwise compare
        run_fold = """
            aggregate({arr},
              named_struct('prev', cast(null as string), 'run', 0L,
                           'best', 0L, 'bestlen', 0L,
                           'dup', 0L, 'tot', 0L),
              (acc, x) -> named_struct(
                 'prev', x,
                 'run', IF(x <=> acc.prev, acc.run + 1L, 1L),
                 'best', IF(IF(x <=> acc.prev, acc.run + 1L, 1L) > acc.best,
                            IF(x <=> acc.prev, acc.run + 1L, 1L), acc.best),
                 'bestlen', IF(IF(x <=> acc.prev, acc.run + 1L, 1L) > acc.best,
                               length(x), acc.bestlen),
                 'dup', acc.dup + IF(x <=> acc.prev,
                        IF(acc.run = 1L, 2L, 1L) * length(x), 0L),
                 'tot', acc.tot + length(x)))
        """
        out = out.withColumn(
            "__rep_lagg", F.expr(run_fold.format(arr="__rep_lines")))

        def grams(n: int) -> Column:
            return F.expr(f"""
                IF(size(__rep_w) >= {n},
                   sort_array(transform(
                      sequence(1, size(__rep_w) - {n} + 1),
                      i -> concat_ws(' ', slice(__rep_w, i, {n})))),
                   array())
            """)

        for n in (2, 3, 4, 5):
            out = out.withColumn(f"__rep_g{n}", grams(n)).withColumn(
                f"__rep_a{n}", F.expr(run_fold.format(arr=f"__rep_g{n}")))

        def r6(col: Column) -> Column:
            # coalesce BEFORE least: Spark's least() skips nulls, so a
            # 0/0 try_divide null would otherwise "win" as 1.0
            return F.round(
                F.least(F.coalesce(col, F.lit(0.0)), F.lit(1.0)), 6)

        nlines = F.size("__rep_lines").cast("double")
        la = F.col("__rep_lagg")
        wlen = F.col("__rep_wlen").cast("double")

        def top_frac(n: int) -> Column:
            a = F.col(f"__rep_a{n}")
            return r6(
                F.when(
                    a["best"] >= 2,
                    F.try_divide(
                        (a["best"] * a["bestlen"]).cast("double"), wlen),
                ).otherwise(F.lit(0.0))
            )

        rep = F.struct(
            r6(F.when(nlines > 0,
                      F.lit(1.0) - F.size(F.array_distinct("__rep_lines"))
                      / nlines).otherwise(F.lit(0.0))
               ).alias("dup_line_frac"),
            r6(F.try_divide(la["dup"].cast("double"),
                            la["tot"].cast("double"))
               ).alias("dup_line_char_frac"),
            top_frac(2).alias("top2_char_frac"),
            top_frac(3).alias("top3_char_frac"),
            top_frac(4).alias("top4_char_frac"),
            r6(F.try_divide(F.col("__rep_a5")["dup"].cast("double"), wlen)
               ).alias("dup5_char_frac"),
        )
        drops = (["__rep_t", "__rep_lines", "__rep_w", "__rep_wlen",
                  "__rep_lagg"]
                 + [f"__rep_g{n}" for n in (2, 3, 4, 5)]
                 + [f"__rep_a{n}" for n in (2, 3, 4, 5)])
        return out.withColumn(as_field, rep).drop(*drops)

    return fn


@register_stage("$gopherRules", "per_batch")
def gopher_rules_stage(expression: Any, ctx: Context) -> StageFn:
    """Gopher's published document-quality filters (Rae et al. 2021,
    Table A1 — the non-repetition rules; `$repetitionScore` carries the
    repetition table): ``{input, as?, ...thresholds}`` adds a struct of
    the measured signals plus a ``pass`` verdict:

    - ``n_words`` — whitespace word count; pass requires
      ``minWords`` ≤ n ≤ ``maxWords`` (50 / 100000)
    - ``mean_word_len`` — characters per word; ``minMeanWordLen`` /
      ``maxMeanWordLen`` (3 / 10)
    - ``hash_word_ratio`` / ``ellipsis_word_ratio`` — ``#`` count and
      non-overlapping ``...``/``…`` count over words; each must stay
      ≤ ``maxSymbolRatio`` (0.1)
    - ``bullet_line_frac`` — non-empty lines starting with a bullet
      (``• ‣ ▪ - *``); ≤ ``maxBulletFrac`` (0.9)
    - ``ellipsis_line_frac`` — non-empty lines ending in an ellipsis;
      ≤ ``maxEllipsisLineFrac`` (0.3)
    - ``alpha_word_frac`` — words containing at least one ``[A-Za-z]``;
      ≥ ``minAlphaFrac`` (0.8)
    - ``stop_word_hits`` — how many of Gopher's eight stop words (the,
      be, to, of, and, that, have, with) appear as lowercase words;
      ≥ ``minStopWords`` (2)

    Ratios round half-up to 6 digits; an empty document measures zeros
    and fails.  100 TB shape: pure row-local column program (split /
    filter / aggregate higher-order functions), no shuffle, no Python.
    """
    inp = expression["input"]
    as_field = expression.get("as", "gopher")
    min_words = int(expression.get("minWords", 50))
    max_words = int(expression.get("maxWords", 100_000))
    min_mwl = float(expression.get("minMeanWordLen", 3))
    max_mwl = float(expression.get("maxMeanWordLen", 10))
    max_symbol = float(expression.get("maxSymbolRatio", 0.1))
    max_bullet = float(expression.get("maxBulletFrac", 0.9))
    max_ell_line = float(expression.get("maxEllipsisLineFrac", 0.3))
    min_alpha = float(expression.get("minAlphaFrac", 0.8))
    min_stop = int(expression.get("minStopWords", 2))

    STOP = ["the", "be", "to", "of", "and", "that", "have", "with"]

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        # null text measures like the empty document (zeros, fail) —
        # without the coalesce, size(split(NULL)) would surface as -1
        out = df.withColumn(
            "__gr_t", F.coalesce(text.cast("string"), F.lit("")))
        t = F.col("__gr_t")
        # explicit whitespace class: Java's \s and RE2's \s disagree on
        # vertical tab, so the oracle would tokenize differently
        words = F.filter(F.split(t, _WS + "+"),
                         lambda w: w != F.lit(""))
        n_words = F.size(words).cast("double")
        word_chars = F.aggregate(
            F.transform(words, F.length), F.lit(0),
            lambda acc, v: acc + v).cast("double")
        mean_wl = F.coalesce(F.try_divide(word_chars, n_words), F.lit(0.0))
        hashes = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
                  ).cast("double")
        ellipses = F.regexp_count(t, F.lit("\\.\\.\\.|…")).cast("double")
        hash_ratio = F.coalesce(F.try_divide(hashes, n_words), F.lit(0.0))
        ell_ratio = F.coalesce(F.try_divide(ellipses, n_words), F.lit(0.0))
        # lines split on \r?\n (a CRLF \r left on the line would let
        # Java's $ match before it while RE2's $ would not) and trim
        # [ \t] at both ends — F.trim is space-only AND has an optional
        # second param, so bare in transform() it would bind the array
        # index as a trim-character set (the _seeded_hasher arity trap)
        lines = F.filter(
            F.transform(
                F.split(t, "\r?\n"),
                lambda l: F.regexp_replace(l, "^[ \\t]+|[ \\t]+$", "")),
            lambda l: l != F.lit(""))
        n_lines = F.size(lines).cast("double")
        bullet_frac = F.coalesce(F.try_divide(
            F.size(F.filter(lines,
                            lambda l: l.rlike("^[•‣▪*-]"))).cast("double"),
            n_lines), F.lit(0.0))
        # \z (absolute end), not $: Java's $ also matches before a
        # residual final \r (or U+2028/U+2029/U+0085) that the [ \t]
        # trim keeps, where RE2's $ and Python's $ do not
        ell_line_frac = F.coalesce(F.try_divide(
            F.size(F.filter(lines,
                            lambda l: l.rlike("(\\.\\.\\.|…)\\z"))
                   ).cast("double"),
            n_lines), F.lit(0.0))
        alpha_frac = F.coalesce(F.try_divide(
            F.size(F.filter(words,
                            lambda w: w.rlike("[A-Za-z]"))).cast("double"),
            n_words), F.lit(0.0))
        stop_hits = F.size(F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(s) for s in STOP])))
        sig = {
            "n_words": n_words.cast("long"),
            "mean_word_len": _half_up6(mean_wl),
            "hash_word_ratio": _half_up6(hash_ratio),
            "ellipsis_word_ratio": _half_up6(ell_ratio),
            "bullet_line_frac": _half_up6(bullet_frac),
            "ellipsis_line_frac": _half_up6(ell_line_frac),
            "alpha_word_frac": _half_up6(alpha_frac),
            "stop_word_hits": stop_hits.cast("long"),
        }
        # thresholds compare the ROUNDED signals, so the verdict is
        # exactly reproducible from the exposed numbers (and the oracle)
        ok = (
            (sig["n_words"] >= min_words) & (sig["n_words"] <= max_words)
            & (sig["mean_word_len"] >= min_mwl)
            & (sig["mean_word_len"] <= max_mwl)
            & (sig["hash_word_ratio"] <= max_symbol)
            & (sig["ellipsis_word_ratio"] <= max_symbol)
            & (sig["bullet_line_frac"] <= max_bullet)
            & (sig["ellipsis_line_frac"] <= max_ell_line)
            & (sig["alpha_word_frac"] >= min_alpha)
            & (sig["stop_word_hits"] >= min_stop)
        )
        struct = F.struct(
            *[v.alias(k) for k, v in sig.items()], ok.alias("pass"))
        return out.withColumn(as_field, struct).drop("__gr_t")

    return fn


@register_stage("$c4Filter", "per_batch")
def c4_filter_stage(expression: Any, ctx: Context) -> StageFn:
    """C4-style cleaning (Raffel et al. 2020 §2.2, the public heuristics
    behind the C4 corpus): ``{input, as?, minWords?}`` adds a struct:

    - ``clean_text`` — the kept lines joined with ``\\n``: a line stays
      when it ends in terminal punctuation (``. ! ? "``), has at least
      ``minWords`` words (default 5), and does not contain
      ``javascript`` (case-insensitive) — C4's line rules
    - ``n_lines`` / ``n_kept`` — line counts before/after
    - ``drop_doc`` — C4's document rules: fewer than 3 kept sentences
      (terminal-punctuation count over kept lines), or the raw text
      contains ``{`` (code) or ``lorem ipsum``

    Deviation from the paper: the "bad words" blocklist is not shipped
    (policy-laden, corpus-specific) — compose with ``$match`` over
    ``clean_text`` for custom blocklists.  100 TB shape: pure row-local
    column program, no shuffle, no Python."""
    inp = expression["input"]
    as_field = expression.get("as", "c4")
    min_words = int(expression.get("minWords", 5))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        out = df.withColumn("__c4_t", text)
        lines = F.split(F.col("__c4_t"), "\n")
        keep = F.filter(
            lines,
            lambda x: (
                F.trim(x).rlike('[.!?"]$')
                & (F.size(F.filter(F.split(F.trim(x), "\\s+"),
                                   lambda w: w != F.lit("")))
                   >= F.lit(min_words))
                & ~F.lower(x).contains("javascript")
            ),
        )
        out = out.withColumn("__c4_keep", keep)
        clean = F.concat_ws("\n", F.col("__c4_keep"))
        # sentence count: terminal punctuation marks across kept lines
        n_sent = F.length(F.regexp_replace(clean, "[^.!?]", ""))
        drop = (
            (n_sent < 3)
            | F.col("__c4_t").contains("{")
            | F.lower(F.col("__c4_t")).contains("lorem ipsum")
        )
        st = F.struct(
            clean.alias("clean_text"),
            F.coalesce(F.size(lines), F.lit(0)).cast("int")
            .alias("n_lines"),
            F.coalesce(F.size(F.col("__c4_keep")), F.lit(0)).cast("int")
            .alias("n_kept"),
            F.coalesce(drop, F.lit(True)).alias("drop_doc"),
        )
        return out.withColumn(as_field, st).drop("__c4_t", "__c4_keep")

    return fn




@register_stage("$lexicalDiversity", "per_batch")
def lexical_diversity_stage(expression: Any, ctx: Context) -> StageFn:
    """Lexical diversity: ``{input, window?, caseSensitive?, maxWords?,
    as?}`` adds ``struct<n_tokens, n_types, ttr, mattr>`` — the
    type-token ratio and its length-robust moving-average form MATTR
    (Covington & McFall 2010): the mean, over every length-``window``
    sliding span, of distinct-types/window.  Plain TTR decays with
    document length by construction (types saturate while tokens keep
    counting), which is why quality pipelines report MATTR; a document
    shorter than ``window`` (default 50) reports its plain TTR as
    ``mattr`` (the paper's convention for short texts).

    Tokens are Java-``\\s`` words, lowercased unless ``caseSensitive``
    (types are case-folded by default — "The"/"the" is one type).
    Null text -> null struct; an effectively-empty document scores
    ``(0, 0, 0.0, 0.0)``.

    100 TB shape: pure higher-order-function column program — row-local,
    zero shuffle, whole-stage codegen.  Per-row cost is
    O((n-window)·window); ``maxWords`` (default 2000) is the honest cap,
    same discipline as the eval family."""
    inp = expression["input"]
    window = int(expression.get("window", 50))
    case_sensitive = bool(expression.get("caseSensitive", False))
    max_words = int(expression.get("maxWords", 2000))
    as_field = expression.get("as", "diversity")
    if window < 2:
        raise ValueError("$lexicalDiversity window must be >= 2")
    if max_words < window:
        raise ValueError(
            "$lexicalDiversity maxWords must be >= window")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        folded = text if case_sensitive else F.lower(text)
        words = F.slice(
            F.filter(F.split(F.trim(folded), r"\s+"),
                     lambda x: x != F.lit("")),
            1, max_words)
        stage = df.withColumn("__ld_w", words)
        w = F.col("__ld_w")
        n = F.size(w)
        types = F.size(F.array_distinct(w))
        ttr = F.when(n > 0, types.cast("double") / n.cast("double")) \
            .otherwise(F.lit(0.0))
        # mean over sliding windows of distinct/window; spans = n-W+1
        spans = n - F.lit(window - 1)
        mattr = F.when(
            n >= window,
            F.aggregate(
                F.sequence(F.lit(1), spans),
                F.lit(0.0),
                lambda acc, i: acc + F.size(F.array_distinct(
                    F.slice(w, i, window))).cast("double"),
            ) / (spans.cast("double") * float(window)),
        ).otherwise(ttr)
        st = F.struct(
            n.cast("long").alias("n_tokens"),
            types.cast("long").alias("n_types"),
            ttr.alias("ttr"), mattr.alias("mattr"))
        null_st = F.lit(None).cast(
            "struct<n_tokens:bigint,n_types:bigint,"
            "ttr:double,mattr:double>")
        return stage.withColumn(
            as_field, F.when(text.isNull(), null_st).otherwise(st),
        ).drop("__ld_w")

    return fn
