"""Corpus statistics for training-data curation: inter-annotator
agreement ($cohenKappa, $fleissKappa), corpus drift ($corpusDivergence),
generation diversity ($distinctN), frequency-law fit ($zipfFit) and
preference-pair strength fitting ($bradleyTerry).

All are published textbook algorithms (Cohen 1960; Fleiss 1971; Kullback
& Leibler 1951 / Lin 1991 for JSD; Li et al. 2016 "A Diversity-Promoting
Objective Function for Neural Conversation Models"; Zipf 1949; Bradley &
Terry 1952 fitted with Hunter 2004's MM algorithm) implemented as pure
JVM column programs — no Arrow boundary anywhere in this module.  Every
stage is a corpus-wide reduction and therefore corpus-only-gated in
streaming (streaming/runtime.py), like $bleuCorpus.

Scale notes (the 100 TB story):
- $cohenKappa: one pass for the observed term; the expected term joins
  (unweighted) or broadcast-crosses (weighted) two LABEL-cardinality
  aggregates — bounded by the label alphabet, not the data.
- $fleissKappa: two key-partitioned aggregations (item x rating, item)
  plus a rating-cardinality marginal; nothing collected.
- $corpusDivergence: two token aggregations + one full-outer join on the
  gram key — the join is vocabulary-sized and hash-partitioned.
- $distinctN: one generated explode + one aggregate (count / distinct
  per order), the $ngramLmTrain shape.
- $zipfFit: the rank assignment runs over the DISTINCT-FREQUENCY table
  (O(sqrt(tokens)) rows by Heaps-law-style concentration), never over
  the vocabulary, so the single-partition rank window is metadata-sized
  even when the vocab is 10^8.
- $bradleyTerry: each MM round is one join + one key-partitioned
  aggregate over the PAIR table; lineage is pinned every few rounds
  (``context.pin``, eager).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..context import Context, pin
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage
from .dp_dedup import _pin_computed, _spread
from .dp_lm import _LM_TOKENIZERS, _lm_tokens


# --------------------------------------------------------------- kappa

@register_stage("$cohenKappa", "corpus")
def cohen_kappa_stage(expression: Any, ctx: Context) -> StageFn:
    """Cohen's kappa (Cohen 1960) between two annotators' label columns
    — THE chance-corrected agreement statistic for "are these two
    labelers consistent enough to train on?": ``{a, b, weights?}`` ->
    ONE row ``(n, po, pe, kappa)``.

    ``weights: "none"`` (default, nominal labels): po = fraction of
    exact agreements, pe = sum_k pa(k)*pb(k).  ``weights: "linear" |
    "quadratic"`` (ordinal NUMERIC labels, Cohen 1968): kappa_w =
    1 - sum(O_ij*w_ij)/sum(E_ij*w_ij) with w = |i-j| or (i-j)^2; po/pe
    are reported as the weighted observed/expected DISAGREEMENT
    complements (1 - normalized disagreement) so kappa keeps the same
    (po - pe)/(1 - pe) reading.

    Rows where either label is null are excluded (standard practice).
    The expected term never touches the data again: it is computed from
    the two per-label marginal aggregates — joined on label (nominal)
    or broadcast-crossed (weighted; |A| x |B| label pairs).
    """
    a_e, b_e = expression["a"], expression["b"]
    weights = expression.get("weights", "none")
    if weights not in ("none", "linear", "quadratic"):
        raise ValueError(
            "$cohenKappa weights must be none | linear | quadratic")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        sctx = ExprContext(schema=df.schema)
        a = compile_expr(a_e, sctx)
        b = compile_expr(b_e, sctx)
        if weights != "none":
            a, b = a.cast("double"), b.cast("double")
        else:
            a, b = a.cast("string"), b.cast("string")
        base = df.select(a.alias("__a"), b.alias("__b")).filter(
            F.col("__a").isNotNull() & F.col("__b").isNotNull())
        ma = base.groupBy(F.col("__a").alias("__l")).agg(
            F.count(F.lit(1)).cast("double").alias("__ca"))
        mb = base.groupBy(F.col("__b").alias("__l")).agg(
            F.count(F.lit(1)).cast("double").alias("__cb"))
        if weights == "none":
            obs = base.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.avg((F.col("__a") == F.col("__b")).cast("double"))
                .alias("po"))
            pe_row = (
                ma.join(mb, "__l")
                .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__s"))
            )
            out = obs.join(F.broadcast(pe_row), F.lit(True), "left")
            pe = F.col("__s") / (F.col("n") * F.col("n")).cast("double")
        else:
            w = (
                (lambda x, y: F.abs(x - y)) if weights == "linear"
                else (lambda x, y: (x - y) * (x - y))
            )
            obs = base.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.avg(w(F.col("__a"), F.col("__b"))).alias("__dobs"))
            pe_row = (
                ma.crossJoin(F.broadcast(
                    mb.select(F.col("__l").alias("__lb"), "__cb")))
                .agg(F.sum(F.col("__ca") * F.col("__cb")
                           * w(F.col("__l"), F.col("__lb")))
                     .alias("__s"))
            )
            out = obs.join(F.broadcast(pe_row), F.lit(True), "left")
            dexp = F.col("__s") / (F.col("n") * F.col("n")).cast("double")
            # report complements so kappa = (po-pe)/(1-pe) holds in both
            # modes; scale by the expected disagreement
            pe = 1.0 - dexp
        po = F.col("po") if weights == "none" \
            else F.lit(1.0) - F.col("__dobs")
        kappa = F.when(
            F.lit(1.0) - pe == 0.0,
            F.when(po == pe, F.lit(1.0)).otherwise(
                F.lit(None).cast("double")),
        ).otherwise((po - pe) / (F.lit(1.0) - pe))
        return out.select(
            F.col("n"),
            po.alias("po"),
            pe.alias("pe"),
            kappa.alias("kappa"),
        )

    return fn


@register_stage("$fleissKappa", "corpus")
def fleiss_kappa_stage(expression: Any, ctx: Context) -> StageFn:
    """Fleiss' kappa (Fleiss 1971) for m raters in long format:
    ``{item, rating}`` (one row per (item, rater) judgment) -> ONE row
    ``(items, raters, p_bar, p_e, kappa)``.

    Standard Fleiss assumes the SAME number of ratings per item; an
    unbalanced table raises at execution (raise_error column, the
    fail-loudly convention of $ngramLmScore) instead of silently
    computing a biased statistic.  Per-item agreement
    P_i = (sum_k n_ik^2 - m) / (m(m-1)); chance agreement
    p_e = sum_k p_k^2 over the pooled category marginals.
    """
    item_e, rating_e = expression["item"], expression["rating"]

    def fn(df: DataFrame, c: Context) -> DataFrame:
        sctx = ExprContext(schema=df.schema)
        item = compile_expr(item_e, sctx).cast("string")
        rating = compile_expr(rating_e, sctx).cast("string")
        base = df.select(item.alias("__i"), rating.alias("__r")).filter(
            F.col("__i").isNotNull() & F.col("__r").isNotNull())
        cell = base.groupBy("__i", "__r").agg(
            F.count(F.lit(1)).cast("double").alias("__n"))
        per_item = cell.groupBy("__i").agg(
            F.sum("__n").alias("__m"),
            F.sum(F.col("__n") * F.col("__n")).alias("__sq"))
        stats = per_item.agg(
            F.count(F.lit(1)).cast("long").alias("items"),
            F.min("__m").alias("__mmin"),
            F.max("__m").alias("__mmax"),
            F.sum("__sq").alias("__sqsum"),
        )
        marg = cell.groupBy("__r").agg(F.sum("__n").alias("__ck"))
        pe_row = marg.agg(
            F.sum(F.col("__ck") * F.col("__ck")).alias("__cksq"),
            F.sum("__ck").alias("__tot"))
        out = stats.join(F.broadcast(pe_row), F.lit(True), "left")
        m = F.when(
            F.col("__mmin") != F.col("__mmax"),
            F.raise_error(F.lit(
                "$fleissKappa needs the same number of ratings per "
                "item (Fleiss 1971); got an unbalanced table — filter "
                "or impute first")).cast("double"),
        ).otherwise(F.col("__mmax"))
        n_items = F.col("items").cast("double")
        p_bar = (F.col("__sqsum") - n_items * m) \
            / (n_items * m * (m - 1.0))
        p_e = F.col("__cksq") / (F.col("__tot") * F.col("__tot"))
        kappa = F.when(
            F.lit(1.0) - p_e == 0.0,
            F.when(p_bar == p_e, F.lit(1.0)).otherwise(
                F.lit(None).cast("double")),
        ).otherwise((p_bar - p_e) / (F.lit(1.0) - p_e))
        return out.select(
            F.col("items"),
            m.cast("long").alias("raters"),
            p_bar.alias("p_bar"),
            p_e.alias("p_e"),
            kappa.alias("kappa"),
        )

    return fn


# ---------------------------------------------------------- divergence

@register_stage("$corpusDivergence", "corpus")
def corpus_divergence_stage(expression: Any, ctx: Context) -> StageFn:
    """Token-distribution drift between the pipeline corpus and a
    reference collection: ``{input, against, againstField?, n?,
    tokenizer?, maxWords?, k?}`` -> ONE row ``(kl_pq, kl_qp, jsd,
    cross_entropy, vocab_p, vocab_q, vocab_jaccard, tokens_p,
    tokens_q)``.

    P = this corpus's n-gram distribution, Q = the reference's, both
    additively smoothed (add-``k``, default 1) over the UNION
    vocabulary +1 unseen slot so every KL term is finite.  ``jsd`` is
    the Jensen-Shannon divergence in bits (log2, Lin 1991 — bounded
    [0,1]); ``cross_entropy`` is H(P, Q) in bits, the "how surprised
    is a Q-trained model by P" reading; vocab_jaccard is the unsmoothed
    vocabulary overlap.  The standard pretraining-mix drift check
    (compare a candidate crawl against a trusted reference corpus).

    One full-outer join on the gram key, vocabulary-sized and
    hash-partitioned; the scalar totals ride a 1-row broadcast.
    """
    inp = expression["input"]
    against = expression["against"]
    against_field = expression.get("againstField", "text")
    n = int(expression.get("n", 1))
    tok = expression.get("tokenizer", "whitespace")
    max_words = int(expression.get("maxWords", 100_000))
    k = float(expression.get("k", 1.0))
    if n < 1 or n > 4:
        raise ValueError("$corpusDivergence n must be in 1..4")
    if tok not in _LM_TOKENIZERS:
        raise ValueError(
            f"$corpusDivergence tokenizer must be one of {_LM_TOKENIZERS}")
    if k <= 0:
        raise ValueError("$corpusDivergence k must be > 0")
    if max_words < 1:
        raise ValueError("$corpusDivergence maxWords must be >= 1")

    def grams_of(df: DataFrame, text: Column) -> DataFrame:
        # r13: tokens bound to a column (captured-expression HOF trap:
        # the per-position slice re-tokenized the doc per element) and
        # single-task corpora fanned out before the explode
        bound = _spread(df).withColumn(
            "__cd_toks", _lm_tokens(tok, text, max_words))
        toks = F.col("__cd_toks")
        g = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(n), F.size(toks)),
                lambda i: F.array_join(F.slice(toks, i - (n - 1), n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            bound.select(F.explode(g).alias("__g"))
            .groupBy("__g")
            .agg(F.count(F.lit(1)).cast("double").alias("__c"))
        )

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ref = c.collection(against)
        p = grams_of(
            df, compile_expr(inp, ExprContext(schema=df.schema)))
        q = grams_of(
            ref, compile_expr(f"${against_field}",
                              ExprContext(schema=ref.schema)))
        # r13: pinned — the totals aggregate and the divergence sums
        # each re-inline this vocabulary-sized join (model-table class,
        # the $ngramLmScore pin rationale), re-tokenizing both corpora
        # per reference otherwise
        joined = _pin_computed(
            p.withColumnRenamed("__c", "__cp").join(
                q.withColumnRenamed("__c", "__cq"), "__g", "full_outer"))
        tot = joined.agg(
            F.sum(F.coalesce("__cp", F.lit(0.0))).alias("__np"),
            F.sum(F.coalesce("__cq", F.lit(0.0))).alias("__nq"),
            F.count(F.lit(1)).cast("double").alias("__v"),
            F.sum(F.col("__cp").isNotNull().cast("long")).alias("vp"),
            F.sum(F.col("__cq").isNotNull().cast("long")).alias("vq"),
            F.sum((F.col("__cp").isNotNull()
                   & F.col("__cq").isNotNull()).cast("long"))
            .alias("__vb"),
        )
        j = joined.join(F.broadcast(tot), F.lit(True), "left")
        # smoothed probabilities over union vocab + 1 unseen slot
        denom_p = F.col("__np") + k * (F.col("__v") + 1.0)
        denom_q = F.col("__nq") + k * (F.col("__v") + 1.0)
        pp = (F.coalesce("__cp", F.lit(0.0)) + k) / denom_p
        qq = (F.coalesce("__cq", F.lit(0.0)) + k) / denom_q
        mm = (pp + qq) / 2.0
        log2 = F.log(F.lit(2.0))
        sums = j.agg(
            F.sum(pp * F.log(pp / qq) / log2).alias("__klpq"),
            F.sum(qq * F.log(qq / pp) / log2).alias("__klqp"),
            F.sum(pp * F.log(pp / mm) / log2 / 2.0
                  + qq * F.log(qq / mm) / log2 / 2.0).alias("__jsd"),
            F.sum(-pp * F.log(qq) / log2).alias("__ce"),
            F.max("vp").alias("vp"), F.max("vq").alias("vq"),
            F.max("__vb").alias("__vb"),
            F.max("__np").alias("__np"), F.max("__nq").alias("__nq"),
            F.max("__v").alias("__v"),
        )
        # the unseen slot contributes one more term to each sum, and
        # every union-vocab gram absent from one side is already in the
        # join; add the unseen-slot terms in closed form
        up = k / denom_p
        uq = k / denom_q
        um = (up + uq) / 2.0
        return sums.select(
            (F.col("__klpq") + up * F.log(up / uq) / log2)
            .alias("kl_pq"),
            (F.col("__klqp") + uq * F.log(uq / up) / log2)
            .alias("kl_qp"),
            (F.col("__jsd") + up * F.log(up / um) / log2 / 2.0
             + uq * F.log(uq / um) / log2 / 2.0).alias("jsd"),
            (F.col("__ce") - up * F.log(uq) / log2)
            .alias("cross_entropy"),
            F.col("vp").alias("vocab_p"),
            F.col("vq").alias("vocab_q"),
            (F.col("__vb")
             / (F.col("vp") + F.col("vq") - F.col("__vb")).cast("double"))
            .alias("vocab_jaccard"),
            F.col("__np").cast("long").alias("tokens_p"),
            F.col("__nq").cast("long").alias("tokens_q"),
        )

    return fn


# ----------------------------------------------------------- diversity

@register_stage("$distinctN", "corpus")
def distinct_n_stage(expression: Any, ctx: Context) -> StageFn:
    """Corpus-level distinct-n diversity (Li et al. 2016): ``{input,
    maxN?, tokenizer?, maxWords?}`` -> ONE row with ``distinct_1 ..
    distinct_maxN`` (distinct n-grams / total n-grams, the standard
    generation-diversity report) plus ``tokens`` and ``docs``.

    One generated position explode + one aggregate (the $ngramLmTrain
    shape) — conditional count/count_distinct per order, no per-order
    passes."""
    inp = expression["input"]
    max_n = int(expression.get("maxN", 2))
    tok = expression.get("tokenizer", "whitespace")
    max_words = int(expression.get("maxWords", 100_000))
    if not 1 <= max_n <= 4:
        raise ValueError("$distinctN maxN must be in 1..4")
    if tok not in _LM_TOKENIZERS:
        raise ValueError(
            f"$distinctN tokenizer must be one of {_LM_TOKENIZERS}")
    if max_words < 1:
        raise ValueError("$distinctN maxWords must be >= 1")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        # r13: tokens bound to a column + single-task corpora fanned
        # out — the per-position gram lambdas re-evaluated the captured
        # split expression per element (O(L²) per doc; measured 27 s at
        # sf0.1, ~1.5 s after), the dp_lm._position_grams lesson
        bound = _spread(df).withColumn(
            "__dn_toks", _lm_tokens(tok, text, max_words))
        toks = F.col("__dn_toks")
        def _gram_part(order: int) -> Column:
            # closure factory, NOT a default-arg lambda: a two-arg
            # lambda makes Spark pass the array INDEX as the second
            # argument (the _seeded_hasher arity trap, playbook r10/r12)
            def one(j: Column) -> Column:
                return F.struct(
                    F.lit(order).cast("int").alias("n"),
                    F.array_join(
                        F.slice(toks, j - (order - 1), order), " ")
                    .alias("g"),
                )

            return F.when(
                F.size(toks) >= order,
                F.transform(F.sequence(F.lit(order), F.size(toks)), one),
            ).otherwise(F.array().cast("array<struct<n:int,g:string>>"))

        parts = [_gram_part(i) for i in range(1, max_n + 1)]
        allg = parts[0]
        for pc in parts[1:]:
            allg = F.concat(allg, pc)
        docs = bound.select(
            F.when(text.isNotNull(), allg).alias("__gs"))
        # r13: explode_outer + not-null post-filter, NOT plain explode:
        # InferFiltersFromGenerate turns a bare explode into a
        # `size(__gs) > 0` predicate that predicate-pushdown re-inlines
        # all the way into the SCAN — the whole gram expression (with
        # the raw split, unbound) evaluated per row below the fan-out
        # (~30 s at sf0.1).  Gram structs are never null, so filtering
        # the generate OUTPUT is row-identical and cannot be pushed
        # below the Generate.
        exploded = docs.select(F.explode_outer("__gs").alias("__x")) \
            .filter(F.col("__x").isNotNull())
        # r13: two-level distinct-free aggregation.  maxN conditional
        # count_distinct aggregates planned an Expand that pushed
        # (#distinct-groups + 1) copies of every exploded gram through
        # the shuffle (~34 s at sf0.1); a groupBy(n, gram) count —
        # partial-aggregated map-side to the distinct grams — followed
        # by a per-order rollup computes the same exact integers with
        # one copy (~2 s).
        per_gram = (
            exploded.groupBy(F.col("__x.n").alias("__n"),
                             F.col("__x.g").alias("__g"))
            .agg(F.count(F.lit(1)).alias("__c")))
        per_order = per_gram.groupBy("__n").agg(
            F.count(F.lit(1)).cast("double").alias("__d"),
            F.sum("__c").cast("double").alias("__t"))
        aggs = []
        for i in range(1, max_n + 1):
            aggs.append(F.max(F.when(F.col("__n") == i, F.col("__d")))
                        .cast("double").alias(f"__d{i}"))
            aggs.append(F.coalesce(
                F.max(F.when(F.col("__n") == i, F.col("__t"))),
                F.lit(0.0)).cast("double").alias(f"__t{i}"))
        stats = per_order.agg(*aggs)
        meta = df.agg(
            F.count(F.lit(1)).cast("long").alias("docs"))
        out = meta.join(F.broadcast(stats), F.lit(True), "left")
        cols = [F.col("docs")]
        cols.append(F.coalesce(F.col("__t1"), F.lit(0.0))
                    .cast("long").alias("tokens"))
        for i in range(1, max_n + 1):
            cols.append(
                F.when(F.col(f"__t{i}") > 0,
                       F.col(f"__d{i}") / F.col(f"__t{i}"))
                .alias(f"distinct_{i}"))
        return out.select(*cols)

    return fn


# ------------------------------------------------------------ zipf fit

@register_stage("$zipfFit", "corpus")
def zipf_fit_stage(expression: Any, ctx: Context) -> StageFn:
    """Zipf's-law fit of the corpus token-frequency distribution
    (Zipf 1949): ``{input, tokenizer?, maxWords?, minCount?}`` -> ONE
    row ``(slope, intercept, r2, vocab, tokens, distinct_freqs)`` from
    a weighted OLS of log(freq) on log(rank) — natural-text corpora
    read slope ~ -1; heavily templated/duplicated corpora deviate, so
    the slope is a cheap corpus-quality signal (used alongside the
    Gopher rules).

    SCALE: ranks are assigned on the DISTINCT-FREQUENCY table (one row
    per frequency value — O(sqrt(tokens))-ish, thousands even for
    billion-token corpora), each class getting its midpoint rank and
    class-size weight, so the rank window never sorts the vocabulary.
    """
    inp = expression["input"]
    tok = expression.get("tokenizer", "whitespace")
    max_words = int(expression.get("maxWords", 100_000))
    min_count = int(expression.get("minCount", 1))
    if tok not in _LM_TOKENIZERS:
        raise ValueError(
            f"$zipfFit tokenizer must be one of {_LM_TOKENIZERS}")
    if max_words < 1:
        raise ValueError("$zipfFit maxWords must be >= 1")
    if min_count < 1:
        raise ValueError("$zipfFit minCount must be >= 1")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        text = compile_expr(inp, ExprContext(schema=df.schema))
        toks = _lm_tokens(tok, text, max_words)
        words = df.select(F.explode(toks).alias("__w"))
        freq = words.groupBy("__w").agg(
            F.count(F.lit(1)).cast("double").alias("__f"))
        if min_count > 1:
            freq = freq.filter(F.col("__f") >= min_count)
        classes = freq.groupBy("__f").agg(
            F.count(F.lit(1)).cast("double").alias("__m"))
        w = Window.orderBy(F.col("__f").desc())
        ranked = classes.withColumn(
            "__cum", F.sum("__m").over(w)).withColumn(
            # midpoint rank of the class: ranks cum-m+1 .. cum
            "__r", F.col("__cum") - (F.col("__m") - 1.0) / 2.0)
        pts = ranked.select(
            F.log("__r").alias("__x"), F.log("__f").alias("__y"),
            F.col("__m"), F.col("__f"))
        s = pts.agg(
            F.sum("__m").alias("W"),
            F.sum(F.col("__m") * F.col("__x")).alias("Sx"),
            F.sum(F.col("__m") * F.col("__y")).alias("Sy"),
            F.sum(F.col("__m") * F.col("__x") * F.col("__x")).alias("Sxx"),
            F.sum(F.col("__m") * F.col("__y") * F.col("__y")).alias("Syy"),
            F.sum(F.col("__m") * F.col("__x") * F.col("__y")).alias("Sxy"),
            F.sum(F.col("__m") * F.col("__f")).cast("long")
            .alias("tokens"),
            F.count(F.lit(1)).cast("long").alias("distinct_freqs"),
        )
        vxy = F.col("Sxy") - F.col("Sx") * F.col("Sy") / F.col("W")
        vxx = F.col("Sxx") - F.col("Sx") * F.col("Sx") / F.col("W")
        vyy = F.col("Syy") - F.col("Sy") * F.col("Sy") / F.col("W")
        # regression needs >= 2 distinct x values; a single frequency
        # class leaves vxx as pure ulp noise (3*x*x vs (3x)^2/3), so
        # gate on the exact class count, not a float comparison
        ok = F.col("distinct_freqs") > 1
        slope = F.when(ok & (vxx > 0), vxy / vxx)
        r2 = F.when(ok & (vxx > 0) & (vyy > 0),
                    vxy * vxy / (vxx * vyy)) \
            .when(ok & (vxx > 0) & (vyy == 0), F.lit(1.0))
        return s.select(
            slope.alias("slope"),
            F.when(slope.isNotNull(),
                   (F.col("Sy") - slope * F.col("Sx")) / F.col("W"))
            .alias("intercept"),
            r2.alias("r2"),
            F.col("W").cast("long").alias("vocab"),
            F.col("tokens"),
            F.col("distinct_freqs"),
        )

    return fn


# -------------------------------------------------------- bradley-terry

@register_stage("$bradleyTerry", "corpus")
def bradley_terry_stage(expression: Any, ctx: Context) -> StageFn:
    """Bradley-Terry preference-strength fitting (Bradley & Terry 1952)
    by Hunter 2004's MM algorithm — the standard model behind pairwise
    preference data (RLHF comparisons, tournament outcomes, A/B
    evals): ``{winner, loser, iterations?}`` replaces the stream of
    (winner, loser) rows with a ``(player, strength, wins, games)``
    table, strengths normalized to sum 1 and sorted by player.

    MM update per round (guaranteed monotone likelihood ascent):
        pi_i <- W_i / sum_j n_ij / (pi_i + pi_j)
    over the aggregated pair table n_ij; players with zero wins
    converge to strength 0.  CONVERGENCE ASSUMPTION (Hunter 2004
    Assumption 1, documented not enforced): the comparison graph must
    be strongly connected for a finite MLE — an undefeated player's
    strength absorbs toward 1 as iterations grow, which is the correct
    (boundary) MLE behavior, not an error.

    Each round = one join of the current strengths onto the pair table
    + one key-partitioned aggregate; lineage pinned every 5 rounds
    (``context.pin``, eager).  ``iterations`` defaults to 20; the MM
    map is a contraction near the optimum, so tens of rounds suffice
    for ranking purposes.
    """
    winner_e = expression["winner"]
    loser_e = expression["loser"]
    iterations = int(expression.get("iterations", 20))
    if not 1 <= iterations <= 200:
        raise ValueError("$bradleyTerry iterations must be in 1..200")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        sctx = ExprContext(schema=df.schema)
        wcol = compile_expr(winner_e, sctx).cast("string")
        lcol = compile_expr(loser_e, sctx).cast("string")
        games = df.select(
            wcol.alias("__w"), lcol.alias("__l")).filter(
            F.col("__w").isNotNull() & F.col("__l").isNotNull()
            & (F.col("__w") != F.col("__l")))
        # directed win counts, then the symmetric opponent table
        wc = games.groupBy("__w", "__l").agg(
            F.count(F.lit(1)).cast("double").alias("__n"))
        pairs = wc.select(
            F.col("__w").alias("__i"), F.col("__l").alias("__j"),
            F.col("__n").alias("__wins"),
        ).unionByName(wc.select(
            F.col("__l").alias("__i"), F.col("__w").alias("__j"),
            F.lit(0.0).alias("__wins"),
        )).groupBy("__i", "__j").agg(
            F.sum("__wins").alias("__wij"),
        )
        # n_ij = games between i and j (sum of both directions)
        opp = pairs.alias("a").join(
            pairs.alias("b"),
            (F.col("a.__i") == F.col("b.__j"))
            & (F.col("a.__j") == F.col("b.__i")), "left",
        ).select(
            F.col("a.__i").alias("__i"), F.col("a.__j").alias("__j"),
            F.col("a.__wij").alias("__wij"),
            (F.col("a.__wij") + F.coalesce(F.col("b.__wij"), F.lit(0.0)))
            .alias("__nij"),
        )
        opp = pin(opp, eager=True)
        players = opp.groupBy(F.col("__i").alias("player")).agg(
            F.sum("__wij").alias("__W"),
            F.sum("__nij").alias("__G"),
        ).withColumn("__pi", F.lit(1.0))
        for it in range(iterations):
            pj = players.select(
                F.col("player").alias("__j"),
                F.col("__pi").alias("__pj"))
            denom = (
                opp.join(players.select(
                    F.col("player").alias("__i"),
                    F.col("__pi")), "__i")
                .join(pj, "__j")
                .groupBy("__i")
                .agg(F.sum(F.col("__nij")
                           / (F.col("__pi") + F.col("__pj")))
                     .alias("__d"))
            )
            players = (
                players.drop("__pi")
                .join(denom.withColumnRenamed("__i", "player"),
                      "player")
                .withColumn("__pi",
                            F.when(F.col("__d") > 0,
                                   F.col("__W") / F.col("__d"))
                            .otherwise(F.lit(0.0)))
                .drop("__d")
            )
            # no per-round normalization: the MM map is
            # scale-equivariant, so one normalization at the end is
            # exact and saves a 1-row broadcast job per round.  Pin
            # EVERY round (the $pageRank convention): the strengths
            # frame feeds the next round twice (pi_i and pi_j), so an
            # unpinned loop doubles the plan tree per iteration —
            # exponential analysis cost by iteration 5
            if it + 1 < iterations:
                players = pin(players, eager=True)
        total = players.agg(F.sum("__pi").alias("__t"))
        players = players.join(
            F.broadcast(total), F.lit(True), "left",
        ).withColumn(
            "__pi",
            F.when(F.col("__t") > 0, F.col("__pi") / F.col("__t"))
            .otherwise(F.col("__pi")),
        ).drop("__t")
        return players.select(
            F.col("player"),
            F.col("__pi").alias("strength"),
            F.col("__W").cast("long").alias("wins"),
            F.col("__G").cast("long").alias("games"),
        ).orderBy("player")

    return fn


@register_stage("$krippendorffAlpha", "corpus")
def krippendorff_alpha_stage(expression: Any, ctx: Context) -> StageFn:
    """Krippendorff's alpha (Krippendorff 2011, "Computing
    Krippendorff's Alpha-Reliability") — the agreement coefficient that
    handles ANY number of raters, missing ratings and unbalanced
    tables (the cases $fleissKappa refuses): ``{item, value, metric:
    "nominal" | "interval"}`` -> ONE row ``(units, n, d_o, d_e,
    alpha)`` with alpha = 1 - D_o/D_e over the coincidence matrix.

    NO PAIR EXPLOSION: the coincidence sums decompose into per-unit
    moments —

    - nominal:  sum_u (m_u^2 - sum_c n_uc^2) / (m_u - 1)  and the
      pooled category margins;
    - interval: sum_u 2*(m_u*S2_u - S1_u^2) / (m_u - 1)  with
      S1/S2 the per-unit value sums — so the whole statistic is two
      key-partitioned aggregates, distributable at any scale.

    Units with fewer than two ratings are excluded (unpairable —
    the standard convention).  D_e = 0 (all values identical): alpha
    is 1 when D_o = 0 (perfect agreement, zero variance) and null
    otherwise.  ``ordinal``/``ratio`` metrics need rank/ratio
    difference functions that do not decompose into moments — a
    documented boundary, not implemented.
    """
    item_e, value_e = expression["item"], expression["value"]
    metric = expression.get("metric", "nominal")
    if metric not in ("nominal", "interval"):
        raise ValueError(
            "$krippendorffAlpha metric must be nominal | interval")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        sctx = ExprContext(schema=df.schema)
        item = compile_expr(item_e, sctx).cast("string")
        value = compile_expr(value_e, sctx)
        value = value.cast("string" if metric == "nominal"
                           else "double")
        base = df.select(item.alias("__u"), value.alias("__v")).filter(
            F.col("__u").isNotNull() & F.col("__v").isNotNull())
        if metric == "nominal":
            cell = base.groupBy("__u", "__v").agg(
                F.count(F.lit(1)).cast("double").alias("__n"))
            unit = cell.groupBy("__u").agg(
                F.sum("__n").alias("__m"),
                F.sum(F.col("__n") * F.col("__n")).alias("__sq"),
            ).filter(F.col("__m") >= 2)
            do_row = unit.agg(
                F.count(F.lit(1)).cast("long").alias("units"),
                F.sum((F.col("__m") * F.col("__m") - F.col("__sq"))
                      / (F.col("__m") - 1)).alias("__osum"),
                F.sum("__m").alias("__n"),
            )
            marg = (
                cell.join(unit.select("__u"), "__u")
                .groupBy("__v").agg(F.sum("__n").alias("__nc"))
            )
            de_row = marg.agg(
                F.sum(F.col("__nc") * F.col("__nc")).alias("__c2"))
            out = do_row.join(F.broadcast(de_row), F.lit(True), "left")
            n = F.col("__n")
            d_o = F.col("__osum") / n
            d_e = (n * n - F.col("__c2")) / (n * (n - 1))
        else:
            unit = base.groupBy("__u").agg(
                F.count(F.lit(1)).cast("double").alias("__m"),
                F.sum("__v").alias("__s1"),
                F.sum(F.col("__v") * F.col("__v")).alias("__s2"),
            ).filter(F.col("__m") >= 2)
            out = unit.agg(
                F.count(F.lit(1)).cast("long").alias("units"),
                F.sum(2.0 * (F.col("__m") * F.col("__s2")
                             - F.col("__s1") * F.col("__s1"))
                      / (F.col("__m") - 1)).alias("__osum"),
                F.sum("__m").alias("__n"),
                F.sum("__s1").alias("__a1"),
                F.sum("__s2").alias("__a2"),
            )
            n = F.col("__n")
            d_o = F.col("__osum") / n
            d_e = (2.0 * (n * F.col("__a2")
                          - F.col("__a1") * F.col("__a1"))
                   / (n * (n - 1)))
        alpha = F.when(
            d_e == 0.0,
            F.when(d_o == 0.0, F.lit(1.0)).otherwise(
                F.lit(None).cast("double")),
        ).otherwise(F.lit(1.0) - d_o / d_e)
        return out.select(
            F.col("units"),
            n.cast("long").alias("n"),
            d_o.alias("d_o"),
            d_e.alias("d_e"),
            alpha.alias("alpha"),
        )

    return fn


# ------------------------------------------------- distribution tests

@register_stage("$ksTest", "corpus")
def ks_test_stage(expression: Any, ctx: Context) -> StageFn:
    """Two-sample Kolmogorov-Smirnov test between a numeric column of
    this corpus and a reference collection's — the standard numeric
    drift check next to $corpusDivergence's token-level one:
    ``{input, against, againstField?, bins?}`` -> ONE row
    ``(n_p, n_q, d_stat, p_value)``.

    ``d_stat`` = max |ECDF_P(x) - ECDF_Q(x)|; ``p_value`` is the
    asymptotic Kolmogorov distribution through the standard
    effective-n correction lambda = (sqrt(ne) + 0.12 + 0.11/sqrt(ne))
    * D with ne = n_p*n_q/(n_p+n_q) (Press et al., Numerical Recipes
    §14.3), p = 2 * sum_{j>=1} (-1)^(j-1) exp(-2 j^2 lambda^2)
    truncated at j=100 and clamped to [0, 1].

    SCALE: the ECDF comparison runs over the DISTINCT-VALUE table
    (one row per distinct value) under a global-order window — fine
    for discrete/quantized features; for continuous columns at scale
    pass ``bins`` to quantize into equal-width buckets first (min/max
    from a 1-row broadcast; the binned D is a documented lower bound
    of the exact D)."""
    inp = expression["input"]
    against = expression["against"]
    against_field = expression.get("againstField")
    bins = expression.get("bins")
    if bins is not None:
        bins = int(bins)
        if bins < 2:
            raise ValueError("$ksTest bins must be >= 2")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        ref = c.collection(against)
        fld = against_field or (
            inp[1:] if isinstance(inp, str) and inp.startswith("$")
            else None)
        if fld is None:
            raise ValueError(
                "$ksTest needs againstField when input is not a "
                "simple field path")
        pv = df.select(
            compile_expr(inp, ExprContext(schema=df.schema))
            .cast("double").alias("__v")).filter(
            F.col("__v").isNotNull())
        qv = ref.select(
            compile_expr(f"${fld}", ExprContext(schema=ref.schema))
            .cast("double").alias("__v")).filter(
            F.col("__v").isNotNull())
        if bins is not None:
            rng = pv.unionByName(qv).agg(
                F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))

            def binned(d: DataFrame) -> DataFrame:
                j = d.join(F.broadcast(rng), F.lit(True), "left")
                b = F.when(
                    F.col("__hi") > F.col("__lo"),
                    F.least(
                        F.floor((F.col("__v") - F.col("__lo"))
                                / (F.col("__hi") - F.col("__lo"))
                                * bins),
                        F.lit(bins - 1)),
                ).otherwise(F.lit(0))
                return j.select(b.cast("double").alias("__v"))

            pv, qv = binned(pv), binned(qv)
        cp = pv.groupBy("__v").agg(
            F.count(F.lit(1)).cast("double").alias("__cp"))
        cq = qv.groupBy("__v").agg(
            F.count(F.lit(1)).cast("double").alias("__cq"))
        joined = cp.join(cq, "__v", "full_outer").select(
            "__v",
            F.coalesce("__cp", F.lit(0.0)).alias("__cp"),
            F.coalesce("__cq", F.lit(0.0)).alias("__cq"))
        tot = joined.agg(F.sum("__cp").alias("__np"),
                         F.sum("__cq").alias("__nq"))
        j = joined.join(F.broadcast(tot), F.lit(True), "left")
        w = Window.orderBy("__v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        gap = F.abs(F.sum("__cp").over(w) / F.col("__np")
                    - F.sum("__cq").over(w) / F.col("__nq"))
        out = j.select(gap.alias("__g"), "__np", "__nq").agg(
            F.max("__g").alias("__d"),
            F.max("__np").alias("__np"),
            F.max("__nq").alias("__nq"))
        d = F.col("__d")
        np_, nq_ = F.col("__np"), F.col("__nq")
        ne = np_ * nq_ / (np_ + nq_)
        lam = (F.sqrt(ne) + 0.12 + 0.11 / F.sqrt(ne)) * d
        series = F.aggregate(
            F.sequence(F.lit(1), F.lit(100)),
            F.lit(0.0),
            lambda acc, jj: acc
            + F.pow(F.lit(-1.0), (jj - 1).cast("double"))
            * F.exp(-2.0 * jj.cast("double") * jj.cast("double")
                    * lam * lam))
        # lambda below ~0.04 the truncated alternating series has not
        # converged by j=100 (terms still ~1) while the true p is 1 to
        # machine precision — the standard small-lambda guard (NR
        # probks returns 1.0 on non-convergence)
        pval = F.when(lam < 0.04, F.lit(1.0)).otherwise(
            F.least(F.greatest(2.0 * series, F.lit(0.0)), F.lit(1.0)))
        valid = (np_ > 0) & (nq_ > 0)
        return out.select(
            np_.cast("long").alias("n_p"),
            nq_.cast("long").alias("n_q"),
            F.when(valid, d).alias("d_stat"),
            F.when(valid, pval).alias("p_value"),
        )

    return fn


def _erf(x: Column) -> Column:
    """Abramowitz & Stegun 7.1.26 rational erf approximation
    (|error| < 1.5e-7) as a pure column expression — Spark SQL has no
    erf built-in.  Both the engine and the DuckDB oracles use THIS
    formula, so gate hashes compare the same number."""
    sign = F.when(x < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ax = F.abs(x)
    t = 1.0 / (1.0 + 0.3275911 * ax)
    poly = (t * (0.254829592
                 + t * (-0.284496736
                        + t * (1.421413741
                               + t * (-1.453152027
                                      + t * 1.061405429)))))
    return sign * (1.0 - poly * F.exp(-ax * ax))


@register_stage("$chiSquareTest", "corpus")
def chi_square_test_stage(expression: Any, ctx: Context) -> StageFn:
    """Chi-squared homogeneity test between a categorical column of
    this corpus and a reference collection's (2 x C contingency
    table): ``{input, against, againstField?}`` -> ONE row
    ``(categories, n_p, n_q, chi2, df, p_value, cramers_v)``.

    ``p_value`` = P(X^2_df >= chi2) via the Wilson-Hilferty cube-root
    normal approximation with the A&S 7.1.26 erf — a documented
    approximation (|error| ~ 1e-3 at small df, vanishing with df),
    chosen because it is expressible as pure column arithmetic in both
    engines; ``cramers_v`` = sqrt(chi2 / n) for the 2-row table.
    Zero-count categories on one side use the standard expected-count
    formula (never 0/0: a category exists only if some side saw it).
    """
    inp = expression["input"]
    against = expression["against"]
    against_field = expression.get("againstField")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ref = c.collection(against)
        fld = against_field or (
            inp[1:] if isinstance(inp, str) and inp.startswith("$")
            else None)
        if fld is None:
            raise ValueError(
                "$chiSquareTest needs againstField when input is not "
                "a simple field path")
        pv = df.select(
            compile_expr(inp, ExprContext(schema=df.schema))
            .cast("string").alias("__v")).filter(
            F.col("__v").isNotNull())
        qv = ref.select(
            compile_expr(f"${fld}", ExprContext(schema=ref.schema))
            .cast("string").alias("__v")).filter(
            F.col("__v").isNotNull())
        cp = pv.groupBy("__v").agg(
            F.count(F.lit(1)).cast("double").alias("__op"))
        cq = qv.groupBy("__v").agg(
            F.count(F.lit(1)).cast("double").alias("__oq"))
        joined = cp.join(cq, "__v", "full_outer").select(
            F.coalesce("__op", F.lit(0.0)).alias("__op"),
            F.coalesce("__oq", F.lit(0.0)).alias("__oq"))
        tot = joined.agg(F.sum("__op").alias("__np"),
                         F.sum("__oq").alias("__nq"))
        j = joined.join(F.broadcast(tot), F.lit(True), "left")
        n = F.col("__np") + F.col("__nq")
        col_tot = F.col("__op") + F.col("__oq")
        ep = col_tot * F.col("__np") / n
        eq = col_tot * F.col("__nq") / n
        term = (
            F.when(ep > 0, (F.col("__op") - ep) * (F.col("__op") - ep)
                   / ep).otherwise(F.lit(0.0))
            + F.when(eq > 0, (F.col("__oq") - eq)
                     * (F.col("__oq") - eq) / eq).otherwise(F.lit(0.0))
        )
        out = j.agg(
            F.count(F.lit(1)).cast("long").alias("categories"),
            F.sum(term).alias("__chi2"),
            F.max("__np").alias("__np"),
            F.max("__nq").alias("__nq"),
        )
        chi2 = F.col("__chi2")
        dfree = (F.col("categories") - 1).cast("double")
        nn = F.col("__np") + F.col("__nq")
        # Wilson-Hilferty: (X/df)^(1/3) ~ Normal(1 - 2/(9df),
        # sqrt(2/(9df)))
        z = ((F.pow(chi2 / dfree, F.lit(1.0 / 3.0))
              - (1.0 - 2.0 / (9.0 * dfree)))
             / F.sqrt(2.0 / (9.0 * dfree)))
        pval = 0.5 * (1.0 - _erf(z / F.sqrt(F.lit(2.0))))
        valid = (F.col("__np") > 0) & (F.col("__nq") > 0) & (dfree > 0)
        return out.select(
            F.col("categories"),
            F.col("__np").cast("long").alias("n_p"),
            F.col("__nq").cast("long").alias("n_q"),
            F.when(valid, chi2).alias("chi2"),
            F.when(valid, dfree.cast("long")).alias("df"),
            F.when(valid, F.least(F.greatest(pval, F.lit(0.0)),
                                  F.lit(1.0))).alias("p_value"),
            F.when(valid, F.sqrt(chi2 / nn)).alias("cramers_v"),
        )

    return fn
