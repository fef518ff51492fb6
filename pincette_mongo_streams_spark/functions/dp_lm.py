"""N-gram language-model family: $ngramLmTrain / $ngramLmScore — the
CCNet-style perplexity quality signal (Wenzek et al. 2020 filter LLM
pretraining data by LM perplexity) built on Stupid Backoff (Brants et
al. 2007, "Large Language Models in Machine Translation"), the scoring
rule DESIGNED for distributed count-based LMs: no normalization pass,
so both training and scoring stay pure count arithmetic — exactly what
an aggregation engine distributes well, and exactly reproducible in a
SQL oracle.

Model exchange follows the $bpeTrain convention: $ngramLmTrain emits a
model DataFrame ``(gram, order, count)`` the user feeds back through
``Context.collections``; $ngramLmScore joins documents against it.

Split module (r12), re-exported through ``functions.datapipe`` like its
siblings.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage
from .dp_dedup import _pin_computed, _spread
from .dp_eval import _rouge_tokens

_LM_TOKENIZERS = ("whitespace", "rougeScore")


def _lm_tokens(tok: str, t: Column, max_words: int) -> Column:
    if tok == "rougeScore":
        return _rouge_tokens(t, max_words)
    w = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit(""))
    return F.slice(w, 1, max_words)


def _pin_model(model: DataFrame) -> DataFrame:
    """Materialize a COMPUTED model exactly once before $ngramLmScore
    fans references out over it (dp_dedup._pin_computed, shared with
    $dsirScore).

    The score plan references the model table 2 times (stupidBackoff /
    jelinekMercer: the (N, V) stats aggregate + the join side) up to 7
    times (kneserNey: stats + base counts + 5 derived continuation /
    denominator groupings).  When the model is the live output of
    $ngramLmTrain — the documented CCNet composition — Catalyst pushes
    each branch's ``order = k`` predicate below the training aggregate,
    the specialized subtrees stop being canonically equal, exchange
    reuse never fires, and every reference re-tokenizes and re-counts
    the ENTIRE corpus (measured: 9 corpus scans in ngram_lm_kn's
    executed plan; 10.7 s at sf0.1).  Pinning the model collapses that
    to ONE corpus pass plus model-sized re-reads — the model (distinct
    surviving n-grams) is orders of magnitude smaller than the corpus,
    so the materialization is bounded and pays at any scale.  A model
    read straight from storage is NOT pinned; streaming frames are
    never pinned (the model side of a score is static by contract)."""
    return _pin_computed(model)


def _position_grams(toks: Column, n: int) -> Column:
    """All position n-grams up to order ``n`` as one flat
    ``array<struct<k:int, gram:string>>``: for every position ``i``
    (1-based) and order ``k <= min(n, i)``, the space-joined gram
    ``toks[i-k+1 .. i]``.  Pure HOF — the whole training explode is one
    column expression."""
    def _order_part(k: int) -> Column:
        # closure factory, NOT a default-arg lambda: an arity-2 lambda
        # makes F.transform pass the ARRAY INDEX as the second argument
        # (the dp_dedup._seeded_hasher lesson)
        def one(i: Column) -> Column:
            return F.struct(
                F.lit(k).cast("int").alias("k"),
                F.array_join(
                    F.slice(toks, i - (k - 1), k), " ").alias("gram"),
            )

        return F.when(
            F.size(toks) >= k,
            F.transform(F.sequence(F.lit(k), F.size(toks)), one),
        ).otherwise(F.array().cast("array<struct<k:int,gram:string>>"))

    parts = [_order_part(k) for k in range(1, n + 1)]
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out


@register_stage("$ngramLmTrain", "corpus")
def ngram_lm_train_stage(expression: Any, ctx: Context) -> StageFn:
    """Train a count-based n-gram LM over the corpus: ``{input, n?,
    minCount?, tokenizer?, maxWords?}`` emits the model table
    ``(gram string, order int, count long)`` plus one ``order = 0``
    row carrying the total token count — feed it back through
    ``Context.collections`` into ``$ngramLmScore``.

    Conventions (pinned): the document is one token stream (no
    sentence markers — early positions simply score with the shorter
    available context); ``minCount`` (default 1) prunes EVERY order,
    and because a context's count is always >= any of its extensions',
    a surviving k-gram's backoff context always survives too; a pruned
    unigram scores as OOV downstream.  ``tokenizer``: ``"whitespace"``
    (default, Java-\\s) or ``"rougeScore"`` (lowercase ``[a-z0-9]+``).
    ``maxWords`` (default 100000) caps tokens PER DOCUMENT.

    100 TB shape (the Brants 2007 pipeline): tokenize (pure HOF, no
    Python), explode every position x order in ONE generated column,
    then ONE partial-aggregated groupBy(gram, order) — the map side
    collapses each task to its distinct grams before the only shuffle.
    The model stays a DataFrame end-to-end (never collected): a
    trillion-token model is fine, it just makes $ngramLmScore's join a
    shuffle join instead of a broadcast.  Corpus-only (like $bpeTrain):
    counts are a whole-corpus aggregate."""
    inp = expression["input"]
    n = int(expression.get("n", 3))
    min_count = int(expression.get("minCount", 1))
    tok = expression.get("tokenizer", "whitespace")
    max_words = int(expression.get("maxWords", 100_000))
    if n < 1 or n > 8:
        raise ValueError("$ngramLmTrain n must be in 1..8")
    if min_count < 1 or max_words < 1:
        raise ValueError(
            "$ngramLmTrain needs minCount >= 1 and maxWords >= 1")
    if tok not in _LM_TOKENIZERS:
        raise ValueError(
            f"$ngramLmTrain tokenizer must be one of {_LM_TOKENIZERS}")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        toks = _lm_tokens(tok, text, max_words)
        # gram generation is the per-row-heavy work (interpreted HOF
        # slice+join per position x order): a small corpus file arrives
        # as ONE scan partition (one row group = one task), serializing
        # it — measured 11.8 s single-task vs ~0.6 s spread at sf0.1.
        # _spread's row-group gate keeps real-scale inputs unshuffled.
        # r13: the token array is BOUND TO A COLUMN before the gram
        # lambdas — interpreted HOFs re-evaluate captured expressions
        # per call, so slice(<split expr>, ..) inside the per-position
        # lambda re-tokenized the whole document per position (O(L²)
        # per doc; a column reference is one attribute read).
        pairs = _spread(df).withColumn("__lm_toks", toks).select(
            F.explode(
                _position_grams(F.col("__lm_toks"), n)).alias("__pg"))
        counted = (
            pairs.select(F.col("__pg.gram").alias("gram"),
                         F.col("__pg.k").alias("order"))
            .groupBy("gram", "order")
            .agg(F.count(F.lit(1)).alias("count"))
            .filter(F.col("count") >= min_count)
        )
        total = (
            df.select(F.coalesce(F.size(toks), F.lit(0)).alias("__n"))
            .agg(F.sum("__n").cast("long").alias("count"))
            .select(F.lit("").alias("gram"),
                    F.lit(0).cast("int").alias("order"),
                    F.col("count"))
        )
        return counted.unionByName(total)

    return fn


_LM_SCORE_TYPE = ("struct<n_tokens:bigint,oov:bigint,"
                  "logprob:double,perplexity:double>")


@register_stage("$ngramLmScore", "per_batch")
def ngram_lm_score_stage(expression: Any, ctx: Context) -> StageFn:
    """Score documents against an $ngramLmTrain model: ``{input,
    model: <collection>, n?, backoff?, alpha?, tokenizer?, maxWords?,
    as?}`` adds ``struct<n_tokens, oov, logprob, perplexity>`` —
    ``logprob`` is the mean per-token log10 score and ``perplexity =
    10^(-logprob)``, the CCNet filter statistic (Wenzek et al. 2020
    keep/bucket documents by LM perplexity).

    ``smoothing: "stupidBackoff"`` (default, Brants et al. 2007):
    ``S(w|ctx_k) = count(ctx_k w)/count(ctx_k)`` when the k-gram was
    seen, else ``backoff * S(w|ctx_{k-1})`` (default 0.4, the paper's
    constant).  The unigram base case is additive-smoothed over
    ``V+1`` outcomes: ``(count(w)+alpha) / (N + alpha*(V+1))`` with
    ``alpha`` default 1.  Not a normalized probability (the paper's
    deliberate trade for distributed simplicity).

    ``smoothing: "jelinekMercer"`` (Jelinek & Mercer 1980, the classic
    interpolation): ``p_k = lambda*ML_k + (1-lambda)*p_{k-1}`` with
    ``ML_k = count(ctx_k w)/count(ctx_k)`` (0 on an unseen context)
    and base ``p_1 = lambda*count(w)/N + (1-lambda)/(V+1)`` — a PROPER
    probability given fixed ``lambda`` (option ``lambda``, default
    0.9, one value for all orders, pinned), so perplexity has its
    textbook meaning.

    ``smoothing: "absoluteDiscount"`` (Ney, Essen & Kneser 1994):
    ``max(c-D, 0)/c(ctx)`` plus the freed ``D*EXT(ctx)/c(ctx)`` mass
    on the lower order (``discount`` option, default 0.75); proper per
    conditional.  A surviving context whose extensions were all
    minCount-pruned falls through to the lower order whole.

    ``smoothing: "kneserNey"`` (Kneser & Ney 1995; Chen & Goodman
    1999's interpolated form with one fixed ``discount`` — modified
    KN's three count-bucketed discounts are a documented possible
    extension): the highest order discounts RAW counts over the true
    conditional denominator ``sum_w c(ctx w)`` (a context's final
    occurrence in a document has no follower, so ``c(ctx)`` would
    over-count); every lower order scores by CONTINUATION counts
    ``N1+(. g)`` — how many distinct contexts a gram completes — the
    insight that keeps "francisco" improbable as a continuation no
    matter how frequent it is raw.  Unigram base
    ``max(N1+(.w)-D, 0)/N1+(..) + D*D1/N1+(..) * 1/(V+1)``.  Every
    derived table (suffix / middle / distinct-last groupings) comes
    from the model itself at plan time; needs ``n >= 2``.  All counts
    are over the SURVIVING (minCount-pruned) model rows.

    Option exclusivity: ``backoff``/``alpha`` are stupidBackoff-only,
    ``lambda`` jelinekMercer-only, ``discount`` absoluteDiscount/
    kneserNey-only (mixing raises).

    Common to both: position ``i`` starts at order ``min(n, i)`` —
    shorter context near the document start, NO penalty for it
    (pinned); OOV (unseen or minCount-pruned) tokens get the
    ``count = 0`` cell and are tallied in ``oov``.  ``n`` (default 3)
    must not exceed the trained order.  Null text -> null struct; an
    effectively-empty document scores ``(0, 0, null, null)``.

    100 TB shape: tokenize (HOF) -> explode (position, order) gram +
    context keys (2n-1 strings per position, one generated column) ->
    ONE join against the model on (gram, order) — broadcast when the
    model is small, shuffle-hash when it is not (a trillion-token
    model never sits on the driver) -> groupBy (doc, position) folding
    the counts back to one row -> per-doc fold in POSITION ORDER (a
    sorted-array aggregate, so the double summation order is pinned —
    bit-reproducible across partitionings and engines) -> join the
    1-row (N, V) broadcast.  Three shuffles total, all key-partitioned;
    nothing is ever collected."""
    inp = expression["input"]
    model_name = expression["model"]
    n = int(expression.get("n", 3))
    smoothing = expression.get("smoothing", "stupidBackoff")
    if smoothing not in ("stupidBackoff", "jelinekMercer",
                         "absoluteDiscount", "kneserNey"):
        raise ValueError(
            "$ngramLmScore smoothing must be stupidBackoff | "
            "jelinekMercer | absoluteDiscount | kneserNey")
    _mode_opts = {"stupidBackoff": {"backoff", "alpha"},
                  "jelinekMercer": {"lambda"},
                  "absoluteDiscount": {"discount"},
                  "kneserNey": {"discount"}}
    for opt in ("backoff", "alpha", "lambda", "discount"):
        if opt in expression and opt not in _mode_opts[smoothing]:
            raise ValueError(
                f"$ngramLmScore `{opt}` is not a {smoothing} option "
                f"({smoothing} takes "
                f"{sorted(_mode_opts[smoothing])})")
    backoff = float(expression.get("backoff", 0.4))
    alpha = float(expression.get("alpha", 1.0))
    lam = float(expression.get("lambda", 0.9))
    discount = float(expression.get("discount", 0.75))
    tok = expression.get("tokenizer", "whitespace")
    max_words = int(expression.get("maxWords", 100_000))
    as_field = expression.get("as", "lm")
    if n < 1 or n > 8:
        raise ValueError("$ngramLmScore n must be in 1..8")
    if not (0.0 < backoff <= 1.0):
        raise ValueError("$ngramLmScore backoff must be in (0, 1]")
    if alpha <= 0:
        raise ValueError("$ngramLmScore alpha must be > 0")
    if not (0.0 < lam < 1.0):
        raise ValueError("$ngramLmScore lambda must be in (0, 1)")
    if not (0.0 < discount < 1.0):
        raise ValueError("$ngramLmScore discount must be in (0, 1)")
    if smoothing == "kneserNey" and n < 2:
        raise ValueError(
            "$ngramLmScore kneserNey needs n >= 2 (continuation "
            "counts come from the order above)")
    if tok not in _LM_TOKENIZERS:
        raise ValueError(
            f"$ngramLmScore tokenizer must be one of {_LM_TOKENIZERS}")
    if max_words < 1:
        raise ValueError("$ngramLmScore maxWords must be >= 1")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        model = _pin_model(c.collection(model_name))
        _suffix = F.regexp_extract("gram", r"^[^ ]+ (.*)$", 1)
        _prefix = F.regexp_extract("gram", r"^(.*) [^ ]+$", 1)
        _middle = F.regexp_extract("gram", r"^[^ ]+ (.*) [^ ]+$", 1)
        _last = F.regexp_extract("gram", r"([^ ]+)$", 1)
        stats_cols = [
            F.max(F.when(F.col("order") == 0,
                         F.col("count"))).alias("__N"),
            F.sum(F.when(F.col("order") == 1, F.lit(1))
                  .otherwise(F.lit(0))).cast("long").alias("__V"),
            F.max("order").cast("int").alias("__maxK"),
        ]
        if smoothing == "kneserNey":
            # N1+(..) = # distinct bigram types, and the # of distinct
            # words that ever appear as a bigram's second word — the
            # unigram continuation denominator and its gamma count
            stats_cols += [
                F.sum(F.when(F.col("order") == 2, F.lit(1))
                      .otherwise(F.lit(0))).cast("long").alias("__BB"),
                F.count_distinct(F.when(F.col("order") == 2, _suffix))
                .cast("long").alias("__D1"),
            ]
        stats = model.agg(*stats_cols)
        text = compile_expr(inp, ExprContext(schema=df.schema))
        df_id = df.withColumn("__rid", F.monotonically_increasing_id())
        # same single-scan-task hazard as training: the per-position key
        # generation below is the heavy HOF work — fan it out (ids are
        # assigned BEFORE the spread, so __rid values and the final
        # re-attach join are unaffected)
        toks_df = _spread(df_id).select(
            "__rid", _lm_tokens(tok, text, max_words).alias("__toks"))

        # per position i: the k-gram ending at i for k=1..min(n,i) plus
        # its (k-1)-token context, as (i, lookup_order, k, is_ctx) keys
        # — contexts join the model at order k-1
        toks = F.col("__toks")

        def keys_for(k: int, is_ctx: bool) -> Column:
            width = k - 1 if is_ctx else k
            return F.when(
                F.size(toks) >= k,
                F.transform(
                    F.sequence(F.lit(k), F.size(toks)),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.lit(k).cast("int").alias("k"),
                        F.lit(is_ctx).alias("is_ctx"),
                        F.lit(width).cast("int").alias("order"),
                        F.array_join(
                            F.slice(toks, i - (k - 1), width),
                            " ").alias("gram"),
                    ),
                ),
            ).otherwise(F.array().cast(
                "array<struct<i:int,k:int,is_ctx:boolean,"
                "order:int,gram:string>>"))

        parts = [keys_for(1, False)]
        for k in range(2, n + 1):
            parts.append(keys_for(k, False))
            parts.append(keys_for(k, True))
        allkeys = parts[0]
        for p in parts[1:]:
            allkeys = F.concat(allkeys, p)

        exploded = toks_df.select(
            "__rid", F.explode(allkeys).alias("__key"))
        flat = exploded.select(
            "__rid", F.col("__key.i").alias("__i"),
            F.col("__key.k").alias("__k"),
            F.col("__key.is_ctx").alias("__is_ctx"),
            F.col("__key.order").alias("__order"),
            F.col("__key.gram").alias("__gram"))
        m = model.select(
            F.col("gram").alias("__mg"),
            F.col("order").alias("__mo"),
            F.lit("c").alias("__kind"),
            F.col("count").alias("__mc"))
        def _derived(order: int, key_expr: Column, key_order: int,
                     kind: str, agg: Column) -> DataFrame:
            """A model-derived lookup (group the order-`order` grams by
            a key expression) unioned into the SAME join — the g/ctx
            keys already exploded per position pick it up at
            (key, key_order, kind)."""
            return (
                model.filter(F.col("order") == order)
                .groupBy(key_expr.alias("__mg"))
                .agg(agg.alias("__mc"))
                .select("__mg",
                        F.lit(key_order).cast("int").alias("__mo"),
                        F.lit(kind).alias("__kind"), "__mc"))

        if smoothing == "absoluteDiscount":
            # EXT(ctx) = # distinct words following ctx (grams are
            # unique per (gram, order), so a prefix group count IS the
            # distinct-follower count)
            for k in range(2, n + 1):
                m = m.unionByName(_derived(
                    k, _prefix, k - 1, "ext", F.count(F.lit(1))))
        elif smoothing == "kneserNey":
            # highest order: true conditional denominator SDEN(ctx) =
            # sum of c(ctx w) (NOT c(ctx): a context's final occurrence
            # in a document has no follower) + EXT for the gamma mass
            m = m.unionByName(_derived(
                n, _prefix, n - 1, "sden", F.sum("count")))
            m = m.unionByName(_derived(
                n, _prefix, n - 1, "ext", F.count(F.lit(1))))
            # continuation counts: CONT(g_k) = N1+(. g_k) from the
            # order-(k+1) table grouped by suffix — keyed at the g_k
            # position keys
            for k in range(1, n):
                m = m.unionByName(_derived(
                    k + 1, _suffix, k, "cont", F.count(F.lit(1))))
            # middle levels: CDEN(ctx) = N1+(. ctx .) and CEXT(ctx) =
            # # distinct final words, both grouped by the middle of the
            # order-(k+1) grams — keyed at the ctx position keys
            for k in range(2, n):
                m = m.unionByName(_derived(
                    k + 1, _middle, k - 1, "cden", F.count(F.lit(1))))
                m = m.unionByName(_derived(
                    k + 1, _middle, k - 1, "cext",
                    F.count_distinct(_last)))
        joined = flat.join(
            m, (flat["__gram"] == m["__mg"]) &
               (flat["__order"] == m["__mo"]), "left")

        def cnt_of(k: int, is_ctx: bool, kind: str = "c") -> Column:
            cond = ((F.col("__k") == k) & (F.col("__is_ctx") == is_ctx)
                    & (F.col("__kind") == kind))
            return F.max(F.when(cond, F.col("__mc")))

        aggs = [cnt_of(1, False).alias("__g1")]
        for k in range(2, n + 1):
            aggs.append(cnt_of(k, False).alias(f"__g{k}"))
            aggs.append(cnt_of(k, True).alias(f"__c{k}"))
            if smoothing == "absoluteDiscount":
                aggs.append(cnt_of(k, True, "ext").alias(f"__e{k}"))
        if smoothing == "kneserNey":
            aggs.append(cnt_of(n, True, "sden").alias("__sden"))
            aggs.append(cnt_of(n, True, "ext").alias("__ext"))
            for k in range(1, n):
                aggs.append(cnt_of(k, False, "cont").alias(f"__ct{k}"))
            for k in range(2, n):
                aggs.append(cnt_of(k, True, "cden").alias(f"__cd{k}"))
                aggs.append(cnt_of(k, True, "cext").alias(f"__cx{k}"))
        per_pos = joined.groupBy("__rid", "__i").agg(*aggs)
        per_pos = per_pos.crossJoin(F.broadcast(stats))

        # smoothing chain, built lowest order first; ss[k-1] is the
        # score assuming position i starts at order k
        if smoothing == "stupidBackoff":
            # a k-gram miss multiplies by `backoff` and falls through
            ss = [
                (F.coalesce(F.col("__g1"), F.lit(0)).cast("double")
                 + F.lit(alpha)) / (
                    F.col("__N").cast("double")
                    + F.lit(alpha) * (F.col("__V").cast("double") + 1.0))
            ]
            for k in range(2, n + 1):
                gk, ck = F.col(f"__g{k}"), F.col(f"__c{k}")
                ss.append(F.when(
                    gk.isNotNull() & ck.isNotNull() & (ck > 0),
                    gk.cast("double") / ck.cast("double"),
                ).otherwise(F.lit(backoff) * ss[-1]))
        elif smoothing == "jelinekMercer":
            # Jelinek-Mercer: every level interpolates with the one
            # below; an unseen context contributes ML = 0
            ss = [
                F.lit(lam) * (
                    F.coalesce(F.col("__g1"), F.lit(0)).cast("double")
                    / F.col("__N").cast("double"))
                + F.lit(1.0 - lam)
                / (F.col("__V").cast("double") + 1.0)
            ]
            for k in range(2, n + 1):
                gk, ck = F.col(f"__g{k}"), F.col(f"__c{k}")
                ml = F.when(
                    gk.isNotNull() & ck.isNotNull() & (ck > 0),
                    gk.cast("double") / ck.cast("double"),
                ).otherwise(F.lit(0.0))
                ss.append(F.lit(lam) * ml + F.lit(1.0 - lam) * ss[-1])
        elif smoothing == "kneserNey":
            # interpolated Kneser-Ney, fixed discount (Kneser & Ney
            # 1995; Chen & Goodman 1999's interpolated form — modified
            # KN's three discounts are a documented possible extension).
            # Lower orders use CONTINUATION counts (how many distinct
            # contexts a gram completes), the insight that makes
            # "francisco" rare as a continuation however frequent it is
            # raw; the highest order uses raw counts with the TRUE
            # conditional denominator Σ_w c(ctx w).  Every level's
            # conditional sums to 1; unseen denominators fall through
            # to the level below whole.
            Vc = F.col("__V").cast("double")
            D = F.lit(discount)
            BB = F.col("__BB").cast("double")
            D1 = F.col("__D1").cast("double")
            unif = 1.0 / (Vc + 1.0)
            ct1 = F.coalesce(F.col("__ct1"), F.lit(0)).cast("double")
            ss = [F.when(
                F.col("__BB") > 0,
                F.greatest(ct1 - D, F.lit(0.0)) / BB
                + (D * D1 / BB) * unif,
            ).otherwise(unif)]
            for k in range(2, n):
                cont = F.coalesce(F.col(f"__ct{k}"), F.lit(0)) \
                    .cast("double")
                cd, cx = F.col(f"__cd{k}"), F.col(f"__cx{k}")
                ss.append(F.when(
                    cd.isNotNull() & (cd > 0),
                    F.greatest(cont - D, F.lit(0.0)) / cd.cast("double")
                    + (D * cx.cast("double") / cd.cast("double"))
                    * ss[-1],
                ).otherwise(ss[-1]))
            gn = F.coalesce(F.col(f"__g{n}"), F.lit(0)).cast("double")
            sden, ext = F.col("__sden"), F.col("__ext")
            ss.append(F.when(
                sden.isNotNull() & (sden > 0),
                F.greatest(gn - D, F.lit(0.0)) / sden.cast("double")
                + (D * ext.cast("double") / sden.cast("double"))
                * ss[-1],
            ).otherwise(ss[-1]))
        else:
            # absolute discounting (Ney, Essen & Kneser 1994): subtract
            # D from every seen count and redistribute the freed mass
            # D*EXT(ctx)/c(ctx) to the lower order — each conditional
            # sums to 1 over the vocabulary (the Kneser-Ney precursor;
            # KN's continuation counts are deliberately out of scope
            # this round).  Base: max(c(w)-D, 0)/N + (D*V/N)/(V+1); a
            # surviving context with NO surviving extensions (minCount
            # pruning) falls through to the lower order whole.
            Nc = F.col("__N").cast("double")
            Vc = F.col("__V").cast("double")
            D = F.lit(discount)
            ss = [
                F.greatest(
                    F.coalesce(F.col("__g1"), F.lit(0)).cast("double")
                    - D, F.lit(0.0)) / Nc
                + (D * Vc / Nc) / (Vc + 1.0)
            ]
            for k in range(2, n + 1):
                gk = F.coalesce(F.col(f"__g{k}"), F.lit(0)) \
                    .cast("double")
                ck, ek = F.col(f"__c{k}"), F.col(f"__e{k}")
                ss.append(F.when(
                    ck.isNotNull() & (ck > 0) & ek.isNotNull(),
                    F.greatest(gk - D, F.lit(0.0)) / ck.cast("double")
                    + (D * ek.cast("double") / ck.cast("double"))
                    * ss[-1],
                ).otherwise(ss[-1]))
        # position i starts at order min(n, i): shorter context near the
        # document start selects a lower chain entry with NO penalty
        s = F.when(F.col("__i") >= n, ss[n - 1])
        for j in range(n - 1, 0, -1):
            s = s.when(F.col("__i") == j, ss[j - 1])
        # scoring above the trained order would silently treat EVERY
        # position as a k-gram miss (an extra backoff penalty per
        # level) — fail loudly instead, at execution time, when the
        # model's max order is known
        s = F.when(
            F.col("__maxK") < n,
            F.raise_error(F.lit(
                f"$ngramLmScore n={n} exceeds the trained order of "
                f"model '{model_name}' — retrain with a higher n or "
                "score with a lower one")).cast("double"),
        ).when(
            # a model missing the order-0 total row (user-filtered or
            # hand-built collection) would make __N null and every
            # score silently null — fail loudly like the max-order
            # guard (ADVICE r12)
            F.col("__N").isNull() | (F.col("__N") <= 0),
            F.raise_error(F.lit(
                f"$ngramLmScore model '{model_name}' has no order-0 "
                "total row (was the $ngramLmTrain output filtered?) — "
                "every score would be null")).cast("double"),
        ).otherwise(s)
        scored = per_pos.select(
            "__rid", "__i",
            F.log10(s).alias("__lg"),
            F.col("__g1").isNull().cast("int").alias("__oov"))

        # per-doc fold in position order: sort_array + aggregate pins
        # the double summation order (partitioning-invariant hashes)
        per_doc = (
            scored.groupBy("__rid")
            .agg(
                F.count(F.lit(1)).cast("long").alias("__nt"),
                F.sum("__oov").cast("long").alias("__no"),
                F.aggregate(
                    F.sort_array(F.collect_list(
                        F.struct(F.col("__i"), F.col("__lg")))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["__lg"],
                ).alias("__sl"),
            )
        )
        out = df_id.join(per_doc, "__rid", "left")
        lp = F.col("__sl") / F.col("__nt").cast("double")
        st = F.when(
            text.isNull(), F.lit(None).cast(_LM_SCORE_TYPE),
        ).otherwise(F.struct(
            F.coalesce(F.col("__nt"), F.lit(0)).cast("long")
            .alias("n_tokens"),
            F.coalesce(F.col("__no"), F.lit(0)).cast("long").alias("oov"),
            lp.alias("logprob"),
            F.power(F.lit(10.0), -lp).alias("perplexity"),
        ))
        return out.withColumn(as_field, st).drop(
            "__rid", "__nt", "__no", "__sl")

    return fn
