"""Curation family: $dsirScore, $mmr, $rankEval, $decontaminate,
$mediaEmbed, $urlParse, $groupCap, $htmlStrip, $readability,
$entropyScore, $piiStats, $shuffle, $truncateTokens, $mixCorpora.

Split out of functions/datapipe.py (r10); the import surface stays
``functions.datapipe`` — the aggregator re-exports every name.
"""

from __future__ import annotations

from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, check_kind, register_stage

from .dp_dedup import (_WS, _pair_dot, _pin_computed, _seeded_hasher,
                       _spread, _unit_vector, md5_long, word_shingles)
from .dp_quality import _half_up6
from .dp_retrieval import SCRUB_RULES
from .dp_vector import _round9_col


@register_stage("$dsirScore", "per_batch")
def dsir_score_stage(expression: Any, ctx: Context) -> StageFn:
    """DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169):
    ``{input, id, from, targetInput?, sourceFrom?, sourceInput?, n?,
    buckets?, smoothing?, as?}`` — scores every input document by how
    much more likely its hashed n-gram bag is under a TARGET corpus'
    unigram-feature model than under the source corpus' model:

        score(x) = Σ_{g ∈ ngrams(x)} ln p_target(bucket(g))
                                   − ln p_source(bucket(g))

    Features are word n-grams for every size 1..``n`` (default 2 —
    the paper's unigram+bigram bag), hashed into ``buckets`` (default
    10000) via the engine's md5 bucket hash (oracle-reproducible);
    probabilities are Laplace-smoothed (``smoothing``, default 1.0):
    p[b] = (count_b + α) / (total + α·buckets).  Select with a
    downstream ``$match``/``$quantileBin`` on the score (the paper adds
    Gumbel noise for sampling — compose ``$stratifiedSample`` for
    that).  Scores round half-up at 6 digits.

    By default the SOURCE model fits on the input corpus itself, which
    needs the whole corpus — batch only.  r6: ``sourceFrom`` names a
    collection to fit the source model on instead (``sourceInput``
    defaults to ``input``'s expression) — the PRE-TRAINED-model mode:
    both models are static, per-document scoring is row-pure, and the
    stage runs under Structured Streaming (per-message scores identical
    regardless of micro-batch boundaries).

    100 TB shape: both corpus models are one explode + partial-aggregated
    ``groupBy(bucket)`` — at most ``buckets`` rows survive each shuffle,
    independent of corpus size; totals are single-row broadcast
    aggregates; the per-bucket log-ratio table is buckets-sized (AQE
    broadcasts it into the feature join); per-doc summation rides one
    shuffle on ``id``.  No driver collect, no pairwise work, no Python.
    """
    inp = expression["input"]
    id_field = expression["id"]
    from_coll = expression["from"]
    target_input = expression.get("targetInput", inp)
    source_from = expression.get("sourceFrom")
    source_input = expression.get("sourceInput", inp)
    n = int(expression.get("n", 2))
    buckets = int(expression.get("buckets", 10_000))
    alpha = float(expression.get("smoothing", 1.0))
    as_field = expression.get("as", "dsir_score")
    if n < 1 or buckets < 1 or alpha <= 0:
        raise ValueError(
            "$dsirScore needs n >= 1, buckets >= 1 and smoothing > 0")
    if source_from is None:  # the source model fits on the input itself
        check_kind("$dsirScore", "corpus", ctx)

    def fn(df: DataFrame, c: Context) -> DataFrame:
        tgt = c.collection(from_coll)

        def feats(col: Column) -> Column:
            """All word n-grams of sizes 1..n as a BAG (not distinct),
            hashed to bucket ids — row-local HOFs only.  The explicit
            whitespace class keeps tokenization identical to the RE2
            oracle (Java \\s vs RE2 \\s differ on vertical tab)."""
            words = F.filter(F.split(F.lower(col), _WS + "+"),
                             lambda w: w != F.lit(""))
            def gram_hasher(size):
                # closure binding, NOT a default arg — `lambda i, s=size:`
                # would change the lambda's arity and make pyspark pass
                # the array index as the second argument (same trap as
                # _seeded_hasher)
                def g(i: Column) -> Column:
                    return F.pmod(
                        md5_long(
                            F.array_join(F.slice(words, i + 1, size), " "),
                            0),
                        F.lit(buckets))

                return g

            parts = []
            for size in range(1, n + 1):
                k = F.size(words) - F.lit(size - 1)
                idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
                    F.array().cast("array<int>"))
                parts.append(F.transform(idx, gram_hasher(size)))
            return F.concat(*parts) if len(parts) > 1 else parts[0]

        src_expr = compile_expr(inp, ExprContext(schema=df.schema))
        tgt_expr = compile_expr(target_input, ExprContext(schema=tgt.schema))
        # _spread (r13): the md5-per-ngram feature explode is the
        # per-row-heavy work of this stage; a small parquet corpus
        # arrives as one scan task and runs it serial (measured 11 s at
        # sf0.1 vs ~1 s spread).  The row-group gate keeps real-scale
        # inputs unshuffled.
        src_feats = _spread(df).select(
            F.col(id_field).alias("__did"),
            F.explode(feats(src_expr)).alias("__b"))
        tgt_feats = _spread(tgt).select(
            F.explode(feats(tgt_expr)).alias("__b"))
        if source_from is not None:
            # pre-trained source model from a static collection — the
            # input corpus only provides the documents being scored
            src_coll = c.collection(source_from)
            src_model_expr = compile_expr(
                source_input, ExprContext(schema=src_coll.schema))
            model_feats = _spread(src_coll).select(
                F.explode(feats(src_model_expr)).alias("__b"))
        else:
            model_feats = src_feats
        # _pin_computed (r13): each count table is referenced twice
        # (ratio join + its total) and Catalyst re-inlines both — the
        # un-pinned plan ran the corpus feature explode 5 times (3 full
        # + 2 target-slice, executed-plan audit).  The tables are
        # bounded at ``buckets`` rows, so the one-time materialization
        # pays at any scale; the scoring side's own explode is the only
        # full-corpus pass left besides the model fits.
        src_counts = _pin_computed(model_feats.groupBy("__b").agg(
            F.count(F.lit(1)).alias("__cs")))
        tgt_counts = _pin_computed(tgt_feats.groupBy("__b").agg(
            F.count(F.lit(1)).alias("__ct")))
        # totals derive from the already-aggregated bucket tables — a
        # count over tgt_feats would re-run the whole feature explode
        src_tot = src_counts.agg(F.sum("__cs").alias("__ts"))
        tgt_tot = tgt_counts.agg(F.sum("__ct").alias("__tt"))
        a = F.lit(alpha)
        ab = F.lit(alpha * buckets)
        # full_outer + coalesced counts: in sourceFrom mode a document
        # bucket may be absent from either model and must score its
        # Laplace default, not silently drop (in the default fit-on-input
        # mode every document bucket is in src_counts, so this is the
        # same table plus never-joined target-only rows)
        ratios = (
            src_counts.join(tgt_counts, "__b", "full_outer")
            .crossJoin(F.broadcast(src_tot))
            .crossJoin(F.broadcast(tgt_tot))
            .select(
                "__b",
                (F.log((F.coalesce(F.col("__ct"), F.lit(0)) + a)
                       / (F.coalesce(F.col("__tt"), F.lit(0)) + ab))
                 - F.log((F.coalesce(F.col("__cs"), F.lit(0)) + a)
                         / (F.coalesce(F.col("__ts"), F.lit(0)) + ab))
                 ).alias("__lr"),
            )
        )
        scores = (
            src_feats.join(ratios, "__b", "left")
            .crossJoin(F.broadcast(src_tot))
            .crossJoin(F.broadcast(tgt_tot))
            .withColumn(
                "__lr1",
                F.coalesce(
                    F.col("__lr"),
                    F.log(a / (F.coalesce(F.col("__tt"), F.lit(0)) + ab))
                    - F.log(a / (F.coalesce(F.col("__ts"), F.lit(0))
                                 + ab))))
            .groupBy("__did")
            .agg(F.sum("__lr1").alias("__raw"))
        )
        return (
            df.join(scores, df[id_field] == scores["__did"], "left")
            .withColumn(as_field,
                        _half_up6(F.coalesce(F.col("__raw"), F.lit(0.0))))
            .drop("__did", "__raw")
        )

    return fn


@register_stage("$mmr", "batch")
def mmr_stage(expression: Any, ctx: Context) -> StageFn:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): ``{score, input, id, by?, k?, lambda?, as?}`` — per group
    (``by``, e.g. the query id; omitted = one global group) greedily
    select ``k`` candidates, each step taking the argmax of

        lambda * score  -  (1 - lambda) * max cosine-sim to selected

    — the classic diversified top-k for retrieval/sampling: high
    ``lambda`` favors relevance, low favors diversity.  Emits ONLY the
    selected rows, with their 1-based selection rank in ``as`` (default
    ``mmr_rank``; an existing column of that name is replaced).
    Deterministic: candidates order by ``id``, the MMR value and the
    pairwise similarities round half-up at 9 digits, and value ties
    pick the smaller id — so the whole greedy iteration is
    DuckDB-oracle-able (unrolled like $kmeans).  Rows with a null or
    NaN score, or a null embedding/id, are not candidates.  ``id``
    should be unique within its group: duplicated ids collapse to the
    highest-scoring candidate before selection (so a rank is assigned
    at most once per id), and every source row carrying a selected id
    is emitted with that rank.

    Scale: one ``groupBy(by).collect_list`` shuffle — holistic, the
    group must hold ONE QUERY'S candidate set (top-N sized, e.g. the
    output of $annTopK/$knnJoin/$bm25; thousands, not corpus-scale);
    selection is a row-local k-step fold carrying a running max-sim per
    candidate (O(k·n·dim) per group); the rank joins back on
    (group, id).  No driver collect, no cartesian.
    """
    score_e = expression["score"]
    inp = expression["input"]
    id_field = expression["id"]
    by = expression.get("by")
    k = int(expression.get("k", 10))
    lam = float(expression.get("lambda", 0.5))
    as_field = expression.get("as", "mmr_rank")
    if k < 1:
        raise ValueError("$mmr needs k >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("$mmr lambda must be in [0, 1]")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        emb = compile_expr(inp, ectx).cast("array<double>")
        score = compile_expr(score_e, ectx).cast("double")
        gexpr = (compile_expr(by, ectx) if by is not None else F.lit(0))
        pts = df.select(
            gexpr.alias("__g"),
            F.col(id_field).alias("__i"),
            score.alias("__s"),
            _unit_vector(emb).alias("__e"),
        ).filter(F.col("__i").isNotNull() & F.col("__s").isNotNull()
                 & ~F.isnan(F.col("__s")) & F.col("__e").isNotNull())
        # candidates sort by id (struct field order), so position-order
        # argmax ties resolve to the smaller id on every engine/run
        sorted_cands = F.sort_array(F.collect_list(
            F.struct(F.col("__i").alias("i"), F.col("__s").alias("s"),
                     F.col("__e").alias("e"))))
        # r13: the sorted list lands as an AGG OUTPUT COLUMN before the
        # dedup filter references it — element_at(<sort expr>, i) inside
        # the filter lambda re-sorted the whole collected list per
        # element (interpreted HOFs re-evaluate captured expressions;
        # O(n² log n) per group).  A column reference is one read.
        grouped0 = pts.groupBy("__g").agg(sorted_cands.alias("__c0"))
        c0 = F.col("__c0")
        # duplicated ids collapse to their LAST (= highest (s, e))
        # sorted entry, so a rank is assigned at most once per id
        grouped = grouped0.select(
            "__g",
            F.filter(
                c0,
                lambda c, i: (i == F.size(c0) - 1)
                | (F.element_at(c0, i + 2).getField("i")
                   != c.getField("i")),
            ).alias("__c"))
        cands = F.col("__c")
        neg = F.lit(-1e300)

        # the fold state carries (picks, per-candidate running max-sim to
        # the picked set) so each step dots every candidate against ONLY
        # the newly picked vector — O(k·n·dim) total, not O(k²·n·dim).
        # The running max of per-pair ROUNDED sims equals the max over
        # all rounded sims, so results are bit-identical to the naive
        # recompute (and to the unrolled oracle).
        init = F.struct(
            F.array().cast("array<int>").alias("picks"),
            F.transform(cands, lambda c: F.lit(float("-inf"))).alias("ms"),
        )

        def bind1(col: Column, f) -> Column:
            # evaluate ``col`` ONCE and hand it to ``f`` as a lambda
            # VARIABLE (a slot read) — interpreted HOFs re-evaluate
            # captured EXPRESSIONS per element (the r13 HOF-CSE rule),
            # so anything a per-element lambda closes over must be a
            # variable or a column, never a computation
            return F.element_at(F.transform(F.array(col), f), 1)

        def step(acc: Column, _n: Column) -> Column:
            picks = acc.getField("picks")
            ms = acc.getField("ms")
            vals = F.transform(
                cands,
                lambda cand, i: F.when(F.array_contains(picks, i), neg)
                .otherwise(_round9_col(
                    F.lit(lam) * cand.getField("s")
                    - F.lit(1.0 - lam) * F.when(
                        F.size(picks) > 0, F.element_at(ms, i + 1)
                    ).otherwise(F.lit(0.0)))),
            )

            def with_pick(pick: Column) -> Column:
                def with_picked_e(picked_e: Column) -> Column:
                    # r14: picked_e enters zip_with as a VARIABLE; as a
                    # captured expression it re-ran argmax-over-vals
                    # (two O(n) walks) per zip_with element — O(k·n²)
                    # per group on top of the O(dim) dot
                    new_ms = F.zip_with(
                        cands, ms,
                        lambda cand, m: F.greatest(
                            m, _round9_col(
                                _pair_dot(cand.getField("e"), picked_e))),
                    )
                    done = F.size(picks) >= F.size(cands)
                    return F.struct(
                        F.when(done, picks)
                        .otherwise(F.concat(picks, F.array(pick)))
                        .alias("picks"),
                        F.when(done, ms).otherwise(new_ms).alias("ms"),
                    )

                return bind1(F.element_at(cands, pick + 1).getField("e"),
                             with_picked_e)

            return bind1(
                (F.array_position(vals, F.array_max(vals)) - 1).cast("int"),
                with_pick)

        sel = F.aggregate(
            F.sequence(F.lit(1), F.lit(k)), init, step,
        ).getField("picks")
        ranked = grouped.select(
            "__g",
            F.explode(F.transform(
                sel,
                lambda p, r: F.struct(
                    F.element_at(cands, p + 1).getField("i").alias("i"),
                    (r + 1).cast("int").alias("r")))).alias("__x"),
        ).select(F.col("__g").alias("__mg"),
                 F.col("__x.i").alias("__mi"),
                 F.col("__x.r").alias("__mr"))
        return (
            df.join(
                ranked,
                gexpr.eqNullSafe(F.col("__mg"))
                & (F.col(id_field) == F.col("__mi")))
            .withColumn(as_field, F.col("__mr"))
            .drop("__mg", "__mi", "__mr")
        )

    return fn


@register_stage("$rankEval", "batch")
def rank_eval_stage(expression: Any, ctx: Context) -> StageFn:
    """Ranking-quality evaluation over (group, rank, gain) triples:
    ``{by, rank, gain, k?, dcg?}`` — one output row per group (query):

    - ``_id`` — the group key
    - ``ndcg`` — nDCG@k: DCG over ranks ≤ k divided by the ideal DCG of
      the group's top-k gains; ``dcg: "linear"`` (default,
      gain/log2(rank+1)) or ``"exp"`` ((2^gain − 1)/log2(rank+1))
    - ``precision`` / ``recall`` — relevant (gain > 0) in the top k
      over k / over all relevant (recall null when nothing is relevant)
    - ``ap`` — average precision@k: Σ over relevant ranks r ≤ k of
      precision@r, normalized by min(k, total relevant) — the per-query
      term of MAP (null when nothing is relevant)
    - ``mrr`` — 1 / first relevant rank (null when nothing is relevant)
    - ``n_relevant`` — total relevant items in the group

    ``rank`` is the 1-based position your ranker assigned (e.g. a
    ``$documentNumber`` window or $annTopK's ``rank``); doubles round
    half-up at 6 digits.  Scale: ONE partial-aggregated groupBy — the
    ideal-DCG term collects the group's gains (a query's result list,
    top-N sized), everything else is algebraic.  No joins, no driver
    collect."""
    by = expression["by"]
    rank_e = expression["rank"]
    gain_e = expression["gain"]
    k = int(expression.get("k", 10))
    dcg_mode = expression.get("dcg", "linear")
    if k < 1:
        raise ValueError("$rankEval needs k >= 1")
    if dcg_mode not in ("linear", "exp"):
        raise ValueError("$rankEval dcg must be 'linear' or 'exp'")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ectx = ExprContext(schema=df.schema)
        g = compile_expr(by, ectx)
        rank = compile_expr(rank_e, ectx).cast("double")
        gain = compile_expr(gain_e, ectx).cast("double")
        if dcg_mode == "exp":
            gain = F.pow(F.lit(2.0), gain) - F.lit(1.0)
        rel = gain > 0
        dcg = F.sum(F.when(rank <= k, gain / F.log2(rank + 1))
                    .otherwise(F.lit(0.0)))
        # ideal DCG: the group's top-k gains in descending order
        gains = F.reverse(F.array_sort(F.collect_list(gain)))
        idcg = F.aggregate(
            F.zip_with(
                F.slice(gains, 1, k),
                F.sequence(F.lit(1), F.least(F.size(gains), F.lit(k))),
                lambda gn, i: gn / F.log2(i.cast("double") + 1.0)),
            F.lit(0.0), lambda acc, v: acc + v)
        hits = F.sum(F.when(rel & (rank <= k), 1).otherwise(0))
        n_rel = F.sum(F.when(rel, 1).otherwise(0))
        first_rel = F.min(F.when(rel, rank))
        # average precision: fold the rank-sorted (rank, rel) pairs,
        # accumulating precision@r at each relevant r <= k
        pairs = F.sort_array(F.collect_list(F.struct(
            rank.alias("r"),
            F.when(rel, 1.0).otherwise(0.0).alias("v"))))
        ap_sum = F.aggregate(
            pairs,
            F.struct(F.lit(0.0).alias("cnt"), F.lit(0.0).alias("ap")),
            lambda acc, p: F.struct(
                (acc.getField("cnt") + p.getField("v")).alias("cnt"),
                (acc.getField("ap") + F.when(
                    (p.getField("v") > 0) & (p.getField("r") <= k),
                    (acc.getField("cnt") + p.getField("v"))
                    / p.getField("r")).otherwise(F.lit(0.0))).alias("ap"),
            ),
            lambda acc: acc.getField("ap"))
        out = df.groupBy(g.alias("_id")).agg(
            _half_up6(F.when(idcg > 0, dcg / idcg)
                      .otherwise(F.lit(0.0))).alias("ndcg"),
            _half_up6(hits.cast("double") / F.lit(float(k))
                      ).alias("precision"),
            _half_up6(F.when(n_rel > 0, hits.cast("double") / n_rel)
                      ).alias("recall"),
            _half_up6(F.when(
                n_rel > 0,
                ap_sum / F.least(F.lit(float(k)), n_rel.cast("double")))
            ).alias("ap"),
            _half_up6(F.lit(1.0) / first_rel).alias("mrr"),
            n_rel.cast("long").alias("n_relevant"),
        )
        return out

    return fn


@register_stage("$decontaminate", "per_batch")
def decontaminate_stage(expression: Any, ctx: Context) -> StageFn:
    """Training-corpus decontamination against a reference set (e.g. an
    eval benchmark): ``{input, against: <collection>, againstField,
    shingle?, minOverlap?, as?, mode?}``.

    Both sides reduce to distinct word-``shingle`` n-gram hash sets; the
    reference side's DISTINCT shingle hashes broadcast (benchmarks are
    dimension-sized next to a training corpus); each document counts its
    overlapping shingles with one row-local array intersection against
    the broadcast set — no shuffle of the corpus.  ``mode``: ``flag``
    (default — adds ``as`` with the overlap count), ``drop`` (removes
    contaminated docs: overlap >= minOverlap), ``keep`` (keeps only
    contaminated docs, for auditing).  100 TB path: the broadcast is
    gated by the same limit as $lookup; beyond it, pre-join on a bucket
    of the shingle hash instead."""
    inp = expression["input"]
    against = expression["against"]
    against_field = expression.get("againstField", "text")
    shingle = int(expression.get("shingle", 8))
    min_overlap = int(expression.get("minOverlap", 1))
    as_field = expression.get("as", "contamination")
    mode = expression.get("mode", "flag")
    if mode not in ("flag", "drop", "keep"):
        raise ValueError("$decontaminate mode must be flag|drop|keep")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        ref = c.collection(against)
        ref_hashes = (
            ref.select(
                F.explode(
                    word_shingles(F.col(against_field), shingle)
                ).alias("__s")
            )
            .select(md5_long(F.col("__s"), 0).alias("__h"))
            .distinct()
            .agg(F.collect_list("__h").alias("__ref"))
        )
        text = compile_expr(inp, ExprContext(schema=df.schema))
        doc_hashes = F.transform(
            word_shingles(text, shingle), _seeded_hasher(0)
        )
        tagged = df.crossJoin(F.broadcast(ref_hashes)).withColumn(
            as_field,
            F.size(F.array_intersect(doc_hashes, F.col("__ref"))),
        ).drop("__ref")
        if mode == "drop":
            return tagged.filter(F.col(as_field) < min_overlap).drop(as_field)
        if mode == "keep":
            return tagged.filter(F.col(as_field) >= min_overlap)
        return tagged

    return fn


@register_stage("$mediaEmbed", "per_batch")
def media_embed_stage(expression: Any, ctx: Context) -> StageFn:
    """Deterministic feature embedding of a binary column:
    ``{input, dim, as}`` -> ``array<double>`` in [-1, 1).

    Stub featurizer (this container has no image/audio models): dimension
    d = the same 60-bit md5 derivation as ``md5_long`` over ``d:bytes`` —
    deterministic, JVM-native, reproducible in any SQL engine with md5
    (``(('0x'||substr(md5(d||':'||x),1,15))::BIGINT % 2000)/1000 - 1`` in
    DuckDB), and shaped exactly like a real model's output so it composes
    with $annTopK/$annLsh/$embedDedup.  A real encoder replaces the hash
    with an Arrow-batched mapInPandas model call behind the same schema.
    """
    inp = expression["input"]
    dim = int(expression.get("dim", 16))
    as_field = expression.get("as", "embedding")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        data = compile_expr(inp, ExprContext(schema=df.schema)).cast("binary")
        comps = [
            F.conv(
                F.substring(
                    F.md5(F.concat(F.encode(F.lit(f"{d}:"), "UTF-8"), data)),
                    1, 15,
                ),
                16, 10,
            ).cast("long") % 2000 / 1000.0 - 1.0
            for d in range(dim)
        ]
        return df.withColumn(as_field, F.array(*comps))

    return fn


@register_stage("$urlParse", "per_batch")
def url_parse_stage(expression: Any, ctx: Context) -> StageFn:
    """URL decomposition for corpus curation: ``{input, as?}`` adds a
    struct (default ``url``) with ``scheme``, ``host``, ``domain``
    (host minus one leading ``www.``), ``apex`` (last two host labels),
    ``path``, ``query`` and ``fragment`` — each part null when that
    component is absent.  Values with no recognizable URL structure get
    all-null parts, but scheme-less inputs like ``example.com/path``
    parse PARTIALLY (Java URI semantics: path non-null, host/scheme
    null) — filter on ``url.host`` (not ``url.path``) as the
    "parsed as a web URL" proxy.

    The standard front door to domain-level curation (blocklists,
    per-domain caps, URL dedup): follow with $match on ``url.domain``
    or $lookup against a domain table.  ``apex`` is a PSL-free
    approximation — correct for ``example.com``-style hosts, wrong for
    multi-label public suffixes like ``co.uk``; pipelines that need
    exact registrable domains join a public-suffix-list collection
    instead (the engine keeps this row-local rather than embedding a
    suffix snapshot that silently goes stale).

    100 TB: a map-only pass — ``try_parse_url`` and label slicing are
    JVM intrinsics, zero shuffle, zero Python.
    """
    inp = expression["input"]
    as_field = expression.get("as", "url")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        tmp = df.withColumn("__url_in", text)

        def part(p: str) -> Column:
            return F.expr(f"try_parse_url(`__url_in`, '{p}')")

        host = part("HOST")
        domain = F.regexp_replace(host, r"^www\.", "")
        labels = F.split(domain, r"\.")
        apex = F.when(
            F.size(labels) >= 2,
            F.concat_ws(
                ".",
                F.element_at(labels, -2), F.element_at(labels, -1)),
        ).otherwise(domain)
        out = tmp.withColumn(
            as_field,
            F.struct(
                part("PROTOCOL").alias("scheme"),
                host.alias("host"),
                domain.alias("domain"),
                apex.alias("apex"),
                part("PATH").alias("path"),
                part("QUERY").alias("query"),
                part("REF").alias("fragment"),
            ),
        )
        return out.drop("__url_in")

    return fn


@register_stage("$groupCap", "batch")
def group_cap_stage(expression: Any, ctx: Context) -> StageFn:
    """Per-group row cap: ``{by, cap, sortBy}`` keeps the first ``cap``
    rows of each group in ``sortBy`` order — the domain-cap /
    best-per-cluster curation primitive (``cap: 1`` is argmin/argmax:
    e.g. keep the highest-quality document per ``url.domain``, or cap
    any one domain's contribution to a training mix).

    ``by`` is one expression or a list (compound key); ``sortBy`` is a
    Mongo sort document over field paths (``{field: 1|-1}``) and is
    REQUIRED — a cap without an order is nondeterministic; add a unique
    tie-break field (the doc id) for fully stable output.

    100 TB shape: compiles to ``row_number`` over (by, sortBy), which
    Spark rewrites to WindowGroupLimit — every task pre-prunes its
    input to ``cap`` rows per group BEFORE the exchange, so a skewed
    group (one domain = half the corpus) costs cap×tasks shuffled rows,
    not its full size.  One hash shuffle on the group key, no join, no
    global sort.
    """
    by = expression["by"]
    cap = int(expression["cap"])
    sort_by = expression.get("sortBy")
    if cap < 1:
        raise ValueError("$groupCap cap must be >= 1")
    if not sort_by:
        raise ValueError(
            "$groupCap needs sortBy — a cap without an order would keep "
            "arbitrary rows")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        from ..operators.extended import _sort_cols

        ectx = ExprContext(schema=df.schema)
        keys = by if isinstance(by, list) else [by]
        w = Window.partitionBy(
            *[compile_expr(k, ectx) for k in keys]
        ).orderBy(*_sort_cols(sort_by))
        return (
            df.withColumn("__gc_rn", F.row_number().over(w))
            .filter(F.col("__gc_rn") <= cap)
            .drop("__gc_rn")
        )

    return fn


# ------------------------------------------------- markup / quality signals



# &amp; decodes LAST: decoding it first would double-decode escaped
# references ("&amp;lt;" must become the literal "&lt;", not "<")
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


@register_stage("$htmlStrip", "per_batch")
def html_strip_stage(expression: Any, ctx: Context) -> StageFn:
    """Markup removal for web-scraped corpora: ``{input, as?}`` adds a
    struct:

    - ``clean_text`` — ``<script>``/``<style>`` blocks dropped wholesale
      (their text is code, not prose), every remaining tag replaced by a
      space, the common named entities decoded (``&amp; &lt; &gt; &quot;
      &#39; &apos; &nbsp;``), whitespace runs collapsed, trimmed
    - ``n_tags`` — tag count in the raw text (markup-density signal)
    - ``markup_ratio`` — ``1 - len(clean)/len(raw)`` (0 for empty raw):
      the fraction of the document that was markup

    This is a heuristic regex stripper for corpus triage, not an HTML
    parser — CDATA, conditional comments and numeric entities pass
    through (documented boundary; a real extraction pass would sit in
    ``mapInPandas`` behind the same schema).  Regexes avoid
    backreferences so the operator stays oracle-checkable under RE2.
    100 TB shape: a row-local ``regexp_replace`` chain — no shuffle, no
    Python."""
    inp = expression["input"]
    as_field = expression.get("as", "html")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        raw = compile_expr(inp, ExprContext(schema=df.schema))
        clean = raw
        for block in ("script", "style"):
            clean = F.regexp_replace(
                clean, f"(?is)<{block}[^>]*>.*?</{block}>", " ")
        clean = F.regexp_replace(clean, "<[^>]*>", " ")
        for ent, rep in HTML_ENTITIES:
            clean = F.replace(clean, F.lit(ent), F.lit(rep))
        clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
        ratio = (
            F.when(raw.isNull(), F.lit(None).cast("double"))
            .when(
                F.length(raw) > 0,
                _half_up6(1.0 - F.length(clean).cast("double")
                          / F.length(raw)),
            )
            .otherwise(F.lit(0.0))
        )
        st = F.struct(
            clean.alias("clean_text"),
            F.regexp_count(raw, F.lit("<[^>]*>")).cast("int").alias("n_tags"),
            ratio.alias("markup_ratio"),
        )
        return df.withColumn(as_field, st)

    return fn


@register_stage("$readability", "per_batch")
def readability_stage(expression: Any, ctx: Context) -> StageFn:
    """Flesch readability metrics (Flesch 1948 / Kincaid et al. 1975):
    ``{input, as?}`` adds a struct:

    - ``n_sentences`` — terminal-punctuation runs (``. ! ?``; at least
      1 for non-empty text, so ratios stay defined)
    - ``n_words`` — whitespace words (the $gopherRules separator class)
    - ``n_syllables`` — vowel-group approximation: ``[aeiouy]+`` runs
      per lowercased word, min 1 per word carrying a letter (the
      standard dictionary-free estimator; no silent-e handling — a
      documented approximation, consistent on both engines)
    - ``flesch`` — 206.835 − 1.015·(words/sentences)
      − 84.6·(syllables/words)
    - ``fk_grade`` — 0.39·(words/sentences) + 11.8·(syllables/words)
      − 15.59

    Scores round half-up at 6 digits; empty/null text measures zeros
    and null scores.  Row-local column program — no shuffle, no Python.
    """
    inp = expression["input"]
    as_field = expression.get("as", "readability")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        t = F.coalesce(text.cast("string"), F.lit(""))
        words = F.filter(F.split(t, _WS + "+"), lambda w: w != F.lit(""))
        n_words = F.size(words).cast("double")
        sent_runs = F.regexp_count(t, F.lit("[.!?]+")).cast("double")
        n_sent = F.when(n_words > 0, F.greatest(sent_runs, F.lit(1.0))
                        ).otherwise(F.lit(0.0))
        syl = F.aggregate(
            F.transform(
                words,
                lambda w: F.when(
                    w.rlike("[A-Za-z]"),
                    F.greatest(
                        F.regexp_count(F.lower(w), F.lit("[aeiouy]+")),
                        F.lit(1)),
                ).otherwise(F.lit(0))),
            F.lit(0), lambda acc, v: acc + v).cast("double")
        wps = F.try_divide(n_words, n_sent)
        spw = F.try_divide(syl, n_words)
        flesch = (F.lit(206.835) - F.lit(1.015) * wps
                  - F.lit(84.6) * spw)
        fk = (F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59))
        struct = F.struct(
            n_sent.cast("long").alias("n_sentences"),
            n_words.cast("long").alias("n_words"),
            syl.cast("long").alias("n_syllables"),
            _half_up6(flesch).alias("flesch"),
            _half_up6(fk).alias("fk_grade"),
        )
        return df.withColumn(as_field, struct)

    return fn


@register_stage("$entropyScore", "per_batch")
def entropy_score_stage(expression: Any, ctx: Context) -> StageFn:
    """Shannon entropy of the document's unigram distribution —
    ``{input, as?, unit?: "char"|"word"}`` adds a double column (bits):
    low character entropy flags gibberish / boilerplate / repeated-key
    spam, low word entropy flags template pages (a standard
    quality-filter feature alongside $repetitionScore's Gopher rules).

    Entirely a higher-order-function column program (no UDF, no
    shuffle): tokens -> ``array_sort`` -> run-length boundaries via an
    indexed ``filter`` -> counts via ``zip_with`` against the shifted
    boundary list -> ``H = log2(n) - sum(c*log2(c))/n`` via
    ``aggregate``.  Per-row memory is O(doc length) — the same bound as
    the shingling operators.  Null input -> null; empty -> 0.0.
    Rounded to 6 digits (cross-engine libm drift)."""
    inp = expression["input"]
    as_field = expression.get("as", "entropy")
    # plural accepted too, mirroring $truncateTokens
    unit = {"chars": "char", "words": "word"}.get(
        expression.get("unit", "char"), expression.get("unit", "char"))
    if unit not in ("char", "word"):
        raise ValueError(f"$entropyScore unit must be char|word, got {unit}")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        raw = compile_expr(inp, ExprContext(schema=df.schema))
        sep = "" if unit == "char" else r"\s+"
        toks = F.filter(F.split(raw, sep), lambda x: x != F.lit(""))
        # r13: the sorted array and the run-start list are BOUND TO
        # COLUMNS, not captured as expressions.  HOFs run interpreted
        # (CodegenFallback) with no cross-lambda subexpression reuse,
        # so ``element_at(array_sort(toks), i)`` inside the boundary
        # filter re-sorted the WHOLE array once per element — O(L² log
        # L) per document (measured: the sf0.1 query sat >15 min on
        # one core; ~1 s after).  A column reference is one attribute
        # read; CollapseProject keeps the binding because each alias
        # is referenced more than once and is not cheap.
        s = F.col("__ent_s")
        n = F.size(s)
        # interpreted HOF sort+fold over a per-char array is the
        # per-row-heavy class (same stance as minhash/simhash): fan a
        # single-scan-task corpus out before it
        bound = _spread(df).withColumn("__ent_s", F.array_sort(toks))
        # 0-based positions where a new run starts in the sorted array
        bound = bound.withColumn(
            "__ent_i",
            F.filter(
                F.transform(s, lambda x, i: i),
                lambda i: (i == F.lit(0))
                | (F.element_at(s, i) != F.element_at(s, i + F.lit(1))),
            ))
        idx = F.col("__ent_i")
        shifted = F.concat(
            F.slice(idx, 2, F.greatest(F.size(idx) - 1, F.lit(0))),
            F.array(n),
        )
        counts = F.zip_with(idx, shifted, lambda a, b: b - a)
        sum_clogc = F.aggregate(
            counts,
            F.lit(0.0),
            lambda acc, cnt: acc
            + cnt.cast("double") * F.log2(cnt.cast("double")),
        )
        ent = (
            F.when(raw.isNull(), F.lit(None).cast("double"))
            .when(n > 0, _half_up6(F.log2(n.cast("double")) - sum_clogc / n))
            .otherwise(F.lit(0.0))
        )
        return bound.withColumn(as_field, ent).drop("__ent_s", "__ent_i")

    return fn


@register_stage("$piiStats", "per_batch")
def pii_stats_stage(expression: Any, ctx: Context) -> StageFn:
    """PII density signals: ``{input, as?}`` adds a struct with a
    non-overlapping match count per $scrubText rule — ``{email, url,
    ip, phone, total, has_pii}`` — so pipelines can FILTER or ROUTE on
    PII density (``$scrubText`` rewrites; this one measures).  Counts
    are independent per rule (a URL embedding an @-token counts under
    both ``url`` and ``email``), unlike $scrubText's ordered rewrite
    chain — document-level triage wants the raw per-pattern signal.
    100 TB shape: four native ``regexp_count`` calls, row-local, no
    shuffle, no Python."""
    inp = expression["input"]
    as_field = expression.get("as", "pii")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        raw = compile_expr(inp, ExprContext(schema=df.schema))
        counts = {
            name: F.regexp_count(raw, F.lit(rx)).cast("int")
            for name, (rx, _tok) in SCRUB_RULES
        }
        total = None
        for cnt in counts.values():
            total = cnt if total is None else total + cnt
        st = F.struct(
            *[cnt.alias(name) for name, cnt in counts.items()],
            total.cast("int").alias("total"),
            (total > 0).alias("has_pii"),
        )
        return df.withColumn(as_field, st)

    return fn


@register_stage("$shuffle", "batch")
def shuffle_stage(expression: Any, ctx: Context) -> StageFn:
    """Deterministic corpus shuffle: ``{id, seed?}`` orders the corpus
    by ``md5(seed:id)`` — the write-order randomization step of a
    training-data pipeline.  Seeded and engine-portable (same md5 fold
    as $datasetSplit), so a re-run, a retry, or another engine produces
    the SAME order; changing ``seed`` produces an independent
    permutation.  The id string is the secondary sort key, so hash
    collisions (60-bit prefixes collide with real probability at
    billions of docs) still place deterministically; rows SHARING an id
    remain mutually unordered — give documents unique ids for a total
    order.  Null ids sort first (Spark's null ordering; engines that
    default nulls-last would place them at the other end — keep ids
    non-null for the cross-engine guarantee).  Documents keep all their
    columns.

    100 TB shape: one range exchange on the hash (uniform keys ⇒
    balanced ranges, no skew by construction) — exactly the cost of any
    global sort, and the sampling pass is over the 8-byte hash, not the
    documents.  There is no window function and no single-partition
    funnel; each output partition is written independently in hash
    order.  Batch-only (a global order is meaningless mid-stream)."""
    id_expr = expression.get("id", "$_id")
    seed = int(expression.get("seed", 0))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        idc = compile_expr(id_expr, ExprContext(schema=df.schema))
        ids = idc.cast("string")
        return df.orderBy(md5_long(ids, seed), ids)

    return fn


@register_stage("$truncateTokens", "per_batch")
def truncate_tokens_stage(expression: Any, ctx: Context) -> StageFn:
    """Token-budget truncation: ``{input, as?, max, unit?:
    "tokens"|"chars"}`` cuts each document to its first ``max``
    whitespace tokens (rejoined single-spaced — documented: original
    whitespace runs are not preserved) or to ``max`` characters.  The
    context-length guard of a training pipeline ("cap documents at 8k
    tokens before packing").  Null in -> null out; a non-positive
    ``max`` is a compile-time error.  100 TB shape: row-local
    slice/substr column program, zero shuffle.

    r6: ``tokenizer: {merges: "<collection>"}`` truncates to ``max``
    REAL BPE tokens (functions/bpe.py — GPT-2-style merge ranks
    broadcast from a Context collection).  Pre-tokens carry their
    leading whitespace, so the kept tokens concatenate to the EXACT
    prefix of the original text (no whitespace loss, unlike the
    whitespace mode's single-space rejoin; r7 byte-level: a cut inside
    a multi-byte codepoint keeps the longest whole-character prefix).
    Arrow-batched Pandas UDF —
    the documented tokenizer boundary; row-local, zero shuffle."""
    inp = expression["input"]
    as_field = expression.get("as", "text")
    max_n = int(expression["max"])
    tokenizer = expression.get("tokenizer")
    if tokenizer is not None and "merges" not in tokenizer:
        raise ValueError(
            "$truncateTokens tokenizer needs a merges collection")
    # singular and plural both accepted — $entropyScore spells the same
    # knob "char"/"word"; the family must not punish the analogy
    unit = {"token": "tokens", "char": "chars"}.get(
        expression.get("unit", "tokens"), expression.get("unit", "tokens"))
    if max_n <= 0:
        raise ValueError("$truncateTokens max must be >= 1")
    if unit not in ("tokens", "chars"):
        raise ValueError(
            f"$truncateTokens unit must be tokens|chars, got {unit}")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        text = compile_expr(inp, ExprContext(schema=df.schema))
        if tokenizer is not None:
            if unit != "tokens":
                raise ValueError(
                    "$truncateTokens tokenizer applies to unit 'tokens'")
            from . import bpe as _bpe

            _bpe.ship()
            bc = _bpe.broadcast_tokenizer(c, tokenizer["merges"])
            truncate = _bpe.truncate_tokens

            cache: dict = {}  # per-task word memo, see $tokenCount

            @F.pandas_udf("string")
            def _trunc(s: pd.Series) -> pd.Series:
                _bpe.trim_memo(cache)
                rk, _ = bc.value
                return s.map(lambda t: truncate(t, max_n, rk, cache))

            return df.withColumn(as_field, _trunc(text))
        if unit == "chars":
            out = F.substring(text, 1, max_n)
        else:
            toks = F.filter(F.split(F.trim(text), r"\s+"),
                            lambda x: x != F.lit(""))
            out = F.concat_ws(" ", F.slice(toks, 1, max_n))
            # concat_ws treats null arrays as '' — keep null in -> null out
            out = F.when(text.isNull(), F.lit(None).cast("string")) \
                .otherwise(out)
        return df.withColumn(as_field, out)

    return fn


@register_stage("$mixCorpora", "batch")
def mix_corpora_stage(expression: Any, ctx: Context) -> StageFn:
    """Deterministic weighted corpus mixture — the "70% web / 30%
    books" composition step of a training-data pipeline:

    ``{id, seed?, as?, base: {name, rate}, extra: {name: {from,
    rate, id?}}}``

    The pipeline frame is the ``base`` corpus, down-sampled to
    ``rate``; each ``extra`` entry names a Context collection sampled
    at its own rate; all parts union (by column name, missing columns
    null-filled) with the part's name in the ``as`` column (default
    ``mix_source``).  Sampling keeps a row when
    ``md5(seed:name:id) % 1e6 < rate*1e6`` — the same engine-portable
    fold as $datasetSplit, so the mixture is reproducible across runs,
    retries and engines, stable under corpus growth (a row's fate
    depends only on its own id), and independent per part (the part
    name salts the hash).  Null ids hash as the empty string, so all
    null-id rows of a part share one deterministic fate rather than
    silently dropping — give rows unique ids for per-row sampling.
    Rates are exact in expectation, not exact counts — cheap and shuffle-free where an exact-count mix would
    need a global sort; compose with $groupCap for hard caps.

    100 TB shape: row-local hash filters + a metadata-only union —
    zero shuffle, each part's parquet scan prunes independently."""
    id_expr = expression.get("id", "$_id")
    seed = int(expression.get("seed", 0))
    as_field = expression.get("as", "mix_source")
    base = expression.get("base", {})
    base_name = base.get("name", "base")
    extra: dict = expression.get("extra", {})
    parts = [(base_name, None, float(base.get("rate", 1.0)), id_expr)]
    for name, spec in extra.items():
        if not isinstance(spec, dict) or "from" not in spec:
            raise ValueError(
                f"$mixCorpora extra part {name!r} needs "
                "{from: <collection>, rate?}")
        parts.append((name, spec["from"], float(spec.get("rate", 1.0)),
                      spec.get("id", id_expr)))
    for name, _src, rate, _id in parts:
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"$mixCorpora rate for {name!r} must be in "
                             f"[0, 1], got {rate}")
    if len({name for name, *_ in parts}) != len(parts):
        raise ValueError("$mixCorpora part names must be unique")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        out = None
        for name, src, rate, part_id in parts:
            part = df if src is None else c.collection(src)
            idc = compile_expr(part_id, ExprContext(schema=part.schema))
            # null ids hash as the empty string (coalesce), not to a
            # dropped NULL predicate — a row's fate must be a decision,
            # never silent loss ($datasetSplit keeps null-id rows too)
            h = md5_long(
                F.concat(F.lit(f"{name}:"),
                         F.coalesce(idc.cast("string"), F.lit(""))),
                seed) % F.lit(1_000_000)
            kept = part.filter(h < F.lit(int(round(rate * 1_000_000)))) \
                .withColumn(as_field, F.lit(name))
            out = kept if out is None else out.unionByName(
                kept, allowMissingColumns=True)
        return out

    return fn
