"""Retrieval family: $bm25, $tfIdf, $collocations; SCRUB_RULES lives
here for $scrubText's import surface.

Split out of functions/datapipe.py (r10); the import surface stays
``functions.datapipe`` — the aggregator re-exports every name.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage

from .dp_dedup import _spread, sql_input


def bm25_term_sql(tf: str, df_: str, n: str, dl: str, avgdl: str,
                  k1: float, b: float) -> str:
    """One query term's BM25 contribution as SQL over column references:
    idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), with the
    Lucene-style idf ln(1 + (N − df + 0.5)/(df + 0.5)).  Shared by
    $bm25 and $search text."""
    return (f"ln(1.0D + ({n} - {df_} + 0.5D) / ({df_} + 0.5D))"
            f" * {tf} * {k1 + 1.0}D"
            f" / ({tf} + {k1}D * ({1.0 - b}D + {b}D * {dl} / {avgdl}))")


@register_stage("$bm25", "per_batch")
def bm25_stage(expression: Any, ctx: Context) -> StageFn:
    """BM25 ranked retrieval: ``{query, input, id, k, k1, b}`` →
    ``(id, score, rank)`` for the top-k documents.

    Spark-first plan: per-document term frequencies are array-filter
    counts over the tokenized text (one column per query term — query
    terms are few, so no explode), corpus statistics (N, avgdl, per-term
    document frequency) are ONE global aggregate broadcast back as a
    single row, and the final top-k is orderBy+limit, which Spark
    executes as TakeOrderedAndProject (per-partition heap-k + driver
    merge — no global sort shuffle).  At 100 TB the only wide operation
    is the single-row stats aggregate, whose partial aggregation reduces
    each task to one row.

    Streaming classification (r9, pinned in README): PER-BATCH by
    design — the corpus statistics fit on each micro-batch (windowed
    retrieval; scores comparable within a batch, not across).  For
    cross-batch-comparable scores, precompute stats on a static corpus
    and stream against them.
    """
    query = expression["query"]
    inp = expression["input"]
    id_field = expression.get("id", "_id")
    k = int(expression.get("k", 10))
    k1 = float(expression.get("k1", 1.2))
    b = float(expression.get("b", 0.75))
    import re as _re

    terms = list(dict.fromkeys(
        t for t in _re.sub(r"[^a-z0-9 ]", " ", query.lower()).split() if t
    ))
    if not terms:
        raise ValueError("$bm25 needs at least one query term")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        df = _spread(df)  # a small corpus file arrives as ONE scan
        # partition; the token fold is the per-row-heavy work _spread
        # exists for (large inputs are already wide and pass through)
        # The whole query is one spark.sql() text over a templated
        # DataFrame reference: a single broadcast stats aggregate,
        # TakeOrderedAndProject and a WindowExec over <= k rows, which
        # tests/test_plan_invariants.py keeps pinned.  All term
        # frequencies come from ONE fold over the token array, so a row
        # is tokenized once regardless of the query size.
        df, ref, idq = sql_input(df, inp, "__bm_in", id_field)
        terms_arr = ", ".join(
            "'" + t.replace("'", "''") + "'" for t in terms)
        nt = len(terms)
        tf_cols = ", ".join(
            f"__tfs[{i}] as __tf{i}" for i in range(nt))
        df_aggs = ", ".join(
            f"sum(cast(__tf{i} > 0 as double)) AS __df{i}"
            for i in range(nt))
        score = " + ".join(
            bm25_term_sql(f"__tf{i}", f"__df{i}", "__n", "__dl",
                          "__avgdl", k1, b)
            for i in range(nt))
        # __bm_base is consumed TWICE (stats aggregate + probe side)
        # and Spark inlines CTEs, so without a shuffle boundary the
        # scan + spread + tokenize fold runs twice.  The REPARTITION
        # hint pins an Exchange over the narrow (id, dl, tf*) rows;
        # both consumers' subtrees are canonically identical, so AQE
        # reuses the shuffle stage (ReusedExchange) and the corpus is
        # scanned and tokenized ONCE — shuffling ~40 B/row instead of
        # re-reading and re-folding the text (r13 measured plan:
        # 2 scans -> 1, tokenize sites executed 2 -> 1).
        sql = f"""
WITH __bm_toks AS (
  SELECT {idq} AS __bm_id,
         filter(split(lower({ref}), '[^a-z0-9]+'), t -> t != '') AS __toks
  FROM {{corpus}}
),
__bm_tfs AS (
  SELECT __bm_id, cast(size(__toks) as double) AS __dl,
         aggregate(__toks, array_repeat(0.0D, {nt}),
                   (acc, t) -> zip_with(acc, array({terms_arr}),
                   (a, trm) -> a + if(t = trm, 1.0D, 0.0D))) AS __tfs
  FROM __bm_toks
),
__bm_base AS (
  SELECT /*+ REPARTITION(__bm_id) */ __bm_id, __dl, {tf_cols} FROM __bm_tfs
),
__bm_stats AS (
  SELECT cast(count(1) as double) AS __n, avg(__dl) AS __avgdl, {df_aggs}
  FROM __bm_base
),
__bm_top AS (
  SELECT /*+ BROADCAST(__bm_stats) */ __bm_id, 0.0D + {score} AS score
  FROM __bm_base CROSS JOIN __bm_stats
  ORDER BY score DESC, __bm_id
  LIMIT {k}
)
SELECT __bm_id AS {idq}, score,
       row_number() OVER (ORDER BY score DESC, __bm_id) AS rank
FROM __bm_top"""
        return df.sparkSession.sql(sql, corpus=df)

    return fn


@register_stage("$tfIdf", "per_batch")
def tf_idf_stage(expression: Any, ctx: Context) -> StageFn:
    """Per-document top-K TF-IDF keyword extraction:
    ``{input, id, topK, minDf?, maxDfRatio?}`` → ``(id, term, tf, score,
    rank)`` rows, ``topK`` terms per document.

    The curation twin of $bm25: where $bm25 ranks documents for a fixed
    query, $tfIdf surfaces each document's most characteristic terms
    (corpus labeling, cluster naming, topic drift checks).  ``minDf``
    drops hapax noise; ``maxDfRatio`` drops stopword-ish terms present in
    more than that fraction of documents.

    Spark-first plan, corpus-scale by construction: term frequencies are
    one (id, term) partial-aggregated shuffle over the exploded tokens;
    document frequencies reduce the SAME aggregate again by term
    (vocabulary-sized); N is a single-row aggregate broadcast back; the
    tf⋈df equi-join shuffles on term (AQE broadcasts it when the
    vocabulary is small); the per-document top-K window rides the id
    shuffle.  Nothing is quadratic and nothing collects to the driver.
    Scores are ``tf · ln(N/df)`` rounded to 9 digits so parallel
    summation order can't leak into comparisons.

    Streaming classification (r9, pinned in README): PER-BATCH by
    design — the corpus statistics fit on each micro-batch (windowed
    retrieval; scores comparable within a batch, not across).  For
    cross-batch-comparable scores, precompute stats on a static corpus
    and stream against them.
    """
    inp = expression["input"]
    id_field = expression.get("id", "_id")
    top_k = int(expression.get("topK", 5))
    min_df = float(expression.get("minDf", 1))
    max_df_ratio = float(expression.get("maxDfRatio", 1.0))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        df = _spread(df)
        text = compile_expr(inp, ExprContext(schema=df.schema))
        tokens = F.filter(
            F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != ""
        )
        pairs = df.select(
            F.col(id_field).alias("__tid"), F.explode(tokens).alias("term")
        )
        tf = pairs.groupBy("__tid", "term").agg(
            F.count(F.lit(1)).cast("double").alias("tf")
        )
        dfreq = tf.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("__df")
        )
        n = df.groupBy().agg(F.count(F.lit(1)).cast("double").alias("__n"))
        scored = (
            tf.join(dfreq, "term")
            .crossJoin(F.broadcast(n))
            .filter(
                (F.col("__df") >= F.lit(min_df))
                & (F.col("__df") / F.col("__n") <= F.lit(max_df_ratio))
            )
            .withColumn(
                "score",
                # half-up at 9 digits via the floor formula — bit-identical
                # to the SQL-oracle convention (plain round() differs
                # between engines on boundary halves)
                F.floor(
                    F.col("tf") * F.log(F.col("__n") / F.col("__df")) * 1e9
                    + F.lit(0.5)
                ).cast("double")
                / F.lit(1e9),
            )
        )
        w = Window.partitionBy("__tid").orderBy(
            F.col("score").desc(), F.col("term")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select(
                F.col("__tid").alias(id_field), "term", "tf", "score", "rank"
            )
        )

    return fn


@register_stage("$collocations", "per_batch")
def collocations_stage(expression: Any, ctx: Context) -> StageFn:
    """Corpus-level collocation mining: ``{input, top, minCount?}`` →
    the ``top`` adjacent word pairs by pointwise mutual information, as
    ``(w1, w2, count, pmi, rank)`` rows.

    PMI = ln((c12 / B) / ((c1 / T) · (c2 / T))) with T total tokens and
    B total bigrams; ``minCount`` (default 5) suppresses the classic
    low-frequency PMI explosion.  Corpus-scale plan: bigram and unigram
    counts are two partial-aggregated shuffles over row-local explodes;
    totals are a single-row broadcast; the two unigram joins are
    vocabulary-sized equi-joins (AQE broadcasts small vocabularies); the
    final top-N is orderBy+limit = TakeOrderedAndProject (per-partition
    heap, no global sort shuffle).

    Streaming classification (r9, pinned in README): PER-BATCH by
    design — the corpus statistics fit on each micro-batch (windowed
    retrieval; scores comparable within a batch, not across).  For
    cross-batch-comparable scores, precompute stats on a static corpus
    and stream against them.
    """
    inp = expression["input"]
    top = int(expression.get("top", 20))
    min_count = int(expression.get("minCount", 5))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        df = _spread(df)
        text = compile_expr(inp, ExprContext(schema=df.schema))
        tokens = F.filter(
            F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != ""
        )
        toked = df.select(tokens.alias("__toks"))
        uni = (
            toked.select(F.explode("__toks").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("double").alias("c"))
        )
        bi_arr = F.expr(
            "filter(zip_with(`__toks`, slice(`__toks`, 2, "
            "greatest(size(`__toks`) - 1, 0)), "
            "(a, b) -> struct(a as w1, b as w2)), p -> p.w2 is not null)"
        )
        bi_all = (
            toked.select(F.explode(bi_arr).alias("p"))
            .select("p.w1", "p.w2")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("double").alias("count"))
        )
        bi = bi_all.filter(F.col("count") >= min_count)
        # T and B are exactly the sums of the two count aggregates — a
        # third tokenize pass over the corpus would just recompute them;
        # these re-reduce the (reused) shuffle outputs, vocabulary-sized
        totals = uni.groupBy().agg(
            F.sum("c").alias("__t")
        ).crossJoin(bi_all.groupBy().agg(F.sum("count").alias("__b")))
        c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("__c1"))
        c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("__c2"))
        scored = (
            bi.join(c1, "w1")
            .join(c2, "w2")
            .crossJoin(F.broadcast(totals))
            .withColumn(
                "pmi",
                F.floor(
                    F.log(
                        (F.col("count") / F.col("__b"))
                        / ((F.col("__c1") / F.col("__t"))
                           * (F.col("__c2") / F.col("__t")))
                    ) * 1e9 + F.lit(0.5)
                ).cast("double") / F.lit(1e9),
            )
        )
        from pyspark.sql import Window

        ranked = scored.orderBy(
            F.col("pmi").desc(), F.col("w1"), F.col("w2")
        ).limit(top)
        w = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
        return ranked.withColumn("rank", F.row_number().over(w)).select(
            "w1", "w2", "count", "pmi", "rank"
        )

    return fn


# ordered scrub rules: name -> (regex, replacement token).  Emails before
# URLs (an email's domain must not be half-matched as a URL), URLs before
# phone-ish digit runs.
SCRUB_RULES: list[tuple[str, tuple[str, str]]] = [
    ("email", (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
               "<EMAIL>")),
    ("url", (r"https?://[^\s]+", "<URL>")),
    ("ip", (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>")),
    ("phone", (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>")),
]


