"""Vector / ANN family: embedding dot-product helpers, $embedDedup,
$vectorNormalize/Quantize/Dequantize, $annTopK, $annLsh(+Search),
$annIvfSearch, $kmeans, $semanticDedup, $knnJoin.

Split out of functions/datapipe.py (r10); the import surface stays
``functions.datapipe`` — the aggregator re-exports every name.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..context import Context
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, check_kind, register_stage

from . import dp_dedup
from .dp_dedup import (_pair_dot, _spread, _unit_vector, check_annotate,
                       resolve_pairs)


def vec_dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, v: acc + v)


def vec_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                              lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(vec_dot(a, b), vec_norm(a) * vec_norm(b))


def cosine_hoisted(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with the O(n·m) norm recomputation hoisted out of a join:
    each side carries a precomputed norm column, so the per-pair work is
    one dot product instead of three array folds."""
    return F.try_divide(vec_dot(a, b), na * nb)


@register_stage("$embedDedup", "corpus")
def embed_dedup_stage(expression: Any, ctx: Context) -> StageFn:
    """Embedding-cosine near-dup removal: ``{input, id, threshold, bits}``.

    LSH bucketing by random-hyperplane sign bits (seeded md5 hyperplanes)
    limits candidate pairs to same-bucket docs; exact cosine then decides.
    The larger id of each near-dup pair is dropped.

    ``transitive: true`` resolves chained near-dups (a≈b≈c with a̸≈c)
    with connected components — exactly the min-id doc of each cluster
    survives; ``as: "<field>"`` (requires transitive) switches to
    ANNOTATE mode, labeling every row with its cluster id instead of
    dropping (compose with ``$groupCap`` for best-per-cluster keep) —
    the same contract as ``$minhashDedup``.

    Scale guard: with ``bits`` omitted the plan is an exact all-pairs
    self-join — O(n²) and unrunnable on a large corpus.  That plan is
    REFUSED when the input's optimizer size estimate exceeds
    ``ALL_PAIRS_SIZE_LIMIT`` unless ``{exact: true}`` is passed; set
    ``{bits: k}`` for the LSH path instead.
    """
    inp = expression["input"]
    id_field = expression.get("id", "vec_id")
    threshold = float(expression.get("threshold", 0.99))
    bits = expression.get("bits")
    dim = int(expression.get("dim", 16))
    force_exact = bool(expression.get("exact", False))
    transitive = bool(expression.get("transitive", False))
    as_field = expression.get("as")
    check_annotate("$embedDedup", transitive, as_field)

    def fn(df: DataFrame, c: Context) -> DataFrame:
        if bits is None and not force_exact:
            try:
                est = int(
                    df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            except Exception:
                est = 0
            if est >= (1 << 63) - 1:
                est = 0  # Long.MaxValue sentinel: no estimate (in-memory
                # relations, CBO off) — don't refuse what we can't size
            if est > dp_dedup.ALL_PAIRS_SIZE_LIMIT:
                raise ValueError(
                    "$embedDedup: exact all-pairs self-join refused for a "
                    f"corpus estimated at {est} bytes "
                    f"(> {dp_dedup.ALL_PAIRS_SIZE_LIMIT}); pass {{bits: k}} for "
                    f"the "
                    "LSH path or {exact: true} to force the O(n²) plan"
                )
        emb = compile_expr(inp, ExprContext(schema=df.schema)).cast("array<double>")
        # r13: the pair join streams over the scan — fan a single-task
        # corpus out first or the O(pairs·dim) dot work runs serial
        docs = _spread(df).select(F.col(id_field).alias("__did"),
                                  _unit_vector(emb).alias("__e"))
        # candidate generation: exact pairwise by default; {bits: k} is the
        # 100 TB path — same-bucket LSH candidates only (see $annLsh),
        # recall traded per LSH guarantees
        if bits is not None:
            docs = docs.withColumn("__bkt", lsh_bucket(F.col("__e"), int(bits), dim))
            cond = (F.col("a.__did") < F.col("b.__did")) & (
                F.col("a.__bkt") == F.col("b.__bkt")
            )
        else:
            cond = F.col("a.__did") < F.col("b.__did")
        # r13: the cosine threshold joins the CONDITION after the cheap
        # guards instead of a downstream .filter — predicate pushdown
        # merged the filter into the join with the dot product FIRST in
        # the conjunction, so the O(dim) fold ran on every raw pair
        # before the id/bucket checks (19 s of the exact-mode query's
        # 20 s at sf0.1; And conjuncts evaluate left-to-right).
        pairs = (
            docs.alias("a")
            .join(docs.alias("b"),
                  cond & (_pair_dot(F.col("a.__e"), F.col("b.__e"))
                          >= threshold))
            .select(F.col("b.__did").alias("__did"),
                    F.col("a.__did").alias("__keep"))
        )
        return resolve_pairs(df, pairs, id_field, transitive, as_field)

    return fn


@register_stage("$vectorNormalize", "per_batch")
def vector_normalize_stage(expression: Any, ctx: Context) -> StageFn:
    """Unit-normalize an embedding column: ``{input, as}``.  Zero vectors
    pass through unchanged (same convention as $embedDedup).  Map-only.
    Normalizing at rest turns every downstream cosine into a plain dot
    product — one array fold per pair instead of three."""
    inp = expression["input"]
    as_field = expression.get("as", "embedding")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        emb = compile_expr(inp, ExprContext(schema=df.schema)).cast("array<double>")
        norm = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda a, x: a + x * x))
        unit = F.when(norm > 0, F.transform(emb, lambda x: x / norm)).otherwise(emb)
        return df.withColumn(as_field, unit)

    return fn


@register_stage("$vectorQuantize", "per_batch")
def vector_quantize_stage(expression: Any, ctx: Context) -> StageFn:
    """Symmetric per-vector int quantization for embedding storage:
    ``{input, as, bits=8}`` -> struct ``{scale: double, q: array<int>}``
    with ``x ~ q * scale``, ``|q| <= 2^(bits-1)-1``.

    The 100 TB storage lever: float64 embeddings shrink 8x at int8 with
    ~1e-2 relative error — the standard trade for retrieval corpora.
    Rounding is floor(x+0.5) (engine-portable HALF_UP) so results are
    bit-reproducible against the DuckDB oracle.  Map-only."""
    inp = expression["input"]
    as_field = expression.get("as", "qvec")
    bits = int(expression.get("bits", 8))
    qmax = (1 << (bits - 1)) - 1

    def fn(df: DataFrame, c: Context) -> DataFrame:
        emb = compile_expr(inp, ExprContext(schema=df.schema)).cast("array<double>")
        amax = F.aggregate(
            emb, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
        )
        scale = amax / F.lit(float(qmax))
        q = F.when(
            scale > 0,
            F.transform(emb, lambda x: F.floor(x / scale + 0.5).cast("int")),
        ).otherwise(F.transform(emb, lambda x: F.lit(0)))
        return df.withColumn(
            as_field, F.struct(scale.alias("scale"), q.alias("q"))
        )

    return fn


@register_stage("$vectorDequantize", "per_batch")
def vector_dequantize_stage(expression: Any, ctx: Context) -> StageFn:
    """Inverse of $vectorQuantize: ``{input, as}`` — the ``{scale, q}``
    struct back to ``array<double>``.  Map-only."""
    inp = expression["input"]
    as_field = expression.get("as", "embedding")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        qv = compile_expr(inp, ExprContext(schema=df.schema))
        out = F.transform(qv["q"], lambda x: x.cast("double") * qv["scale"])
        return df.withColumn(as_field, out)

    return fn


@register_stage("$annTopK", "batch")
def ann_topk_stage(expression: Any, ctx: Context) -> StageFn:
    """Brute-force cosine top-k: ``{queries: <collection>, input, id, k, as}``.

    The query set is broadcast; the corpus is scanned once with a row-local
    cosine and a per-query top-k (window) — the baseline every ANN variant
    is measured against.  100 TB path: $annLsh prunes the scan to matching
    hyperplane buckets first.
    """
    queries_coll = expression["queries"]
    inp = expression["input"]
    id_field = expression.get("id", "vec_id")
    k = int(expression.get("k", 10))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        q = c.collection(queries_coll)
        # heavy: one O(d) dot product per (corpus row x query) pair —
        # fan a narrow corpus out before the broadcast cross (r12: the
        # single-row-group sf0.1 corpus ran ~20k dim-d dots in ONE task)
        df = _spread(df)
        # the whole stage is ONE templated spark.sql text (broadcast
        # queries side, per-query row_number window — pinned by
        # tests/test_plan_invariants.py)
        df, ref, idq = dp_dedup.sql_input(df, inp, "__an_in", id_field)
        normf = "sqrt(aggregate({0}, 0.0D, (acc, x) -> acc + x * x))"
        qc = "cast(embedding as array<double>)"
        sql = f"""
WITH __an_c0 AS (
  SELECT {idq} AS corpus_id, cast({ref} as array<double>) AS __ce
  FROM {{corpus}}
),
__an_c AS (
  SELECT corpus_id, __ce, {normf.format('__ce')} AS __cn FROM __an_c0
),
__an_q AS (
  SELECT query_id, {qc} AS __qe, {normf.format(qc)} AS __qn
  FROM {{queries}}
),
__an_s AS (
  SELECT /*+ BROADCAST(__an_q) */ query_id, corpus_id,
         try_divide(aggregate(zip_with(__ce, __qe, (x, y) -> x * y), 0.0D,
                    (acc, v) -> acc + v), __cn * __qn) AS score
  FROM __an_c CROSS JOIN __an_q
)
SELECT * FROM (
  SELECT query_id, corpus_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, corpus_id) AS rank
  FROM __an_s
) WHERE rank <= {k}"""
        return df.sparkSession.sql(sql, corpus=df, queries=q)

    return fn


def _plane_component(j: int, d: int) -> float:
    """Hyperplane component h[j][d] in [-1,1): the same md5 derivation as
    md5_long, computed driver-side in Python — 512 Spark md5-of-literal
    expressions cost seconds of constant folding per plan, a float literal
    costs nothing."""
    import hashlib

    h = int(hashlib.md5(f"{j}:p{j}d{d}".encode()).hexdigest()[:15], 16)
    return (h % 2000 - 1000) / 1000.0


def lsh_bucket(emb: Column, bits: int, dim: int) -> Column:
    """Sign-bit bucket for a seeded set of md5-derived hyperplanes —
    deterministic, pure column algebra."""
    planes = [
        F.array(*[F.lit(_plane_component(j, d)) for d in range(dim)])
        for j in range(bits)
    ]
    bit_cols = []
    for plane in planes:
        dot = F.aggregate(F.zip_with(emb, plane, lambda x, y: x * y), F.lit(0.0),
                          lambda acc, v: acc + v)
        bit_cols.append(F.when(dot >= 0, F.lit(1).cast("long")).otherwise(F.lit(0)))
    value = bit_cols[0]
    for j in range(1, bits):
        value = value + F.shiftleft(bit_cols[j], j)
    return value


@register_stage("$annLsh", "per_batch")
def ann_lsh_stage(expression: Any, ctx: Context) -> StageFn:
    """LSH-bucketed ANN: adds a sign-bit bucket column for a seeded set of
    md5-derived hyperplanes: ``{input, as, bits, dim}``.  Candidate search
    joins on equal buckets (optionally multi-probe), pruning the corpus
    scan; exactness is traded per standard LSH guarantees."""
    inp = expression["input"]
    as_field = expression.get("as", "bucket")
    bits = int(expression.get("bits", 8))
    dim = int(expression.get("dim", 16))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        emb = compile_expr(inp, ExprContext(schema=df.schema)).cast("array<double>")
        return df.withColumn(as_field, lsh_bucket(emb, bits, dim))

    return fn


@register_stage("$annLshSearch", "batch")
def ann_lsh_search_stage(expression: Any, ctx: Context) -> StageFn:
    """The 100 TB ANN path: ``{queries, input, id, k, bits, dim, probes}``.

    Corpus rows are bucketed once (column algebra, no shuffle); the
    broadcast query side explodes to ``probes`` buckets (its own bucket +
    1-bit flips, standard multi-probe LSH), the equi-join on bucket prunes
    the corpus to candidates (~probes/2^bits of the scan), and cosine +
    per-query top-k runs on the survivors only.  Same output schema as
    $annTopK (query_id, corpus_id, score, rank); recall traded per LSH
    guarantees — pytest pins recall vs the brute-force baseline.
    """
    queries_coll = expression["queries"]
    inp = expression["input"]
    id_field = expression.get("id", "vec_id")
    k = int(expression.get("k", 10))
    bits = int(expression.get("bits", 8))
    dim = int(expression.get("dim", 16))
    probes = int(expression.get("probes", 1 + 8))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        emb = compile_expr(inp, ExprContext(schema=df.schema)).cast("array<double>")
        corpus = df.select(
            F.col(id_field).alias("corpus_id"),
            emb.alias("__ce"),
        ).withColumn("__bucket", lsh_bucket(F.col("__ce"), bits, dim)).withColumn(
            "__cn", vec_norm(F.col("__ce"))
        )
        q = c.collection(queries_coll)
        qe = F.col("embedding").cast("array<double>")
        queries = q.select(F.col("query_id"), qe.alias("__qe")).withColumn(
            "__qbucket", lsh_bucket(F.col("__qe"), bits, dim)
        ).withColumn("__qn", vec_norm(F.col("__qe")))
        # multi-probe: own bucket + single-bit flips, capped at `probes`
        probe_buckets = F.slice(
            F.concat(
                F.array(F.col("__qbucket")),
                F.array(*[
                    F.col("__qbucket").bitwiseXOR(F.lit(1 << b))
                    for b in range(bits)
                ]),
            ),
            1,
            probes,
        )
        probed = queries.select(
            "query_id", "__qe", "__qn", F.explode(probe_buckets).alias("__bucket")
        )
        candidates = corpus.join(F.broadcast(probed), "__bucket")
        scored = candidates.select(
            "query_id", "corpus_id",
            cosine_hoisted(F.col("__ce"), F.col("__qe"),
                           F.col("__cn"), F.col("__qn")).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("corpus_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    return fn


@register_stage("$annIvfSearch", "batch")
def ann_ivf_search_stage(expression: Any, ctx: Context) -> StageFn:
    """IVF-flat ANN: ``{queries, input, id, k, nlist, nprobe}``.

    The data-dependent complement to $annLshSearch's data-independent
    hyperplanes.  Coarse quantizer = ``nlist`` corpus vectors sampled
    deterministically (smallest ``md5('ivf:' || id)`` — a random sample
    under a fixed seed, and md5 is bit-identical in DuckDB so even the
    *approximate* configuration has a full SQL oracle, not just the
    nprobe == nlist exact mode); centroids are tiny metadata, collected once and inlined
    as plan literals, so **cell assignment is pure column algebra with
    zero shuffle** — each corpus row scores against the literal centroid
    array and takes the argmax.  Queries probe their ``nprobe`` nearest
    cells; the equi-join on cell prunes the scan to ~nprobe/nlist of the
    corpus; exact cosine + per-query top-k runs on survivors.  With
    nprobe == nlist this degrades to exact brute force (tested).  A
    production deployment would Lloyd-refine the sample and persist the
    centroid set with the table; the search plan is unchanged.
    """
    queries_coll = expression["queries"]
    inp = expression["input"]
    id_field = expression.get("id", "vec_id")
    k = int(expression.get("k", 10))
    nlist = int(expression.get("nlist", 16))
    nprobe = int(expression.get("nprobe", 4))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        emb = compile_expr(inp, ExprContext(schema=df.schema)).cast("array<double>")
        corpus = df.select(
            F.col(id_field).alias("corpus_id"), emb.alias("__ce")
        ).withColumn("__cn", vec_norm(F.col("__ce")))
        # coarse quantizer: nlist sampled vectors, unit-normalized driver
        # side (nlist × dim floats — dimension-table-sized metadata)
        sample = (
            corpus.select("corpus_id", "__ce")
            .orderBy(
                F.md5(F.concat(F.lit("ivf:"), F.col("corpus_id").cast("string"))),
                "corpus_id",
            )
            .limit(nlist)
            .collect()
        )
        import math

        def unit(v: list) -> list:
            n = math.sqrt(sum(x * x for x in v))
            return [x / n for x in v] if n > 0 else list(v)

        if not sample:
            # empty corpus: no centroids to inline — return the (empty)
            # result with the standard output schema; corpus_id must take
            # the CORPUS id column's type (the queries table's id type may
            # differ, which would break downstream unions)
            q0 = c.collection(queries_coll)
            cid_type = corpus.schema["corpus_id"].dataType
            return (
                q0.select(F.col("query_id"))
                .withColumn("corpus_id", F.lit(None).cast(cid_type))
                .withColumn("score", F.lit(0.0))
                .withColumn("rank", F.lit(1))
                .limit(0)
            )
        cents = F.array(*[
            F.array(*[F.lit(float(x)) for x in unit(r["__ce"])]) for r in sample
        ])

        def cell_scores(vec: Column) -> Column:
            return F.transform(cents, lambda cv: vec_dot(cv, vec))

        def best_cell(vec: Column) -> Column:
            s = cell_scores(vec)
            return (F.array_position(s, F.array_max(s)) - 1).cast("int")

        corpus = corpus.withColumn("__cell", best_cell(F.col("__ce")))
        q = c.collection(queries_coll)
        qe = F.col("embedding").cast("array<double>")
        queries = (
            q.select(F.col("query_id"), qe.alias("__qe"))
            .withColumn("__qn", vec_norm(F.col("__qe")))
        )
        # top-nprobe cells per query: sort (−score, cell) structs, slice
        idx = F.sequence(F.lit(0), F.lit(nlist - 1))
        ranked = F.array_sort(F.zip_with(
            cell_scores(F.col("__qe")), idx,
            lambda s, i: F.struct((-s).alias("d"), i.cast("int").alias("cid")),
        ))
        probe_cells = F.transform(F.slice(ranked, 1, nprobe), lambda x: x["cid"])
        probed = queries.select(
            "query_id", "__qe", "__qn", F.explode(probe_cells).alias("__cell")
        )
        candidates = corpus.join(F.broadcast(probed), "__cell")
        scored = candidates.select(
            "query_id", "corpus_id",
            cosine_hoisted(F.col("__ce"), F.col("__qe"),
                           F.col("__cn"), F.col("__qn")).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("corpus_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    return fn


def _round9(x: float) -> float:
    """Half-up 9-digit rounding (same fold as the oracle's
    floor(x*1e9+0.5)/1e9): quantizes away float-summation-order ULP noise
    so centroids are bit-identical run-to-run and engine-to-engine."""
    import math

    return math.floor(x * 1e9 + 0.5) / 1e9


def _round9_col(col: Column) -> Column:
    """Column twin of :func:`_round9` — the identical fold on both sides
    keeps engine-vs-oracle float comparisons exact."""
    return F.floor(col * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)


def _km_dist2(vec: Column, centroid: list) -> Column:
    """Squared Euclidean distance of an array column to a literal
    centroid — pure codegen fold, zero shuffle."""
    ca = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, ca, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def _km_assign(vec: Column, cents: list[list]) -> Column:
    """Argmin-Euclidean cell assignment against k×dim centroid literals
    (first index wins ties) — row-local column algebra."""
    ds = F.array(*[_km_dist2(vec, ct) for ct in cents])
    return (F.array_position(ds, F.array_min(ds)) - 1).cast("int")


def _lloyd_centroids(
    pts: DataFrame, id_field: str, k: int, iterations: int
) -> list[list[float]]:
    """Deterministic Lloyd iteration shared by ``$kmeans`` and
    ``$semanticDedup`` — ``pts`` must carry the embedding in ``__km_e``.
    Init = the k rows with the smallest ``md5('kmeans:' || id)``; each
    round assigns by argmin Euclidean then updates via posexplode →
    ``groupBy(cell, dim).sum`` (partial aggregation bounds the shuffle at
    tasks×k×dim rows) and a k×dim driver collect (metadata-sized).  Means
    round half-up to 9 digits so parallel-summation ULP noise cannot make
    runs or engines disagree; an empty cell keeps its previous centroid.
    Returns [] on an empty input."""
    sample = (
        pts.select(F.col(id_field).alias("__kid"), "__km_e")
        .orderBy(
            F.md5(F.concat(F.lit("kmeans:"), F.col("__kid").cast("string"))),
            "__kid",
        )
        .limit(k)
        .collect()
    )
    if not sample:
        return []
    cents = [list(r["__km_e"]) for r in sample]
    for _ in range(iterations):
        assigned = pts.withColumn("__cell", _km_assign(F.col("__km_e"), cents))
        stats = (
            assigned.select(
                "__cell", F.posexplode("__km_e").alias("__d", "__v")
            )
            .groupBy("__cell", "__d")
            .agg(F.sum("__v").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        sums: dict[int, dict[int, tuple[float, int]]] = {}
        for r in stats:
            sums.setdefault(r["__cell"], {})[r["__d"]] = (r["__s"], r["__n"])
        new_cents = []
        for ci, old in enumerate(cents):
            comp = sums.get(ci)
            if not comp:
                new_cents.append(old)  # empty cell keeps its centroid
                continue
            new_cents.append([
                _round9(comp[d][0] / comp[d][1]) for d in range(len(old))
            ])
        cents = new_cents
    return cents


@register_stage("$kmeans", "batch")
def kmeans_stage(expression: Any, ctx: Context) -> StageFn:
    """Lloyd k-means over an embedding column: ``{input, id, k,
    iterations, as, distanceAs?}`` — labels every row with its final
    cluster (0..k-1).

    This is the production "Lloyd-refine the IVF sample" step
    ($annIvfSearch docstring) as a first-class operator, and it is fully
    deterministic so the *whole iteration* is DuckDB-oracle-able:

    - init = the ``k`` rows with the smallest ``md5('kmeans:' || id)``
      (the same seeded-sample trick as the IVF quantizer);
    - each Lloyd round: cell assignment is pure column algebra against
      the k×dim centroid literals (zero shuffle — argmin Euclidean);
      the update is ``posexplode`` → ``groupBy(cell, dim).sum`` — partial
      aggregation shrinks the shuffle to tasks×k×dim rows regardless of
      input size — then k×dim sums collect to the driver (dimension-table
      metadata, same size class as the IVF centroid inline);
    - new centroids round to 9 digits (half-up), so parallel-summation
      ULP noise cannot make runs or engines disagree;
    - a cell that loses all members keeps its previous centroid;
    - ``iterations`` is a fixed count (no data-dependent convergence
      test), which keeps the computation reproducible and the oracle SQL
      finite.

    Scale: per round, one partial-aggregated shuffle over (cell, dim) and
    one k×dim collect.  k is quantizer-sized (≤ a few thousand); this is
    not a general clustering service for millions of centroids.
    """
    inp = expression["input"]
    id_field = expression.get("id", "_id")
    k = int(expression.get("k", 8))
    iterations = int(expression.get("iterations", 2))
    as_field = expression.get("as", "cluster")
    dist_as = expression.get("distanceAs")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        emb = compile_expr(inp, ExprContext(schema=df.schema)).cast("array<double>")
        pts = df.withColumn("__km_e", emb)
        cents = _lloyd_centroids(pts, id_field, k, iterations)
        if not cents:
            return df.withColumn(as_field, F.lit(None).cast("int"))
        out = pts.withColumn(as_field, _km_assign(F.col("__km_e"), cents))
        if dist_as:
            ds = F.array(*[_km_dist2(F.col("__km_e"), ct) for ct in cents])
            out = out.withColumn(dist_as, F.sqrt(F.array_min(ds)))
        return out.drop("__km_e")

    return fn


@register_stage("$semanticDedup", "corpus")
def semantic_dedup_stage(expression: Any, ctx: Context) -> StageFn:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): ``{input, id, k, iterations?, threshold?, keep?,
    transitive?, as?}``.

    Candidate pairs are bounded to SAME-CLUSTER documents — a
    deterministic Lloyd k-means (shared with ``$kmeans``: md5-seeded
    init, fixed ``iterations``, 9-digit-rounded means) partitions the
    corpus into ``k`` cells, and the pair join is a plain equi-join on
    the cell id.  That is the whole scale story of the paper: expected
    O(n²/k) candidate work instead of O(n²), with no broadcast and no
    cartesian product; ``k`` grows with the corpus.  Within a cell,
    pairs with unit-vector cosine ≥ ``threshold`` (default 0.95) are
    semantic duplicates:

    - ``keep: "far"`` (default — the paper's policy): the pair member
      FARTHER from its cluster centroid survives, the closer (more
      redundant) one drops; distance ties drop the larger id.  Distances
      round half-up to 9 digits so engine/run float noise cannot flip a
      comparison.
    - ``keep: "minId"``: the larger id of each pair drops (the
      ``$embedDedup`` rule, cluster-bounded).
    - ``transitive: true`` resolves duplicate chains with connected
      components (min-id doc per component survives); ``as: "<field>"``
      switches to annotate mode, labeling rows with their component id —
      the same contract as ``$minhashDedup`` / ``$embedDedup``.
      ``keep: "far"`` is pairwise and cannot combine with transitive.

    Clustering operates on the raw embedding (as ``$kmeans`` does);
    compose with ``$vectorNormalize`` first for the paper's exact
    normalized-embedding setup.  Skew note: one giant cluster degrades
    toward all-pairs within that cell — size ``k`` so the expected cell
    population keeps cell²·dim work tractable (SCALE.md §3).
    """
    inp = expression["input"]
    id_field = expression.get("id", "vec_id")
    k = int(expression.get("k", 8))
    iterations = int(expression.get("iterations", 1))
    threshold = float(expression.get("threshold", 0.95))
    keep = expression.get("keep")
    transitive = bool(expression.get("transitive", False))
    as_field = expression.get("as")
    if keep not in (None, "far", "minId"):
        raise ValueError("$semanticDedup keep must be 'far' or 'minId'")
    if transitive and keep == "far":
        raise ValueError(
            "$semanticDedup keep: 'far' is pairwise — transitive chains "
            "resolve by component min-id; drop keep or use keep: 'minId'")
    check_annotate("$semanticDedup", transitive, as_field)
    if keep is None:
        keep = "minId" if transitive else "far"

    def fn(df: DataFrame, c: Context) -> DataFrame:
        emb = compile_expr(inp, ExprContext(schema=df.schema)).cast("array<double>")
        # r13: same single-scan-task hazard as $embedDedup — the cell
        # pair join and the per-row dist2/assignment algebra fan out
        pts = _spread(df).withColumn("__km_e", emb)
        cents = _lloyd_centroids(pts, id_field, k, iterations)
        if not cents:
            return df
        # one pass over the corpus: cell assignment + unit normalization
        # are row-local column algebra; the min over the dist2 array IS
        # the distance to the assigned (argmin) centroid
        ds = F.array(*[_km_dist2(F.col("__km_e"), ct) for ct in cents])
        docs = pts.select(
            F.col(id_field).alias("__did"),
            _unit_vector(F.col("__km_e")).alias("__e"),
            _km_assign(F.col("__km_e"), cents).alias("__cell"),
            _round9_col(F.array_min(ds)).alias("__cd"),
        )
        # the cosine rounds half-up at 9 digits BEFORE the threshold
        # comparison (like the distances): the oracle computes it with a
        # different float operation order, and an unrounded >= would let
        # a 1-ULP disagreement flip a pair at the threshold edge
        # r13: the cosine predicate joins the CONDITION after the cheap
        # cell/id guards instead of a downstream .filter (predicate
        # merge put the O(dim) dot FIRST in the conjunction and ran it
        # on every same-cell pair before the id check — the $embedDedup
        # lesson; And conjuncts evaluate left-to-right)
        pairs = (
            docs.alias("a")
            .join(docs.alias("b"),
                  (F.col("a.__cell") == F.col("b.__cell"))
                  & (F.col("a.__did") < F.col("b.__did"))
                  & (_round9_col(_pair_dot(F.col("a.__e"), F.col("b.__e")))
                     >= F.lit(threshold)))
            .select(F.col("b.__did").alias("__did"),
                    F.col("a.__did").alias("__keep"),
                    F.col("a.__cd").alias("__cdk"),
                    F.col("b.__cd").alias("__cdd"))
        )
        if keep == "far":
            # the member CLOSER to its centroid is the redundant one
            pairs = pairs.select(
                F.when(F.col("__cdk") < F.col("__cdd"), F.col("__keep"))
                .when(F.col("__cdd") < F.col("__cdk"), F.col("__did"))
                .otherwise(F.greatest("__keep", "__did"))
                .alias("__did"))
        return resolve_pairs(df, pairs, id_field, transitive, as_field)

    return fn


@register_stage("$knnJoin", "per_batch")
def knn_join_stage(expression: Any, ctx: Context) -> StageFn:
    """k-NN JOIN: ``{from?, input, id, foreignInput?, foreignId?, k, bits,
    dim, probes, excludeSelf?}`` — every LEFT document finds its ``k``
    nearest neighbors in a corpus (``from`` collection, or the input
    itself when absent = self-join).

    This is the corpus-to-corpus scale primitive the search stages don't
    cover: $annTopK/$annLshSearch/$annIvfSearch all broadcast a *small*
    query set, but embedding clustering / near-dup graph construction
    needs a left side as large as the corpus.  Physical strategy: both
    sides compute the LSH sign-bucket row-locally (same md5-derived
    hyperplanes as $annLsh — deterministic, oracle-able); the left side
    explodes to its ``probes`` multi-probe buckets (own bucket + 1-bit
    flips); the join is a plain equi-join on bucket — both sides
    hash-partition, **nothing broadcasts, no all-pairs product**; exact
    cosine + per-left top-k runs on the bucket-bounded survivors.

    A right-side vector occupies exactly one bucket and probe buckets are
    distinct, so a (left, right) pair is generated at most once — no
    dedup shuffle is needed before the top-k window.

    Scale notes: the bucket join fans out to 2^bits keys — size ``bits``
    so 2^bits ≫ shuffle partitions or hot buckets serialize (at corpus
    scale use 16-24 bits; AQE skew-split absorbs residual imbalance).
    ``bits: 0`` puts everything in one bucket = exact brute force —
    quadratic, only for tests/oracles and small corpora.
    """
    from_coll = expression.get("from")
    if from_coll is None:  # a self-join pairs rows across the input
        check_kind("$knnJoin", "batch", ctx)
    inp = expression["input"]
    id_field = expression.get("id", "_id")
    fin = expression.get("foreignInput", inp)
    fid = expression.get("foreignId", id_field)
    k = int(expression.get("k", 10))
    bits = int(expression.get("bits", 8))
    dim = int(expression.get("dim", 16))
    probes = int(expression.get("probes", 1))
    exclude_self = bool(expression.get("excludeSelf", from_coll is None))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        left_emb = compile_expr(inp, ExprContext(schema=df.schema)).cast(
            "array<double>"
        )
        left = df.select(
            F.col(id_field).alias("left_id"), left_emb.alias("__le")
        ).withColumn("__ln", vec_norm(F.col("__le")))
        right_df = c.collection(from_coll) if from_coll else df
        right_emb = compile_expr(fin, ExprContext(schema=right_df.schema)).cast(
            "array<double>"
        )
        right = right_df.select(
            F.col(fid).alias("right_id"), right_emb.alias("__re")
        ).withColumn("__rn", vec_norm(F.col("__re")))
        if bits > 0:
            right = right.withColumn(
                "__bucket", lsh_bucket(F.col("__re"), bits, dim)
            )
            lb = left.withColumn("__lb", lsh_bucket(F.col("__le"), bits, dim))
            probe_buckets = F.slice(
                F.concat(
                    F.array(F.col("__lb")),
                    F.array(*[
                        F.col("__lb").bitwiseXOR(F.lit(1 << b))
                        for b in range(bits)
                    ]),
                ),
                1,
                min(probes, bits + 1),
            )
            left = lb.withColumn("__bucket", F.explode(probe_buckets)).drop("__lb")
        else:
            right = right.withColumn("__bucket", F.lit(0))
            left = left.withColumn("__bucket", F.lit(0))
        cand = left.join(right, "__bucket")
        if exclude_self:
            cand = cand.filter(~F.col("left_id").eqNullSafe(F.col("right_id")))
        scored = cand.select(
            "left_id", "right_id",
            cosine_hoisted(F.col("__le"), F.col("__re"),
                           F.col("__ln"), F.col("__rn")).alias("score"),
        )
        w = Window.partitionBy("left_id").orderBy(
            F.col("score").desc(), F.col("right_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    return fn


# ------------------------------------------------------------ text analysis

