"""``$connectedComponents`` — distributed connected components over an
edge collection; the transitive-clustering backbone for near-dup dedup.

Beyond-reference training-data operator (SURVEY.md §7 step 8; no
counterpart in /root/reference — the reference has no graph stage).  At
100 TB, near-duplicate document clusters are *transitive* (A~B and B~C
put {A,B,C} in one cluster even when A and C never share a bucket), so
keeping one representative per cluster requires connected components over
the candidate-pair graph — per-bucket pruning alone can leave several
survivors in one transitive cluster.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", ACM SoCC 2014).  It
converges in O(log n) rounds regardless of graph diameter, where plain
min-label propagation needs O(diameter) rounds — a chain-shaped candidate
graph at corpus scale would never finish under label propagation.  Scale
properties of each round:

- two ``groupBy(node).min`` shuffles + one edge join — the per-node
  neighborhood is **never** materialized (no ``collect_set``), so the hot
  node of a large component (its minimum, which every member eventually
  points at) is handled by partial aggregation, not a single giant task;
- the edge set shrinks monotonically toward a star forest;
- lineage is truncated every round with ``context.pin`` so the
  iterative plan does not grow unboundedly (``localCheckpoint``, or a
  durable ``checkpoint`` once ``spark.sparkContext.setCheckpointDir``
  is set on a real cluster).

The driver loop only compares edge-set fingerprints for convergence; the
data never collects to the driver.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..context import Context, pin
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, register_stage


def _large_star(directed: DataFrame) -> DataFrame:
    """One large-star round: for every node u with m = min(N(u) ∪ {u}),
    connect each strictly larger neighbor v > u to m.  Input/output are
    edge DataFrames with columns (a, b); input may be any orientation."""
    sym = directed.union(
        directed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = (
        sym.groupBy("a")
        .agg(F.min("b").alias("__mn"))
        .select("a", F.least("a", "__mn").alias("__m"))
    )
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("__m").alias("b"))
        .distinct()
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """One small-star round over larger→smaller directed edges: for every
    node u, point all smaller neighbors (and u itself) at
    m = min(N⁻(u) ∪ {u})."""
    d = directed.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b")).distinct()
    mins = d.groupBy("a").agg(F.min("b").alias("__m"))
    pairs = (
        d.join(mins, "a")
        .filter(F.col("b") != F.col("__m"))
        .select(F.col("b").alias("a"), F.col("__m").alias("b"))
    )
    selfs = mins.select("a", F.col("__m").alias("b"))
    return pairs.union(selfs).distinct()


def connected_components(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """(a, b) edge DataFrame → (``__cc_node``, ``__cc_comp``) labels, where
    the component id is the minimum node id of the component.  Nodes that
    appear in no edge are absent (callers coalesce to the node's own id).
    Node ids may be any orderable type (numeric, string)."""
    cur = pin(
        edges.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(), eager=True
    )
    cur_count = cur.count()
    if cur_count == 0:
        return cur.select(F.col("a").alias("__cc_node"), F.col("b").alias("__cc_comp"))
    for _ in range(max_iterations):
        nxt = pin(_small_star(_large_star(cur)), eager=True)
        nxt_count = nxt.count()
        if nxt_count == cur_count and nxt.exceptAll(cur).isEmpty():
            break
        cur, cur_count = nxt, nxt_count
    else:
        raise RuntimeError(
            f"$connectedComponents did not converge in {max_iterations} rounds"
        )
    # fixpoint is a star forest: every non-root points at its component
    # minimum; the min() is a safety net, not a correctness requirement
    return cur.groupBy(F.col("a").alias("__cc_node")).agg(
        F.min("b").alias("__cc_comp")
    )


@register_stage("$connectedComponents", "batch")
def connected_components_stage(expression: Any, ctx: Context) -> StageFn:
    """``{edges, src, dst, on, as, maxIterations}`` — label every input
    document with the connected-component id (the minimum node id of its
    component) of its ``on`` value in the graph stored in collection
    ``edges``.  Documents whose node appears in no edge form singleton
    components (their own id)."""
    edges_coll = expression["edges"]
    src = expression.get("src", "src")
    dst = expression.get("dst", "dst")
    on = expression.get("on", "_id")
    as_field = expression.get("as", "component")
    max_iter = int(expression.get("maxIterations", 50))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        e = c.collection(edges_coll)
        sctx = ExprContext(schema=e.schema)
        edge_df = e.select(
            compile_expr(f"${src}", sctx).alias("a"),
            compile_expr(f"${dst}", sctx).alias("b"),
        )
        labels = connected_components(edge_df, max_iter)
        node = compile_expr(f"${on}", ExprContext(schema=df.schema))
        # plain equality, not eqNullSafe: connected_components() filters
        # null endpoints out of the edge set, so label keys are never
        # null — and a null-safe join's composite coalesce/isnull key
        # would forfeit the long-key HashedRelation fast path.  A null
        # document node falls through to its own (null) singleton id.
        joined = df.join(labels, node == F.col("__cc_node"), "left")
        return joined.withColumn(
            as_field, F.coalesce(F.col("__cc_comp"), node)
        ).drop("__cc_node", "__cc_comp")

    return fn


def page_rank(edges: DataFrame, damping: float, iterations: int) -> DataFrame:
    """Directed (a, b) edge DataFrame -> (``__pr_node``, ``__pr_rank``)
    after exactly ``iterations`` power-iteration rounds of the classic
    simplified PageRank recurrence

        r'(v) = (1 - d)/n + d * Σ_{u→v} r(u)/outdeg(u)

    (dangling mass is dropped, the standard example formulation — ranks
    need not sum to 1; documented).  Fixed iteration count, no
    convergence test: the computation is a deterministic function of the
    edge set, so an oracle can unroll the same rounds.  Per round: one
    edge⋈rank hash join + one groupBy(dst) sum — both shuffles on the
    node key, partial aggregation absorbs hub skew; lineage is truncated
    per round (same durable/local checkpoint policy as
    $connectedComponents)."""
    e = pin(
        edges.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .distinct(), eager=True
    )
    nodes = pin(
        e.select(F.col("a").alias("__n"))
        .union(e.select(F.col("b").alias("__n")))
        .distinct(), eager=True
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(F.col("__n").alias("__pr_node"),
                            F.lit(None).cast("double").alias("__pr_rank"))
    # r14: outdeg is loop-invariant — pin it once instead of paying its
    # groupBy shuffle inside every round's join tree
    outdeg = pin(e.groupBy(F.col("a").alias("__n")).agg(
        F.count(F.lit(1)).cast("double").alias("__deg")
    ), eager=True)
    ranks = nodes.withColumn("__r", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    # r14 (guide §5): the eager per-round checkpoint was a full job
    # barrier per iteration — 20 driver round-trips whose floors, not
    # the tiny shuffles, dominated the build (measured 4.2 s at sf0.1).
    # Pin every PIN_EVERY rounds instead: the rounds between pins plan
    # as ONE job (their shuffle stages schedule back-to-back without a
    # driver barrier), lineage stays bounded at PIN_EVERY rounds, and
    # the per-round arithmetic (join + per-node sum) is untouched, so
    # the ranks are identical.  The final round always pins: the result
    # feeds two consumers (count + label join) downstream.
    PIN_EVERY = 5
    for i in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("__n", "a"), "a")
            .join(outdeg.withColumnRenamed("__n", "a"), "a")
            .select(F.col("b").alias("__n"),
                    (F.col("__r") / F.col("__deg")).alias("__c"))
            .groupBy("__n")
            .agg(F.sum("__c").alias("__cs"))
        )
        ranks = nodes.join(contrib, "__n", "left").select(
            "__n",
            (F.lit(base)
             + F.lit(damping) * F.coalesce(F.col("__cs"), F.lit(0.0))
             ).alias("__r"),
        )
        if (i + 1) % PIN_EVERY == 0 or i == iterations - 1:
            ranks = pin(ranks, eager=True)
    return ranks.select(F.col("__n").alias("__pr_node"),
                        F.col("__r").alias("__pr_rank"))


@register_stage("$pageRank", "batch")
def page_rank_stage(expression: Any, ctx: Context) -> StageFn:
    """``{edges, src, dst, on, as, damping?, iterations?}`` — label every
    input document with the PageRank of its ``on`` value in the directed
    graph stored in collection ``edges`` (distinct edges, self-loops
    dropped).  Documents whose node appears in no edge get the isolated
    rank ``(1-d)/n`` over the EDGE-graph node count (they receive no
    links and, having no out-edges, contribute nothing under the
    dropped-dangling formulation)."""
    edges_coll = expression["edges"]
    src = expression.get("src", "src")
    dst = expression.get("dst", "dst")
    on = expression.get("on", "_id")
    as_field = expression.get("as", "rank")
    damping = float(expression.get("damping", 0.85))
    iterations = int(expression.get("iterations", 20))
    if not 0.0 <= damping <= 1.0:
        raise ValueError("$pageRank damping must be in [0, 1]")
    if iterations < 1:
        raise ValueError("$pageRank needs at least one iteration")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        e = c.collection(edges_coll)
        sctx = ExprContext(schema=e.schema)
        edge_df = e.select(
            compile_expr(f"${src}", sctx).alias("a"),
            compile_expr(f"${dst}", sctx).alias("b"),
        )
        ranks = page_rank(edge_df, damping, iterations)
        n_nodes = ranks.count()
        node = compile_expr(f"${on}", ExprContext(schema=df.schema))
        # plain equality, not eqNullSafe: page_rank() filters null nodes
        # out of the edge graph, so there is never a null rank key to
        # match — and the composite coalesce/isnull key of a null-safe
        # join would forfeit the long-key HashedRelation fast path.  A
        # null document node falls through to the isolated rank.
        joined = df.join(ranks, node == F.col("__pr_node"), "left")
        isolated = ((1.0 - damping) / n_nodes) if n_nodes else None
        return joined.withColumn(
            as_field, F.coalesce(F.col("__pr_rank"), F.lit(isolated))
        ).drop("__pr_node", "__pr_rank")

    return fn
