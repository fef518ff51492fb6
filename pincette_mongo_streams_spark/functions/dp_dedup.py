"""Deduplication family: $dedupExact, $minhash(+Dedup), $crossDedup,
$jaccardJoin, $editDistanceJoin, $simhash(+Dedup), $ngramJaccardDedup
plus the shared hashing / shingling / connected-components helpers.

Split out of functions/datapipe.py (r10); the import surface stays
``functions.datapipe`` — the aggregator re-exports every name.
"""

from __future__ import annotations

import re as _re

from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..context import Context, pin
from ..expressions import ExprContext, compile_expr
from ..pipeline import StageFn, check_kind, register_stage


def md5_long(col: Column, seed: int) -> Column:
    """Deterministic 60-bit hash reproducible in DuckDB:
    ``conv(substr(md5(concat(seed,':',x)),1,15),16,10)``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


_RG_CACHE: dict = {}


def _pq_meta(uri: str, need_rg: bool = True) -> tuple:
    """``(num_row_groups, size_bytes)`` for one input-file URI.  Local
    paths (``file://`` or bare) stat + open through ``os``; any other
    scheme (``s3://``, ``hdfs://``, ``gs://``, ``abfs://`` …) resolves
    through ``pyarrow.fs.FileSystem.from_uri`` so the row-group bound
    and the light-spread size gate also apply to object-store inputs
    (ADVICE r12 — the old ``os.stat`` path threw on non-local URIs and
    the gates silently never fired off ``file://``).  Raises when the
    scheme is unsupported by the pyarrow build or metadata is
    unreadable — callers treat that as "no bound".  The footer is only
    read when ``need_rg`` and the file is parquet (else row groups come
    back None); footer reads are driver-side and cached by
    (path, size, mtime)."""
    import os

    import pyarrow.parquet as pq

    need_rg = need_rg and uri.endswith(".parquet")
    if uri.startswith("file://") or "://" not in uri:
        path = uri[7:] if uri.startswith("file://") else uri
        st = os.stat(path)
        if not need_rg:
            return None, st.st_size
        key = (path, st.st_size, st.st_mtime_ns)
        n = _RG_CACHE.get(key)
        if n is None:
            n = pq.ParquetFile(path).metadata.num_row_groups
            _RG_CACHE[key] = n
        return n, st.st_size
    from pyarrow import fs as pafs

    filesystem, path = pafs.FileSystem.from_uri(uri)
    info = filesystem.get_file_info(path)
    if not need_rg:
        return None, info.size
    key = (uri, info.size, info.mtime_ns or 0)
    n = _RG_CACHE.get(key)
    if n is None:
        with filesystem.open_input_file(path) as f:
            n = pq.ParquetFile(f).metadata.num_row_groups
        _RG_CACHE[key] = n
    return n, info.size


def _row_group_bound(df: DataFrame) -> Optional[int]:
    """Upper bound on the EFFECTIVE scan parallelism of a file-backed
    frame: the total parquet row-group count across its input files.

    ``getNumPartitions()`` counts byte-range SPLITS, but the vectorized
    reader hands a whole row group to the split containing its start
    offset — a 6 MB single-row-group file "split" 32 ways still runs as
    ONE task with rows next to 31 empty ones (r12 measurement: minhash
    at 32 empty splits serialized to 3.5 s from 0.44 s).

    Returns None when the frame is not file-backed (post-shuffle
    partitioning is real, not split fiction), metadata is unreadable,
    or the input has >64 files — there the split count is already at
    least the file count, the bound cannot bind below it, and per-file
    footer reads on an object store would cost driver round trips for
    nothing.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > 64:
        return None
    try:
        total = 0
        for uri in files:
            if not uri.endswith(".parquet"):
                return None
            n, _ = _pq_meta(uri)
            total += n
        return total
    except Exception:
        return None


# logical-plan nodes that mean "this frame is COMPUTED, not stored" —
# re-reading it per reference would re-run the whole computation.
# Matched at line starts (after the tree-drawing prefix), NOT by raw
# substring containment: a column name or literal containing one of
# these words (joinDate, a "Window" string literal) printed inside a
# node line must not make a bare stored relation pay an unnecessary
# full materialization (ADVICE r13).
_COMPUTED_NODE_RE = _re.compile(
    r"(?m)^[\s:+-]*(?:Aggregate|Join|Generate|Union|Window|"
    r"Deduplicate|RepartitionByExpression)\b")


def _pin_computed(df: DataFrame) -> DataFrame:
    """Materialize a small COMPUTED frame exactly once before a plan
    fans multiple references out over it.

    Catalyst re-inlines every reference to a DataFrame; when per-branch
    pushdown (column pruning, specialized predicates) makes the inlined
    subtrees stop being canonically equal, AQE exchange reuse never
    fires and each reference re-runs the whole upstream computation —
    for corpus-model shapes that means one full corpus scan + fold PER
    REFERENCE (measured: 9 corpus scans in ngram_lm_kn, 5 feature
    explodes in dsir_score).  Pinning collapses that to ONE upstream
    pass plus pinned-size re-reads; only use it on frames whose size is
    bounded (a trained model, a buckets-capped count table) so the
    materialization pays at any scale.

    The pin is a lazy ``context.pin``.  DEPLOYMENT NOTE (ADVICE r13):
    without a checkpoint dir, ``localCheckpoint`` blocks live on
    executors, so losing one fails queries over the pinned frame — and
    loses a streaming ``$merge``/``$out``/``$delete``/``$deduplicate``
    collection target outright.  Cluster deployments must set
    ``spark.sparkContext.setCheckpointDir(...)``; see SCALE.md.  A
    frame read straight from storage (bare relation / projection — no
    aggregate, join or generate in its analyzed plan) is NOT pinned:
    re-scanning a stored table per reference is cheaper than copying
    it."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # pragma: no cover - py4j edge
        return df
    return pin(df) if _COMPUTED_NODE_RE.search(plan) else df


def _spread(df: DataFrame, light: bool = False) -> DataFrame:
    """Fan a compute-bound stage out across cores.  Small files arrive as
    a single scan partition (one 500 KB parquet = one task), serializing
    per-row-heavy hash/regex work; a cheap round-robin repartition fixes
    that.  Gated so large inputs (already many partitions at 100 TB) are
    never reshuffled.

    Effective parallelism is ``min(splits, row groups)`` for frames whose
    physical plan is exchange-free (r12): splits overcount on small files
    because a row group is indivisible.  After any Exchange the reported
    partition count is real (rows actually moved), and ``inputFiles()``
    still names the source files through the lineage, so the bound is
    only applied when no Exchange appears in the executed plan —
    planning was already forced by ``df.rdd``, the string check is one
    py4j round trip.

    ``light=True`` marks stages whose per-byte compute is on the order of
    the per-byte cost of moving the payload (a single codegen pass:
    $fingerprint's regex+md5).  A reshuffle moves every payload byte once
    — it can only amortize when downstream work per byte dwarfs the move,
    so light stages skip the fan-out unless the input is genuinely large
    AND serialized (>32 MB in <2 effective partitions), where even one
    regex pass is seconds single-threaded.  Measured r12 at sf0.1:
    $fingerprint 0.30 s with the reshuffle vs 0.19 s without.

    r11 note: two "size-aware" fan-out variants were measured and
    REJECTED — (a) targeting the optimizer's size estimate (stats()
    runs a full analyze/optimize pass per call, +1 s across the dedup
    family) and (b) targeting spark.sql.shuffle.partitions (minhash
    compute is ~13 CPU-seconds over 5 k docs at sf0.1; fanning to 4
    instead of 32 serialized it to 1.5 s from 0.44 s).  Per-row hash
    compute is CPU-bound, so all-cores is the right target even when
    the input is tiny — the gate below only skips the reshuffle when
    the input already arrives wide."""
    try:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        eff = df.rdd.getNumPartitions()
        try:
            import re

            # shuffle nodes print as "Exchange <partitioning>";
            # BroadcastExchange does not re-partition the probe side
            exchange_free = not re.search(
                r"(?<!Broadcast)Exchange",
                df._jdf.queryExecution().executedPlan().toString())
        except Exception:
            exchange_free = False
        if exchange_free:
            bound = _row_group_bound(df)
            if bound is not None:
                eff = min(eff, bound)
        if light:
            if eff < 2:
                try:
                    big = sum(
                        _pq_meta(u, need_rg=False)[1]
                        for u in df.inputFiles()
                    ) > (32 << 20)
                except Exception:
                    big = False
                if big:
                    return df.repartition(parallelism)
            return df
        if eff < max(2, parallelism // 2):
            return df.repartition(parallelism)
    except Exception:
        pass
    return df


def _seeded_hasher(seed: int):
    """Bind the hash seed via closure — a ``lambda s, i=i:`` default arg
    would change the lambda's arity and make pyspark pass the array index
    as the second argument."""

    def h(s: Column) -> Column:
        return md5_long(s, seed)

    return h


def word_shingles(col: Column, n: int) -> Column:
    """Distinct word n-grams of a lowercased text column — computed with
    higher-order functions only (row-local, codegen-friendly)."""
    words = F.split(F.lower(col), "\\s+")
    k = F.size(words) - F.lit(n - 1)
    idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    )


def sql_field_ref(expr: Any) -> Optional[str]:
    """Backticked SQL reference for a plain ``"$field.path"`` expression,
    else None.  Stages built as generated SQL text read such a field in
    place (the classic Dataset API analyzes eagerly on every
    transformation, so one selectExpr over SQL text pays one analyzer
    pass where the equivalent Column chain pays dozens)."""
    if isinstance(expr, str) and expr.startswith("$") \
            and not expr.startswith("$$"):
        from ..paths import split_path

        parts = split_path(expr[1:])
        if all(p and "`" not in p for p in parts):
            return ".".join(f"`{p}`" for p in parts)
    return None


# a plain identifier id can be named in generated SQL as is
_SIMPLE_ID = _re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def sql_input(df: DataFrame, inp: Any, col: str,
              id_field: Optional[str] = None) -> tuple:
    """``(frame, input ref, id ref)`` for a stage built as generated SQL.
    A plain ``"$field"`` input (with a plain identifier id, when one is
    asked for) is read in place.  Any other input is first projected to
    the temporary column ``col`` — next to every column, or next to only
    the id when ``id_field`` is given — and the same SQL runs over that
    column."""
    ref = sql_field_ref(inp)
    if ref is not None and (id_field is None
                            or _SIMPLE_ID.fullmatch(id_field)):
        return df, ref, id_field and f"`{id_field}`"
    value = compile_expr(inp, ExprContext(schema=df.schema)).alias(col)
    if id_field is None:
        return df.select("*", value), f"`{col}`", None
    df = df.select(F.col(id_field), value)
    return df, f"`{col}`", "`" + df.columns[0].replace("`", "``") + "`"


def word_shingles_sql(ref: str, n: int) -> str:
    """``word_shingles`` as one SQL string over a column reference (the
    same split/sequence/slice chain)."""
    w = f"split(lower({ref}), '\\\\s+')"
    idx = (f"CASE WHEN size({w}) - {n - 1} > 0 "
           f"THEN sequence(0, size({w}) - {n}) "
           f"ELSE cast(array() as array<int>) END")
    return (f"array_distinct(transform({idx}, "
            f"i -> array_join(slice({w}, i + 1, {n}), ' ')))")


def md5_long_sql(s: str, seed: int) -> str:
    """``md5_long`` as SQL text (same conv/substr/md5 chain)."""
    return (f"cast(conv(substr(md5(concat('{seed}:', {s})), 1, 15), "
            f"16, 10) as bigint)")


# whitespace class shared with the DuckDB oracles: Java's \s and RE2's
# \s disagree on vertical tab (\x0B), so operators whose oracle
# tokenizes in SQL spell the set out explicitly on both sides
_WS = "[ \\t\\n\\r\\f\\x0B]"


# --------------------------------------------------- embedding-pair shared


def _unit_vector(emb: Column) -> Column:
    """Unit-normalize ONCE per row (zero vectors pass through) so each
    candidate pair later costs a single dot product — norms recomputed
    per pair would triple the pairwise HOF work."""
    norm = F.sqrt(
        F.aggregate(F.transform(emb, lambda x: x * x), F.lit(0.0),
                    lambda acc, v: acc + v)
    )
    return F.when(norm > 0, F.transform(emb, lambda x: x / norm)).otherwise(emb)


def _pair_dot(a: Column, b: Column) -> Column:
    """Dot product of two (unit) vectors — codegen fold, zero shuffle."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, v: acc + v)


# ------------------------------------------------ near-dup pair resolution


def check_annotate(stage: str, transitive: bool, as_field: Any) -> None:
    """``as`` labels rows with connected-component ids, so it needs
    ``transitive: true`` (pairwise resolution has no single well-defined
    cluster per document)."""
    if as_field and not transitive:
        raise ValueError(
            f"{stage} as (annotate mode) requires transitive: true — "
            "cluster labels are connected-component ids")


def _keeper_pairs(buckets: DataFrame, *carry: str) -> DataFrame:
    """The min ``__did`` of each ``__bucket`` is its keeper; every other
    member pairs with it as a DISTINCT ``(__did, *carry, __keep)`` row."""
    keepers = buckets.groupBy("__bucket").agg(F.min("__did").alias("__keep"))
    return (
        buckets.join(keepers, "__bucket")
        .filter(F.col("__did") != F.col("__keep"))
        .select("__did", *carry, "__keep")
        .distinct()
    )


def resolve_pairs(df: DataFrame, pairs: DataFrame, id_field: str,
                  transitive: bool, as_field: Optional[str] = None
                  ) -> DataFrame:
    """The one resolution rule of the near-dup stages, over ``pairs`` of
    (``__did`` duplicate member, ``__keep`` the doc it duplicates):

    - pairwise: every member row of ``df`` is dropped;
    - ``transitive``: the pairs are edges of connected components
      (operators/graphcc.py), so chained near-dups (a≈b≈c with a̸≈c)
      form one cluster and exactly its min id survives;
    - ``as_field`` (with ``transitive``): annotate — every row is kept
      and labeled with its component id (isolated rows label
      themselves); compose with ``$groupCap`` to keep the best doc per
      cluster instead of the min-id one."""
    if not transitive:
        dups = pairs.select("__did").distinct()
    else:
        from ..operators.graphcc import connected_components

        labels = connected_components(pairs.select(
            F.col("__did").alias("a"), F.col("__keep").alias("b")))
        if as_field:
            lab = labels.select(F.col("__cc_node").alias("__did"),
                                F.col("__cc_comp").alias("__lab"))
            return (
                df.join(lab, df[id_field] == lab["__did"], "left")
                .withColumn(as_field,
                            F.coalesce(F.col("__lab"), F.col(id_field)))
                .drop("__did", "__lab")
            )
        dups = (labels.filter(F.col("__cc_node") != F.col("__cc_comp"))
                .select(F.col("__cc_node").alias("__did")))
    return df.join(dups, df[id_field] == dups["__did"], "left_anti")


# ------------------------------------------------------------- exact dedup


@register_stage("$dedupExact", "corpus")
def dedup_exact_stage(expression: Any, ctx: Context) -> StageFn:
    """Exact dedup on one or more key expressions: single hash-partitioned
    shuffle; deterministic keeper = min of ``keep`` column (default: first
    key col order)."""
    keys = expression["keys"] if isinstance(expression, dict) else [expression]
    keep_by = expression.get("keepBy") if isinstance(expression, dict) else None

    def fn(df: DataFrame, c: Context) -> DataFrame:
        from pyspark.sql import Window

        ectx = ExprContext(schema=df.schema)
        key_cols = [compile_expr(k, ectx).alias(f"__k{i}") for i, k in enumerate(keys)]
        order = (
            compile_expr(keep_by, ectx)
            if keep_by is not None
            else (F.col(c.order_by) if c.order_by and c.order_by in df.columns
                  else F.monotonically_increasing_id())
        )
        tagged = df.select("*", *key_cols, order.alias("__keep"))
        w = Window.partitionBy(*[F.col(f"__k{i}") for i in range(len(keys))]).orderBy("__keep")
        return (
            tagged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__keep", *[f"__k{i}" for i in range(len(keys))])
        )

    return fn


# ------------------------------------------------------------ MinHash/LSH

MINHASH_P = (1 << 31) - 1  # Mersenne prime: products stay under 2^62

# $embedDedup: corpora estimated above this refuse the exact O(n²)
# all-pairs plan unless {exact: true} (use {bits: k} LSH instead)
ALL_PAIRS_SIZE_LIMIT = 32 << 20


def minhash_coeffs(num: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_i, b_i), shared with the
    oracle SQL generator."""
    return [
        ((i * 2654435761 + 1) % MINHASH_P or 1, (i * 40503 + 7) % MINHASH_P)
        for i in range(num)
    ]


def minhash_sig_terms_sql(bases_col: str, num: int) -> str:
    """num cheap (a*h+b) mod P permutations over a named base-hash array
    column as ONE SQL string (the md5 is computed once per shingle in the
    bases; chaining it inside every term would recompute it num times).
    Products stay < 2^62 (both factors < MINHASH_P = 2^31-1), so no ANSI
    overflow."""
    terms = ", ".join(
        f"array_min(transform(`{bases_col}`, h -> ({a}L * h + {b}L) % {MINHASH_P}L))"
        for a, b in minhash_coeffs(num)
    )
    return f"array({terms})"


def with_minhash_sig(df: DataFrame, inp: Any, n: int, num: int,
                     sig_col: str = "__sig") -> DataFrame:
    """Add a MinHash signature column in TWO fused projections (bases,
    then permutations over the materialized base array — multi-referenced
    aliases survive CollapseProject).  Shared by $minhash /
    $minhashDedup / $crossDedup / $jaccardJoin."""
    keep = [f"`{c_}`" for c_ in df.columns]
    df, ref, _ = sql_input(df, inp, "__mh_in")
    bases = (f"transform({word_shingles_sql(ref, n)}, "
             f"s -> {md5_long_sql('s', 0)} % {MINHASH_P}L)")
    return df.selectExpr("*", f"{bases} as __mh_bases").selectExpr(
        *keep,
        minhash_sig_terms_sql("__mh_bases", num) + f" as `{sig_col}`",
    )


@register_stage("$minhash", "per_batch")
def minhash_stage(expression: Any, ctx: Context) -> StageFn:
    """Add a MinHash signature column: ``{input, as, shingle: n, numHashes}``.
    Row-local, no shuffle, single pass over the shingles."""
    inp = expression["input"]
    as_field = expression.get("as", "minhash")
    n = int(expression.get("shingle", 3))
    num = int(expression.get("numHashes", 32))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        df = _spread(df)
        return with_minhash_sig(df, inp, n, num, sig_col=as_field)

    return fn


def minhash_buckets(sig: DataFrame, bands: int, rows_per_band: int,
                    *keys: Column) -> DataFrame:
    """``keys`` plus one ``__bucket`` row per MinHash band of ``__sig`` —
    the ONE band-hash format of $minhashDedup, $crossDedup and
    $jaccardJoin (the DuckDB oracles pin it, so they never drift
    apart)."""
    return sig.select(*keys, F.explode(F.array(*[
        F.md5(F.concat_ws(",", F.lit(b), F.slice(
            F.col("__sig"), b * rows_per_band + 1, rows_per_band
        ).cast("string")))
        for b in range(bands)
    ])).alias("__bucket"))


def shingle_jaccard() -> tuple:
    """Exact Jaccard of the shingle-set columns ``__sha`` and ``__shb``,
    as ``(jaccard, union size)``.  Two empty sets have no Jaccard (null),
    so such a pair never verifies."""
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    return F.try_divide(inter, union), union


def _check_bands(stage: str, num: int, bands: int) -> None:
    """bands must tile numHashes exactly: rows_per_band = 0 would make
    every band hash identical (silently deleting the whole corpus), and a
    non-divisible split silently ignores trailing signature rows."""
    if bands <= 0 or bands > num or num % bands != 0:
        raise ValueError(
            f"{stage}: numHashes ({num}) must be divisible by bands "
            f"({bands}) with 1 <= bands <= numHashes"
        )


@register_stage("$minhashDedup", "corpus")
def minhash_dedup_stage(expression: Any, ctx: Context) -> StageFn:
    """Near-dup removal via MinHash + LSH banding.

    ``{input, id, shingle, numHashes, bands, verify?, transitive?}`` —
    docs sharing any band bucket are candidate duplicates; within a
    bucket only the min-``id`` doc survives.  This is the scale path:
    explode to (band, bucket-hash) pairs, one groupBy over buckets, one
    semi-join back — never a pairwise O(n²) comparison.  Bucket-transitive
    pruning is slightly more aggressive than exact pairwise Jaccard >= t
    (standard LSH); ``verify: <threshold>`` adds an exact-Jaccard check on
    each (bucket keeper, member) candidate pair — only pairs whose TRUE
    shingle Jaccard reaches the threshold are dropped, at the cost of one
    extra candidate-sized join (candidates are bucket-bounded, not n²).

    ``transitive: true`` resolves candidate pairs with connected
    components (operators/graphcc.py) instead of per-bucket pruning:
    overlapping buckets merge into one cluster and exactly the min-id doc
    of each *transitive* cluster survives (per-bucket pruning can leave
    several survivors in a chained cluster, e.g. buckets {b,c} and {a,b}
    keep both a and b).  The pair graph stays linear in bucket size —
    star edges (member, bucket keeper), never all pairs.  With ``verify``
    the edges are the verified pairs, so clusters only span docs whose
    pairwise path passed the exact-Jaccard check.

    ``as: "<field>"`` (requires ``transitive: true``) switches to
    ANNOTATE mode: every row is kept and labeled with its transitive
    cluster id (the component's min id; singletons label themselves)
    instead of dropping non-canonical members — compose with
    ``$groupCap {by: "$<field>", cap: 1, sortBy: {quality: -1, ...}}``
    to keep the best-quality document per near-dup cluster rather than
    the min-id one.
    """
    inp = expression["input"]
    id_field = expression.get("id", "_id")
    n = int(expression.get("shingle", 3))
    num = int(expression.get("numHashes", 32))
    bands = int(expression.get("bands", 8))
    verify = expression.get("verify")
    transitive = bool(expression.get("transitive", False))
    as_field = expression.get("as")
    check_annotate("$minhashDedup", transitive, as_field)
    _check_bands("$minhashDedup", num, bands)
    rows_per_band = num // bands

    def fn(df: DataFrame, c: Context) -> DataFrame:
        df = _spread(df)
        with_sig = with_minhash_sig(df, inp, n, num)
        cands = _keeper_pairs(minhash_buckets(
            with_sig, bands, rows_per_band, F.col(id_field).alias("__did")))
        if verify is not None:
            # exact-Jaccard confirmation per candidate pair over the true
            # shingle sets — candidate-sized work, not all-pairs
            sh = word_shingles(
                compile_expr(inp, ExprContext(schema=df.schema)), n)
            jaccard, _ = shingle_jaccard()
            cands = (
                cands.join(df.select(F.col(id_field).alias("__did"),
                                     sh.alias("__sha")), "__did")
                .join(df.select(F.col(id_field).alias("__keep"),
                                sh.alias("__shb")), "__keep")
                .filter(jaccard >= float(verify))
            )
        return resolve_pairs(
            with_sig, cands, id_field, transitive, as_field).drop("__sig")

    return fn


@register_stage("$crossDedup", "per_batch")
def cross_dedup_stage(expression: Any, ctx: Context) -> StageFn:
    """Cross-corpus near-dup removal: drop input documents that
    near-duplicate ANY document of a *reference* collection.

    ``{from, input, foreignInput?, id, shingle, numHashes, bands,
    verify?}`` — the near-dup generalization of ``$decontaminate``
    (which needs exact shingle overlap and broadcasts the benchmark):
    here BOTH corpora can be 100 TB class.  Each side computes MinHash
    band hashes row-locally; the membership test is a bucket equi-join —
    the input explodes to (id, bucket), the reference reduces to DISTINCT
    buckets, and a left-semi join marks contaminated ids.  Nothing
    broadcasts, nothing is pairwise.  ``verify: <threshold>`` joins the
    true shingle sets of each candidate (input, reference) pair and keeps
    only exact Jaccard ≥ threshold — candidate-sized work, bucket-bounded.

    Input rows are REMOVED when contaminated (the ``$decontaminate``
    convention of keeping a flag column is available by composing
    ``$minhash`` + ``$lookup`` instead).
    """
    from_coll = expression["from"]
    inp = expression["input"]
    fin = expression.get("foreignInput", inp)
    id_field = expression.get("id", "_id")
    n = int(expression.get("shingle", 3))
    num = int(expression.get("numHashes", 32))
    bands = int(expression.get("bands", 8))
    verify = expression.get("verify")
    _check_bands("$crossDedup", num, bands)
    rows_per_band = num // bands

    def fn(df: DataFrame, c: Context) -> DataFrame:
        df = _spread(df)
        ref = c.collection(from_coll)
        lb = minhash_buckets(with_minhash_sig(df, inp, n, num), bands,
                             rows_per_band, F.col(id_field).alias("__did"))
        right_sig = with_minhash_sig(ref, fin, n, num)
        if verify is None:
            rb = minhash_buckets(right_sig, bands, rows_per_band).distinct()
            dups = lb.join(rb, "__bucket", "left_semi").select(
                "__did"
            ).distinct()
        else:
            # candidate pairs carry only ids through the bucket join; the
            # true shingle sets are fetched per-side afterwards (the
            # $minhashDedup verify pattern — shipping shingle arrays
            # through the band explode would multiply the shuffle payload
            # by `bands`).  The reference-side key is a deterministic
            # content hash, so retries and re-reads agree.
            text = compile_expr(inp, ExprContext(schema=df.schema))
            rtext = compile_expr(fin, ExprContext(schema=ref.schema))
            rkey = F.xxhash64(rtext)
            rb = minhash_buckets(right_sig, bands, rows_per_band,
                                 rkey.alias("__rid"))
            rsh = ref.select(
                rkey.alias("__rid"), word_shingles(rtext, n).alias("__shb")
            ).dropDuplicates(["__rid"])
            lsh = df.select(
                F.col(id_field).alias("__did"),
                word_shingles(text, n).alias("__sha"),
            )
            pairs = (
                lb.join(rb, "__bucket")
                .select("__did", "__rid")
                .distinct()
                .join(rsh, "__rid")
                .join(lsh, "__did")
            )
            jaccard, _ = shingle_jaccard()
            dups = pairs.filter(jaccard >= float(verify)).select(
                "__did").distinct()
        return df.join(
            dups, df[id_field] == dups["__did"], "left_anti"
        )

    return fn


@register_stage("$jaccardJoin", "per_batch")
def jaccard_join_stage(expression: Any, ctx: Context) -> StageFn:
    """Near-dup PAIR output: ``{from?, input, id, foreignInput?,
    foreignId?, shingle, numHashes, bands, threshold}`` →
    ``(left_id, right_id, jaccard)`` rows for every candidate pair whose
    exact shingle Jaccard reaches ``threshold``.

    The analytical counterpart of $minhashDedup (which *removes*): the
    pair list feeds near-dup graph audits, cluster review, and
    $connectedComponents without deciding survivors.  Same scale
    profile: candidates come from the MinHash band-bucket equi-join
    (never all-pairs), collapse to DISTINCT id pairs (a pair colliding
    in several bands verifies once), and the exact-Jaccard verify
    fetches each side's shingle set by id — candidate-sized joins.
    Without ``from`` it is a self-join emitting each unordered pair once
    (left_id < right_id).  ``jaccard`` is rounded half-up at 9 digits
    (the SQL-oracle convention).
    """
    from_coll = expression.get("from")
    if from_coll is None:  # a self-join pairs rows across the input
        check_kind("$jaccardJoin", "batch", ctx)
    inp = expression["input"]
    id_field = expression.get("id", "_id")
    fin = expression.get("foreignInput", inp)
    fid = expression.get("foreignId", id_field)
    n = int(expression.get("shingle", 3))
    num = int(expression.get("numHashes", 32))
    bands = int(expression.get("bands", 8))
    threshold = float(expression.get("threshold", 0.7))
    _check_bands("$jaccardJoin", num, bands)
    rows_per_band = num // bands

    def fn(df: DataFrame, c: Context) -> DataFrame:
        df = _spread(df)
        if from_coll is None:
            right_df, rinp, rid = df, inp, id_field
        else:
            right_df, rinp, rid = c.collection(from_coll), fin, fid
        lb = minhash_buckets(with_minhash_sig(df, inp, n, num), bands,
                             rows_per_band, F.col(id_field).alias("left_id"))
        rb = minhash_buckets(with_minhash_sig(right_df, rinp, n, num), bands,
                             rows_per_band, F.col(rid).alias("right_id"))
        pairs = lb.join(rb, "__bucket").select("left_id", "right_id")
        if from_coll is None:
            pairs = pairs.filter(F.col("left_id") < F.col("right_id"))
        pairs = pairs.distinct()
        text = compile_expr(inp, ExprContext(schema=df.schema))
        rtext = compile_expr(rinp, ExprContext(schema=right_df.schema))
        lsh = df.select(
            F.col(id_field).alias("left_id"),
            word_shingles(text, n).alias("__sha"),
        )
        rsh = right_df.select(
            F.col(rid).alias("right_id"),
            word_shingles(rtext, n).alias("__shb"),
        )
        jaccard, union = shingle_jaccard()
        return (
            pairs.join(lsh, "left_id")
            .join(rsh, "right_id")
            .filter(union > 0)
            .withColumn(
                "jaccard",
                F.floor(jaccard * 1e9 + F.lit(0.5)).cast("double")
                / F.lit(1e9),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("left_id", "right_id", "jaccard")
        )

    return fn


@register_stage("$editDistanceJoin", "per_batch")
def edit_distance_join_stage(expression: Any, ctx: Context) -> StageFn:
    """Edit-distance similarity join: ``{from?, input, id, foreignInput?,
    foreignId?, maxDistance, gram}`` → ``(left_id, right_id, distance)``
    rows for every pair whose Levenshtein distance is <= ``maxDistance``.

    Complements $jaccardJoin for short strings (titles, names, OCR/typo
    noise) where set similarity is too coarse.  Candidate generation is
    EXACT (no recall loss, unlike the MinHash/SimHash banding families):

    * Long strings (``len >= gram*(maxDistance+1)``) use q-gram prefix
      filtering (ED-Join, Xiao et al., VLDB 2008): <= ``maxDistance``
      edits destroy at most ``gram*maxDistance`` of a string's positional
      q-grams, so two strings within distance k must share a gram among
      their ``gram*k + 1`` globally-rarest grams.  One corpus-wide gram
      document-frequency aggregate defines the rarity order; per-string
      prefix selection is a ``row_number <= q*k+1`` (WindowGroupLimit);
      candidates come from an equi-join of the tiny prefix sets — rare
      grams first means hot grams (stop-word shingles) almost never key
      the join, which is what keeps bucket sizes bounded at corpus scale.
    * Short strings (too few grams for the pigeonhole bound) fall back to
      a length-band equi-join: the short side fans out to its 2k+1
      admissible lengths; both sides of the band are restricted to
      ``len < gram*(maxDistance+1) + maxDistance``, so the band pool only
      degenerates when the whole corpus is that short (pick a smaller
      ``gram``).

    Verification is Spark's banded `levenshtein(a, b, k)` (O(k·n) per
    pair, returns -1 above the threshold) behind a length-difference
    prefilter.  Without ``from`` it is a self-join emitting each
    unordered pair once (left_id < right_id).  Null strings never match.
    """
    from_coll = expression.get("from")
    if from_coll is None:  # a self-join pairs rows across the input
        check_kind("$editDistanceJoin", "batch", ctx)
    inp = expression["input"]
    id_field = expression.get("id", "_id")
    fin = expression.get("foreignInput", inp)
    fid = expression.get("foreignId", id_field)
    k = int(expression.get("maxDistance", 1))
    q = int(expression.get("gram", 2))
    if k < 0:
        raise ValueError("$editDistanceJoin maxDistance must be >= 0")
    if q < 1:
        raise ValueError("$editDistanceJoin gram must be >= 1")
    prefix_len = q * k + 1
    min_long = q * (k + 1)

    def positional_grams(s: Column) -> Column:
        # array<struct<pos, g>>: the q-length windows of s (1-based pos);
        # only called where length(s) >= min_long >= q, so the sequence
        # bound is always >= 1
        return F.transform(
            F.sequence(F.lit(1), F.length(s) - q + 1),
            lambda i: F.struct(i.alias("pos"), s.substr(i, F.lit(q)).alias("g")),
        )

    def fn(df: DataFrame, c: Context) -> DataFrame:
        df = _spread(df)
        ltext = compile_expr(inp, ExprContext(schema=df.schema)).cast("string")
        left = df.select(F.col(id_field).alias("left_id"), ltext.alias("__sa"))
        if from_coll is None:
            right = left.select(
                F.col("left_id").alias("right_id"), F.col("__sa").alias("__sb")
            )
        else:
            right_df = c.collection(from_coll)
            rtext = compile_expr(
                fin, ExprContext(schema=right_df.schema)
            ).cast("string")
            right = right_df.select(
                F.col(fid).alias("right_id"), rtext.alias("__sb")
            )

        def grams(side: DataFrame, idc: str, sc: str) -> DataFrame:
            return (
                side.filter(F.length(sc) >= min_long)
                .select(idc, F.explode(positional_grams(F.col(sc))).alias("__pg"))
                .select(
                    idc,
                    F.col("__pg.g").alias("__g"),
                    F.col("__pg.pos").alias("__pos"),
                )
            )

        lg = grams(left, "left_id", "__sa")
        if from_coll is None:
            rg = lg.select(
                F.col("left_id").alias("right_id"), "__g", "__pos"
            )
            all_grams = lg.select("__g")
        else:
            rg = grams(right, "right_id", "__sb")
            all_grams = lg.select("__g").unionByName(rg.select("__g"))
        # one global gram-frequency pass defines the rarity order; the
        # result is vocabulary-sized (AQE broadcasts it when small)
        freq = all_grams.groupBy("__g").agg(F.count("*").alias("__df"))

        def prefix(g: DataFrame, idc: str, side: DataFrame,
                   sc: str) -> DataFrame:
            from pyspark.sql import Window

            w = Window.partitionBy(idc).orderBy("__df", "__g", "__pos")
            return (
                g.join(freq, "__g")
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= prefix_len)
                .select(idc, "__g")
                # r13: carry the string onto its (qk+1) prefix rows so
                # the verify runs IN the candidate join (see below)
                .join(side, idc)
            )

        dist = (
            F.levenshtein("__sa", "__sb", k) if k > 0
            else F.when(F.col("__sa") == F.col("__sb"), 0).otherwise(-1)
        )

        def verify(cands: DataFrame) -> DataFrame:
            """length prefilter + banded distance, straight on the
            candidate join output.  ONE explicit conjunction, cheap
            predicates first: chained .filter calls get recombined by
            CombineFilters in reverse order, which put the levenshtein
            BEFORE the id/length guards (measured: the residual ran
            the distance on every raw candidate row)."""
            cond = F.abs(F.length("__sa") - F.length("__sb")) <= k
            if from_coll is None:
                cond = (F.col("left_id") < F.col("right_id")) & cond
            return (
                cands.filter(cond & (dist >= 0))
                .withColumn("distance", dist.cast("long"))
                .select("left_id", "right_id", "distance")
            )

        # r13: the distance check verifies candidate-join rows DIRECTLY
        # instead of distinct-ing the raw pair explosion first.  On a
        # small-alphabet corpus the prefix filter degenerates (54
        # distinct grams over 20k part names -> 55M candidate rows) and
        # the old shape paid a 55M-row distinct plus two joins to
        # re-attach strings; the banded levenshtein on the duplicated
        # candidates is bounded at (qk+1)^2 evaluations per true pair,
        # far cheaper than shuffling the pair explosion twice.  The
        # final distinct then dedups only VERIFIED pairs (distance is
        # pair-determined, so duplicates collapse exactly as before).
        # The admissible LENGTH BAND joins as part of the equi-key
        # (|len(a)-len(b)| <= k for any pair within distance k — the
        # same fan-out the short path uses): it prunes cross-length
        # candidates before the residual runs AND multiplies the join
        # key cardinality, un-skewing the tiny-gram-alphabet case
        # (54 single-gram keys over 4 shuffle partitions ran the whole
        # 55M-row merge on ~2 cores).
        pl = prefix(lg, "left_id", left, "__sa").select(
            "left_id", "__g", "__sa",
            F.explode(
                F.transform(F.sequence(F.lit(-k), F.lit(k)),
                            lambda d: F.length("__sa") + d)
            ).alias("__lb"))
        pr = prefix(rg, "right_id", right, "__sb").withColumn(
            "__lb", F.length("__sb"))
        # r14 (guide §2.5 blind spot): the candidate merge EXPLODES
        # inside the join (tiny prefix-row inputs, tens of millions of
        # output pairs on degenerate alphabets), so AQE's input-byte
        # coalescing squashed it to ~1 task (measured 14.8 s at sf0.1;
        # 3.4 s with coalescing disabled).  An explicit-N keyed
        # repartition (REPARTITION_BY_NUM origin) is exempt from AQE
        # coalescing and pins the merge parallelism; N defaults to the
        # cluster's total cores — scale-adaptive, not a local constant.
        par = df.sparkSession.sparkContext.defaultParallelism
        ver_long = verify(
            pl.repartition(par, F.col("__g"), F.col("__lb"))
            .join(pr.repartition(par, F.col("__g"), F.col("__lb")),
                  ["__g", "__lb"]))
        # short-string fallback: both pool members are < min_long + k
        # chars, and any pair with a sub-min_long member has both members
        # in the pool; the left fans out to its 2k+1 admissible lengths
        short_cut = min_long + k
        ls = left.filter(F.length("__sa") < short_cut).select(
            "left_id", "__sa",
            F.explode(
                F.transform(
                    F.sequence(F.lit(-k), F.lit(k)),
                    lambda d: F.length("__sa") + d,
                )
            ).alias("__lb"),
        )
        rs = right.filter(F.length("__sb") < short_cut).select(
            "right_id", "__sb", F.length("__sb").alias("__lb")
        )
        ver_short = verify(ls.join(rs, "__lb"))
        return ver_long.unionByName(ver_short).distinct()

    return fn


@register_stage("$simhash", "per_batch")
def simhash_stage(expression: Any, ctx: Context) -> StageFn:
    """64-bit SimHash over word shingles: ``{input, as, shingle, bits}``.
    bit_j = sign of sum over shingles of (hash bit j ? +1 : -1); near-dups
    differ in few bits (Hamming).  Row-local, no UDF."""
    inp = expression["input"]
    as_field = expression.get("as", "simhash")
    n = int(expression.get("shingle", 2))
    bits = int(expression.get("bits", 16))
    if not 1 <= bits <= 60:
        raise ValueError("$simhash bits must be in [1, 60] (the shingle "
                         "hashes carry 60 bits)")

    def fn(df: DataFrame, c: Context) -> DataFrame:
        return _with_simhash(_spread(df), inp, n, bits, as_field)

    return fn


def _with_simhash(df: DataFrame, inp: Any, n: int, bits: int,
                  out_col: str) -> DataFrame:
    """Append the SimHash column (shared by $simhash and $simhashDedup).

    Two steps, both ONE SQL string (the equivalent nested-lambda Column
    construction costs ~0.6 s of py4j roundtrips per plan at bits=16):
    materialize one md5 hash per shingle, then per bit j the vote sum is
    2·(count of set bits) − n — a compact nested-HOF expression (one tree
    node per construct, not per bit: the bits-way unrolled vote-vector
    fold cost ~1 s of parse/analysis per plan and allocated a 16-wide
    array per shingle at runtime)."""
    keep = [f"`{c_}`" for c_ in df.columns]
    df, ref, _ = sql_input(df, inp, "__sh_in")
    # the shingle->hash step fuses into ONE projection (the transform
    # composes over the shingle expression textually — each is evaluated
    # once per row since the hash transform's input array materializes
    # before the lambda runs); the vote fold stays a second projection so
    # `__sh_h` is a multi-referenced alias (CollapseProject keeps it).
    hashes = (f"transform({word_shingles_sql(ref, n)}, "
              f"s -> {md5_long_sql('s', 0)})")
    value = (
        f"aggregate(transform(sequence(0, {bits - 1}), j -> "
        f"if(2L * aggregate(`__sh_h`, 0L, "
        f"(acc, h) -> acc + (shiftright(h, j) & 1)) "
        f"> size(`__sh_h`), shiftleft(1L, j), 0L)), "
        f"0L, (acc, x) -> acc + x)"
    )
    return df.selectExpr("*", f"{hashes} as __sh_h").selectExpr(
        *keep, f"{value} as `{out_col}`"
    )


@register_stage("$simhashDedup", "corpus")
def simhash_dedup_stage(expression: Any, ctx: Context) -> StageFn:
    """Hamming-ball near-dup removal over SimHash signatures:
    ``{input, id, shingle, bits, maxHamming, transitive?}``.

    The pigeonhole band trick: split the ``bits``-bit signature into
    ``maxHamming + 1`` contiguous bands — two signatures within Hamming
    distance ``maxHamming`` must agree EXACTLY on at least one band — so
    candidate pairs come from an equi-join on (band index, band value),
    and one ``bit_count(xor)`` per candidate verifies the true distance.
    Exact over the (member, bucket-keeper) pairing, bucket-bounded,
    never all-pairs; the same scale profile as $minhashDedup with a far
    cheaper verify (one popcount vs a shingle-set intersection).
    ``transitive: true`` resolves verified pairs with connected
    components, like $minhashDedup."""
    inp = expression["input"]
    id_field = expression.get("id", "_id")
    n = int(expression.get("shingle", 2))
    bits = int(expression.get("bits", 16))
    max_h = int(expression.get("maxHamming", 3))
    transitive = bool(expression.get("transitive", False))
    if not 1 <= bits <= 60:
        raise ValueError("$simhashDedup bits must be in [1, 60] (the "
                         "shingle hashes carry 60 bits)")
    nb = max_h + 1
    if nb > bits:
        raise ValueError("$simhashDedup needs bits >= maxHamming + 1")
    base_w, extra = divmod(bits, nb)
    bands = []  # (start, width)
    start = 0
    for i in range(nb):
        w = base_w + (1 if i < extra else 0)
        bands.append((start, w))
        start += w

    def fn(df: DataFrame, c: Context) -> DataFrame:
        hashed = _with_simhash(_spread(df), inp, n, bits, "__simh")
        band_vals = [
            F.concat(
                F.lit(f"{i}:"),
                (F.shiftright(F.col("__simh"), s)
                 .bitwiseAND(F.lit((1 << w) - 1))).cast("string"),
            )
            for i, (s, w) in enumerate(bands)
        ]
        buckets = hashed.select(
            F.col(id_field).alias("__did"), F.col("__simh").alias("__dh"),
            F.explode(F.array(*band_vals)).alias("__bucket"),
        )
        cands = _keeper_pairs(buckets, "__dh")
        kh = hashed.select(
            F.col(id_field).alias("__keep"), F.col("__simh").alias("__kh")
        )
        # r13: the verify predicate is wrapped in coalesce so it is NOT
        # null-rejecting on the hash columns.  A bare `bit_count(..) <=
        # max_h` makes Catalyst infer isnotnull(__dh)/isnotnull(__kh)
        # and push them through the defining Projects down to the SCAN,
        # substituting the whole simhash fold (with the shingle-hash
        # transform re-inlined PER BIT — the captured-array trap) into
        # a scan-level filter that runs below the fan-out: measured
        # 106 s for a 19k x 5k broadcast join at sf0.1, 0.3 s without.
        # Vacuously identical: docs with a null signature produce null
        # band buckets and never reach cands, and __keep only names
        # docs that produced buckets, so matched pairs never carry a
        # null hash and the sentinel branch never fires.
        verified = cands.join(kh, "__keep").filter(
            F.coalesce(
                F.bit_count(F.col("__dh").bitwiseXOR(F.col("__kh"))),
                F.lit(max_h + 1),
            ) <= max_h
        )
        return resolve_pairs(
            hashed, verified, id_field, transitive).drop("__simh")

    return fn


@register_stage("$ngramJaccardDedup", "corpus")
def ngram_jaccard_dedup_stage(expression: Any, ctx: Context) -> StageFn:
    """Exact n-gram Jaccard near-dup removal: ``{input, id, n, threshold}``.

    Pairs are generated only for docs sharing at least one shingle
    (inverted-index join on exploded shingles), then exact Jaccard =
    |inter| / |union| filters candidates; the larger-``id`` doc of each
    qualifying pair is removed.

    Scale guard: one stop-word-like shingle shared by m documents makes a
    quadratic m² bucket.  Shingles whose document frequency exceeds
    ``maxShingleDf`` (default 1000) are dropped from CANDIDATE GENERATION
    only; the Jaccard of each surviving candidate pair is still computed
    exactly over the full shingle sets (array_intersect), so results are
    unchanged unless a near-dup pair shares *only* hot shingles — the
    standard inverted-index-dedup recall trade, documented in SCALE.md.
    """
    inp = expression["input"]
    id_field = expression.get("id", "_id")
    n = int(expression.get("n", 3))
    threshold = float(expression.get("threshold", 0.8))
    max_df = int(expression.get("maxShingleDf", 1000))

    def fn(df: DataFrame, c: Context) -> DataFrame:
        sdf = _spread(df)
        text = compile_expr(inp, ExprContext(schema=df.schema))
        docs = sdf.select(F.col(id_field).alias("__did"),
                          word_shingles(text, n).alias("__sh"))
        # r13: ONE explicit __g shuffle of the exploded index — the DF
        # aggregate, both self-join sides and the hot-shingle collect
        # all consume this exchange (AQE reuses it; Catalyst's
        # re-inlining otherwise re-ran the shingle explode per branch).
        # r14: explicit N (REPARTITION_BY_NUM, exempt from AQE
        # coalescing): the self-join's output explodes to tens of
        # millions of pairs from a tiny input, so input-byte coalescing
        # was running the merge nearly serial (guide §2.5 blind spot);
        # defaultParallelism = the cluster's total cores.
        par = df.sparkSession.sparkContext.defaultParallelism
        inv = docs.select("__did", F.explode("__sh").alias("__g")) \
            .repartition(par, F.col("__g"))
        dfreq = inv.groupBy("__g").agg(F.count("*").alias("__df"))
        cold = dfreq.filter(F.col("__df") <= max_df).select("__g")
        inv_c = inv.join(cold, "__g")
        # r13: the exact Jaccard no longer ships full shingle arrays to
        # every candidate pair.  Shingle sets are distinct by
        # construction, so the inverted self-join emits each shared
        # COLD shingle exactly once per pair — counting rows per
        # (ida, idb) IS |cold-intersection| (and replaces the pair
        # .distinct() with the same shuffle's aggregate).  The HOT
        # remainder comes from per-doc hot-only arrays (bounded: at
        # most |inv|/maxShingleDf distinct hot shingles exist), so
        # |intersection| = cold count + |hot-array intersect| exactly,
        # and |union| = na + nb - inter from the small sizes table.
        # Was: 36.5M exploded pair rows -> distinct -> two joins
        # carrying ~50-element arrays per pair (317 s at sf0.1);
        # now one count aggregate + broadcast-sized side tables.
        pairs = (
            inv_c.alias("a")
            .join(inv_c.alias("b"), (F.col("a.__g") == F.col("b.__g"))
                  & (F.col("a.__did") < F.col("b.__did")))
            .groupBy(F.col("a.__did").alias("__ida"),
                     F.col("b.__did").alias("__idb"))
            .agg(F.count("*").alias("__ic"))
        )
        sizes = docs.select("__did", F.size("__sh").alias("__n"))
        hot_sh = (
            inv.join(dfreq.filter(F.col("__df") > max_df).select("__g"),
                     "__g")
            .groupBy("__did").agg(F.collect_list("__g").alias("__hg"))
        )
        empty = F.array().cast("array<string>")
        scored = (
            pairs
            .join(sizes.select(F.col("__did").alias("__ida"),
                               F.col("__n").alias("__na")), "__ida")
            .join(sizes.select(F.col("__did").alias("__idb"),
                               F.col("__n").alias("__nb")), "__idb")
            .join(hot_sh.select(F.col("__did").alias("__ida"),
                                F.col("__hg").alias("__hga")),
                  "__ida", "left")
            .join(hot_sh.select(F.col("__did").alias("__idb"),
                                F.col("__hg").alias("__hgb")),
                  "__idb", "left")
            .withColumn(
                "__inter",
                F.col("__ic") + F.size(F.array_intersect(
                    F.coalesce(F.col("__hga"), empty),
                    F.coalesce(F.col("__hgb"), empty))))
            .withColumn(
                "__j",
                F.col("__inter")
                / (F.col("__na") + F.col("__nb") - F.col("__inter")),
            )
        )
        return resolve_pairs(
            df, scored.filter(F.col("__j") >= threshold).select(
                F.col("__idb").alias("__did")), id_field, False)

    return fn


# ------------------------------------------------------ embedding ops / ANN


