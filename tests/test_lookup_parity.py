"""Golden parity with the reference's TestLookup corpus ("$lookup 1"-"$lookup
10", TestLookup.java:102-200).

The reference looks up against a MongoDB collection seeded with two docs
MESSAGE1={_id:"0",test:0} and MESSAGE2={_id:"1",test:1} (prepare(),
TestLookup.java:202-213) and sorts the result array before comparing
(sort(), TestLookup.java:36-43).  Here the collection is an in-memory
DataFrame in the Context, and result arrays are sorted in the assertion the
same way.
"""

import pytest

from pincette_mongo_streams_spark import Context, compile_pipeline

MESSAGE1 = {"_id": "0", "test": 0}
MESSAGE2 = {"_id": "1", "test": 1}


@pytest.fixture()
def ctx(spark):
    coll = spark.createDataFrame(
        [("0", 0), ("1", 1)], "_id string, test long"
    )
    return Context(spark=spark, collections={"test-coll": coll})


def _run_one(spark, ctx, pipeline, doc, schema="_id string, test long"):
    df = spark.createDataFrame([tuple(doc.values())], schema)
    out = compile_pipeline(pipeline, ctx)(df)
    return [r.asDict(recursive=True) for r in out.collect()]


def _eq_lookup(inner=False):
    return [{"$lookup": {"from": "test-coll", "inner": inner,
                         "localField": "test", "foreignField": "test",
                         "as": "other"}}]


def _pipeline_lookup(match):
    return [{"$lookup": {"from": "test-coll", "let": {"var": "$test"},
                         "pipeline": [{"$match": match}], "as": "other"}}]


def _sorted_other(doc):
    return dict(doc, other=sorted(doc["other"], key=lambda d: d["_id"]))


def test_lookup_1_scalar_match(spark, ctx):
    """"$lookup 1" (TestLookup.java:102-108): scalar local value joins the
    one matching foreign doc."""
    got = _run_one(spark, ctx, _eq_lookup(), {"_id": "0", "test": 0})
    assert len(got) == 1
    assert _sorted_other(got[0]) == {"_id": "0", "test": 0, "other": [MESSAGE1]}


def test_lookup_2_other_key(spark, ctx):
    """"$lookup 2" (TestLookup.java:110-116)."""
    got = _run_one(spark, ctx, _eq_lookup(), {"_id": "0", "test": 1})
    assert _sorted_other(got[0]) == {"_id": "0", "test": 1, "other": [MESSAGE2]}


def test_lookup_3_array_local_value(spark, ctx):
    """"$lookup 3" (TestLookup.java:118-124): an array local value matches
    every foreign doc whose key is IN it (the array-wrap rewrite,
    Lookup.java:110-114, 197-200)."""
    got = _run_one(
        spark, ctx, _eq_lookup(), {"_id": "0", "test": [0, 1]},
        schema="_id string, test array<long>",
    )
    assert _sorted_other(got[0]) == {
        "_id": "0", "test": [0, 1], "other": [MESSAGE1, MESSAGE2],
    }


def test_lookup_4_no_match_empty_array(spark, ctx):
    """"$lookup 4" (TestLookup.java:126-131): left-outer — no match keeps
    the message with an empty `as` array."""
    got = _run_one(spark, ctx, _eq_lookup(), {"_id": "0", "test": 2})
    assert got == [{"_id": "0", "test": 2, "other": []}]


def test_lookup_5_inner_drops_no_match(spark, ctx):
    """"$lookup 5" (TestLookup.java:133-137): inner:true drops messages
    with an empty result (Lookup.java:158)."""
    got = _run_one(spark, ctx, _eq_lookup(inner=True), {"_id": "0", "test": 2})
    assert got == []


def test_lookup_6_inner_keeps_match(spark, ctx):
    """"$lookup 6" (TestLookup.java:139-145)."""
    got = _run_one(spark, ctx, _eq_lookup(inner=True), {"_id": "0", "test": 0})
    assert _sorted_other(got[0]) == {"_id": "0", "test": 0, "other": [MESSAGE1]}


def test_lookup_7_pipeline_let_match(spark, ctx):
    """"$lookup 7" (TestLookup.java:147-153): pipeline form with a $$var
    equality match reproduces the equality join."""
    got = _run_one(
        spark, ctx, _pipeline_lookup({"test": "$$var"}), {"_id": "0", "test": 0}
    )
    assert _sorted_other(got[0]) == {"_id": "0", "test": 0, "other": [MESSAGE1]}


def test_lookup_8_pipeline_other_key(spark, ctx):
    """"$lookup 8" (TestLookup.java:155-161)."""
    got = _run_one(
        spark, ctx, _pipeline_lookup({"test": "$$var"}), {"_id": "0", "test": 1}
    )
    assert _sorted_other(got[0]) == {"_id": "0", "test": 1, "other": [MESSAGE2]}


def test_lookup_9_pipeline_no_match(spark, ctx):
    """"$lookup 9" (TestLookup.java:163-169): pipeline form stays
    left-outer — empty result array survives."""
    got = _run_one(
        spark, ctx, _pipeline_lookup({"test": "$$var"}), {"_id": "0", "test": 2}
    )
    assert got == [{"_id": "0", "test": 2, "other": []}]


def test_lookup_10_pipeline_gte_unwind(spark, ctx):
    """"$lookup 10" (TestLookup.java:171-200): a correlated non-equality
    ($gte $$var) sub-pipeline with unwind:true flattens each match into its
    own message; the trailing $project keeps only `other`."""
    pipeline = [
        {"$lookup": {"from": "test-coll", "let": {"var": "$test"},
                     "pipeline": [{"$match": {"test": {"$gte": "$$var"}}}],
                     "unwind": True, "as": "other"}},
        {"$project": {"other": 1}},
    ]
    df = spark.createDataFrame([(0,)], "test long")
    out = compile_pipeline(pipeline, ctx)(df)
    got = [r.asDict(recursive=True) for r in out.collect()]
    assert len(got) == 2
    others = sorted((r["other"] for r in got), key=lambda d: d["_id"])
    assert others == [MESSAGE1, MESSAGE2]


# ---------------------------------------------------------------- size-only
# rewrite (plans/optimize.py): a $lookup whose array is consumed only as
# {"$size": "$as"} by the next include-mode $project counts matches per key
# instead of materializing collect_list(struct(*)) arrays


def _size_pipeline(lookup):
    return [lookup, {"$project": {"_id": 1, "n": {"$toLong": {"$size": "$other"}}}}]


def test_size_only_rewrite_fires():
    from pincette_mongo_streams_spark.plans.optimize import optimize_pipeline

    out = optimize_pipeline(_size_pipeline(
        {"$lookup": {"from": "c", "localField": "a", "foreignField": "b",
                     "as": "other"}}))
    assert out[0]["$lookup"]["__countOnly__"] is True
    assert out[1]["$project"]["n"] == {"$toLong": "$other"}


def test_size_only_rewrite_blocked_by_passthrough():
    from pincette_mongo_streams_spark.plans.optimize import optimize_pipeline

    pipeline = [
        {"$lookup": {"from": "c", "localField": "a", "foreignField": "b",
                     "as": "other"}},
        {"$project": {"other": 1, "n": {"$size": "$other"}}},
    ]
    out = optimize_pipeline(pipeline)
    assert "__countOnly__" not in out[0]["$lookup"]


def test_size_only_rewrite_blocked_by_element_access():
    from pincette_mongo_streams_spark.plans.optimize import optimize_pipeline

    pipeline = [
        {"$lookup": {"from": "c", "localField": "a", "foreignField": "b",
                     "as": "other"}},
        {"$project": {"x": "$other._id", "n": {"$size": "$other"}}},
    ]
    out = optimize_pipeline(pipeline)
    assert "__countOnly__" not in out[0]["$lookup"]


def test_size_only_rewrite_blocked_by_root_ref():
    """ADVICE r1: {doc: "$$ROOT"} (or $$CURRENT / a $let binding of them)
    reaches the as-field without naming it — the rewrite must not fire,
    else the document copy carries an int count where the array belongs."""
    from pincette_mongo_streams_spark.plans.optimize import optimize_pipeline

    for doc_expr in ("$$ROOT", "$$CURRENT.other",
                     {"$let": {"vars": {"d": "$$ROOT"}, "in": "$$d"}}):
        pipeline = [
            {"$lookup": {"from": "c", "localField": "a", "foreignField": "b",
                         "as": "other"}},
            {"$project": {"n": {"$size": "$other"}, "doc": doc_expr}},
        ]
        out = optimize_pipeline(pipeline)
        assert "__countOnly__" not in out[0]["$lookup"], doc_expr


def test_size_only_equality_results(spark, ctx):
    got = _run_one(
        spark, ctx,
        _size_pipeline({"$lookup": {"from": "test-coll", "localField": "test",
                                    "foreignField": "test", "as": "other"}}),
        {"_id": "0", "test": 0},
    )
    assert got == [{"_id": "0", "n": 1}]


def test_size_only_equality_no_match_is_zero(spark, ctx):
    got = _run_one(
        spark, ctx,
        _size_pipeline({"$lookup": {"from": "test-coll", "localField": "test",
                                    "foreignField": "test", "as": "other"}}),
        {"_id": "0", "test": 7},
    )
    assert got == [{"_id": "0", "n": 0}]


def test_size_only_pipeline_form_results(spark, ctx):
    got = _run_one(
        spark, ctx,
        _size_pipeline({"$lookup": {"from": "test-coll", "let": {"var": "$test"},
                                    "pipeline": [{"$match": {"test": {"$gte": "$$var"}}}],
                                    "as": "other"}}),
        {"_id": "0", "test": 0},
    )
    assert got == [{"_id": "0", "n": 2}]


def test_size_only_inner_filters(spark, ctx):
    got = _run_one(
        spark, ctx,
        _size_pipeline({"$lookup": {"from": "test-coll", "inner": True,
                                    "localField": "test", "foreignField": "test",
                                    "as": "other"}}),
        {"_id": "0", "test": 7},
    )
    assert got == []


def test_size_only_rewrite_equivalence_randomized(spark):
    """Soundness of the size-only rewrite: for random stream/foreign
    tables (dup keys, missing keys, inner on/off), the optimized pipeline
    must equal the unoptimized stage composition exactly."""
    import random

    from pincette_mongo_streams_spark.pipeline import compile_stage

    rng = random.Random(7)
    for trial in range(6):
        n_stream, n_foreign = rng.randint(1, 8), rng.randint(0, 12)
        stream_rows = [(i, rng.randint(0, 5)) for i in range(n_stream)]
        foreign_rows = [(rng.randint(0, 5), rng.randint(0, 99))
                        for _ in range(n_foreign)]
        df = spark.createDataFrame(stream_rows, "sid long, k long")
        fdf = spark.createDataFrame(foreign_rows, "fk long, payload long") \
            if foreign_rows else spark.createDataFrame([], "fk long, payload long")
        inner = rng.random() < 0.5
        ctx = Context(spark=spark, collections={"f": fdf})
        lookup = {"$lookup": {"from": "f", "localField": "k",
                              "foreignField": "fk", "as": "m", "inner": inner}}
        proj = {"$project": {"sid": 1, "n": {"$size": "$m"}}}
        optimized = compile_pipeline([lookup, proj], ctx)(df)
        # unoptimized: compile the stages directly, no pipeline-level pass
        plain = compile_stage("$project", proj["$project"], ctx)(
            compile_stage("$lookup", lookup["$lookup"], ctx)(df, ctx), ctx
        )
        got = sorted((r.sid, r.n) for r in optimized.collect())
        want = sorted((r.sid, r.n) for r in plain.collect())
        assert got == want, f"trial {trial}: {got} != {want}"


def test_lookup_let_nested_var_path(spark, ctx):
    """``let: {o: "$spec"}`` + ``$match: {key: "$$o.k"}`` — a nested
    $$var sub-path resolves against the bound struct value (the
    reference substitutes variables into the sub-pipeline the same way,
    Lookup.java:122-128)."""
    from pyspark.sql import Row

    stream = spark.createDataFrame(
        [Row(_id="1", spec=Row(k="a", n=1)),
         Row(_id="2", spec=Row(k="b", n=2))],
        "_id string, spec struct<k:string,n:int>")
    foreign = spark.createDataFrame(
        [("a", 10), ("a", 11), ("b", 20)], "key string, v int")
    c = Context(spark=spark, collections={"f": foreign})
    out = compile_pipeline(
        [{"$lookup": {"from": "f", "let": {"o": "$spec"},
                      "pipeline": [{"$match": {"key": "$$o.k"}}],
                      "as": "m"}},
         {"$project": {"_id": 1, "vs": "$m.v"}}],
        c,
    )(stream)
    got = {r["_id"]: sorted(r["vs"]) for r in out.collect()}
    assert got == {"1": [10, 11], "2": [20]}


def _ckpt_recorder(spark, monkeypatch):
    DF = type(spark.range(1))  # the concrete (classic) DataFrame class
    calls = []
    orig_ckpt = DF.checkpoint
    orig_local = DF.localCheckpoint
    monkeypatch.setattr(
        DF, "checkpoint",
        lambda self, eager=True: (calls.append("durable"),
                                  orig_ckpt(self, eager=eager))[1])
    monkeypatch.setattr(
        DF, "localCheckpoint",
        lambda self, eager=True: (calls.append("local"),
                                  orig_local(self, eager=eager))[1])
    return calls


def _nation_lookup(spark):
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    pctx = Context(spark=spark, collections={"nation": nation})
    pipe = [{"$lookup": {"from": "nation", "localField": "r_regionkey",
                         "foreignField": "n_regionkey", "as": "nations"}}]
    region = spark.read.parquet(f"{sf}/region.parquet")
    return pipe, pctx, region


def test_small_lookup_checkpoint_durable_when_dir_set(
        spark, tmp_path, monkeypatch):
    """ADVICE r13: when the small-side materialization fires, it mirrors
    context.pin — durable `checkpoint` when the session has a
    checkpoint directory (localCheckpoint blocks die with their executor
    on a real cluster), `localCheckpoint` otherwise.  `_key_has_nulls`
    is forced True so the materialization fires on the no-null testdata
    key (needs a parquet-backed foreign side: in-memory collections
    have no size estimate and never take the small path)."""
    from pincette_mongo_streams_spark.operators import lookup as lkmod

    monkeypatch.setattr(lkmod, "_key_has_nulls", lambda df, f: True)
    pipe, pctx, region = _nation_lookup(spark)
    calls = _ckpt_recorder(spark, monkeypatch)
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        rows = compile_pipeline(pipe, pctx)(region).collect()
        assert len(rows) == 5 and all(len(r["nations"]) == 5 for r in rows)
        assert "durable" in calls and "local" not in calls
    finally:
        # reset so the rest of the session keeps the local-mode default
        sc._jsc.sc().setCheckpointDir(None)
    assert not sc._jsc.sc().getCheckpointDir().isDefined()
    calls.clear()
    rows = compile_pipeline(pipe, pctx)(region).collect()
    assert len(rows) == 5 and all(len(r["nations"]) == 5 for r in rows)
    assert "local" in calls and "durable" not in calls


def test_graph_lookup_and_side_output_pins_durable_when_dir_set(
        spark, tmp_path, monkeypatch):
    """`$graphLookup`'s result and the side-output stages' input pin
    through context.pin: durable `checkpoint` when the session has a
    checkpoint directory, never executor-local blocks."""
    from pyspark.sql import Row

    coll = spark.createDataFrame([(1, None), (2, 1), (3, 2)],
                                 "id long, parent long")
    graph = [{"$graphLookup": {
        "from": "h", "startWith": "$parent", "connectFromField": "parent",
        "connectToField": "id", "as": "anc"}}]
    sent = []
    send_ctx = Context(spark=spark,
                       producer=lambda t, k, v: sent.append((t, v)))
    docs = spark.createDataFrame(
        [Row(_id="a", t="out"), Row(_id="b", t=None)], "_id string, t string")
    calls = _ckpt_recorder(spark, monkeypatch)
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        rows = compile_pipeline(
            graph, Context(spark=spark, collections={"h": coll}))(coll).collect()
        assert sorted(len(r["anc"]) for r in rows) == [0, 1, 2]
        assert calls and set(calls) == {"durable"}
        calls.clear()
        kept = compile_pipeline([{"$send": "$t"}], send_ctx)(docs).collect()
        assert [r["_id"] for r in kept] == ["b"]
        assert [t for t, _ in sent] == ["out"]
        assert calls and set(calls) == {"durable"}
    finally:
        sc._jsc.sc().setCheckpointDir(None)
    assert not sc._jsc.sc().getCheckpointDir().isDefined()


def test_side_output_pin_evaluates_its_input_once(spark, tmp_path):
    """With a checkpoint dir set, `$send` pins its input durably.  A lazy
    reliable checkpoint would compute a nondeterministic input twice
    (once for the emit, once to write the checkpoint), so rows could be
    sent and kept, or neither; every row must land on exactly one side."""
    import random

    from pyspark.sql import functions as F

    coin = F.udf(lambda _: "out" if random.random() < 0.5 else None,
                 "string").asNondeterministic()
    docs = spark.range(200).select(F.col("id").cast("string").alias("_id"))
    docs = docs.withColumn("t", coin("_id"))
    sent = []
    ctx = Context(spark=spark, producer=lambda t, k, v: sent.append(k))
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        kept = [r["_id"] for r in
                compile_pipeline([{"$send": "$t"}], ctx)(docs).collect()]
    finally:
        sc._jsc.sc().setCheckpointDir(None)
    assert not set(kept) & set(sent)
    assert sorted(kept + sent) == sorted(str(i) for i in range(200))


def test_small_lookup_no_checkpoint_when_key_null_free(
        spark, monkeypatch):
    """r13 nullability gate (VERDICT r12 #3): parquet null-count stats
    prove the foreign key null-free -> the shared-agg materialization
    is skipped entirely (it costs ~0.07-0.1 s per query at sf0.1 and
    only pays when the key HAS nulls); results unchanged."""
    pipe, pctx, region = _nation_lookup(spark)
    calls = _ckpt_recorder(spark, monkeypatch)
    rows = compile_pipeline(pipe, pctx)(region).collect()
    assert len(rows) == 5 and all(len(r["nations"]) == 5 for r in rows)
    assert calls == []


def test_small_lookup_checkpoints_when_key_has_nulls(
        spark, tmp_path, monkeypatch):
    """Keys WITH nulls (real parquet file, null-count stats > 0) keep
    the shared materialization AND the Mongo null-matches-null
    semantics."""
    import pandas as pd

    fpath = str(tmp_path / "foreign.parquet")
    pd.DataFrame({"k": [1, 2, None, None], "v": ["a", "b", "x", "y"]}) \
        .to_parquet(fpath)
    foreign = spark.read.parquet(fpath)
    lpath = str(tmp_path / "local.parquet")
    pd.DataFrame({"id": [10, 20, 30], "k": [1.0, None, 3.0]}) \
        .to_parquet(lpath)
    local = spark.read.parquet(lpath)
    pctx = Context(spark=spark, collections={"f": foreign})
    pipe = [{"$lookup": {"from": "f", "localField": "k",
                         "foreignField": "k", "as": "m"}},
            {"$project": {"id": 1, "n": {"$size": "$m"}}}]
    calls = _ckpt_recorder(spark, monkeypatch)
    rows = {r["id"]: r["n"] for r in
            compile_pipeline(pipe, pctx)(local).collect()}
    # null local key matches the null foreign group (2 rows); unmatched
    # non-null key gets the empty array
    assert rows == {10: 1, 20: 2, 30: 0}
    assert "local" in calls


def test_key_has_nulls_stats():
    import pandas as pd
    import tempfile, os as _os

    from pincette_mongo_streams_spark.operators.lookup import (
        _key_has_nulls,
    )

    class _Fake:
        def __init__(self, files):
            self._files = files

        def inputFiles(self):
            return self._files

    with tempfile.TemporaryDirectory() as d:
        clean = _os.path.join(d, "clean.parquet")
        dirty = _os.path.join(d, "dirty.parquet")
        pd.DataFrame({"k": [1, 2, 3]}).to_parquet(clean)
        pd.DataFrame({"k": [1.0, None]}).to_parquet(dirty)
        assert _key_has_nulls(_Fake([clean]), "k") is False
        assert _key_has_nulls(_Fake([dirty]), "k") is True
        assert _key_has_nulls(_Fake([clean, dirty]), "k") is True
        assert _key_has_nulls(_Fake([clean]), "nope") is None
        assert _key_has_nulls(_Fake([]), "k") is None
        assert _key_has_nulls(
            _Fake([f"s3://bucket/x.parquet"]), "k") is None
