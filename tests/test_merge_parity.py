"""$merge parity with the reference's TestMerge scenarios 1-7
(src/test/java/net/pincette/mongo/streams/TestMerge.java:36-173).

MESSAGE1 = {_id:"0", test:0}
MESSAGE2 = {_id:"0", f1:"0", f2:"1", test:0}
NEW_MESSAGE = same as MESSAGE2 but test:1
mergeExisting pre-stores MESSAGE2 with _id = {f1:"0", f2:"1"} and merges
NEW_MESSAGE on [f1,f2] with key {f1:"$f1", f2:"$f2"}.
"""

import pytest

from pincette_mongo_streams_spark.context import Context
from pincette_mongo_streams_spark import compile_pipeline


def _docs(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def _msg1(spark):
    return spark.createDataFrame([("0", 0)], "_id string, test long")


def test_merge1_insert_new(spark):
    # $merge 1: whenNotMatched insert -> message emitted and stored
    ctx = Context(spark=spark, collections={})
    out = compile_pipeline(
        [{"$merge": {"into": "m", "on": "_id", "whenNotMatched": "insert"}}], ctx
    )(_msg1(spark))
    assert _docs(out) == [{"_id": "0", "test": 0}]
    assert _docs(ctx.collection("m")) == [{"_id": "0", "test": 0}]


def test_merge2_discard_new(spark):
    # $merge 2: whenNotMatched discard -> nothing emitted, nothing stored
    ctx = Context(spark=spark, collections={})
    out = compile_pipeline(
        [{"$merge": {"into": "m", "on": "_id", "whenNotMatched": "discard"}}], ctx
    )(_msg1(spark))
    assert out.count() == 0
    assert ctx.collection("m").count() == 0


def test_merge3_fail_new(spark):
    # $merge 3: whenNotMatched fail -> the stream aborts
    ctx = Context(spark=spark, collections={})
    with pytest.raises(RuntimeError):
        compile_pipeline(
            [{"$merge": {"into": "m", "on": "_id", "whenNotMatched": "fail"}}], ctx
        )(_msg1(spark)).count()


def _merge_existing(spark, action):
    # pre-store MESSAGE2 with _id = {f1, f2} (the `key` value) and merge
    # NEW_MESSAGE over it
    stored = spark.createDataFrame(
        [(("0", "1"), "0", "1", 0)],
        "_id struct<f1:string,f2:string>, f1 string, f2 string, test long")
    ctx = Context(spark=spark, collections={"m": stored})
    incoming = spark.createDataFrame(
        [("0", "0", "1", 1)], "_id string, f1 string, f2 string, test long")
    out = compile_pipeline([
        {"$merge": {"into": "m", "on": ["f1", "f2"],
                    "key": {"f1": "$f1", "f2": "$f2"},
                    "whenMatched": action}}], ctx)(incoming)
    return _docs(out), _docs(ctx.collection("m")), ctx


def test_merge4_replace_existing(spark):
    # $merge 4: replace -> output NEW_MESSAGE with the incoming _id; the
    # stored doc keeps the key-valued _id
    out, stored, _ = _merge_existing(spark, "replace")
    assert out == [{"_id": "0", "f1": "0", "f2": "1", "test": 1}]
    assert stored == [{"_id": {"f1": "0", "f2": "1"}, "f1": "0", "f2": "1",
                       "test": 1}]


def test_merge5_keep_existing(spark):
    # $merge 5: keepExisting -> output is the UNCHANGED stored doc, but
    # with the incoming message's _id restored (setId, Merge.java:142-149)
    out, stored, _ = _merge_existing(spark, "keepExisting")
    assert out == [{"_id": "0", "f1": "0", "f2": "1", "test": 0}]
    assert stored == [{"_id": {"f1": "0", "f2": "1"}, "f1": "0", "f2": "1",
                       "test": 0}]


def test_merge6_merge_existing(spark):
    # $merge 6: merge (default) -> shallow field merge, source overwrites
    out, stored, _ = _merge_existing(spark, "merge")
    assert out == [{"_id": "0", "f1": "0", "f2": "1", "test": 1}]
    assert stored[0]["test"] == 1


def test_merge7_fail_existing(spark):
    # $merge 7: whenMatched fail on a matching doc -> the stream aborts
    with pytest.raises(RuntimeError):
        _merge_existing(spark, "fail")


def test_merge_missing_on_value_fails(spark):
    # Merge.java:163-165: an `on` field absent from the message -> abort
    ctx = Context(spark=spark, collections={})
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        compile_pipeline([{"$merge": {"into": "m", "on": "_id",
                                      "whenNotMatched": "discard"}}], ctx)(df)


def test_merge_object_form_into(spark):
    """MongoDB object form {db, coll} routes through the qualified
    collection name (like the $lookup `database` extension)."""
    ctx = Context(spark=spark, collections={})
    out = compile_pipeline(
        [{"$merge": {"into": {"db": "other", "coll": "m"},
                     "on": "_id", "whenNotMatched": "insert"}}], ctx
    )(_msg1(spark))
    assert _docs(out) == [{"_id": "0", "test": 0}]
    assert _docs(ctx.collection("other.m")) == [{"_id": "0", "test": 0}]


def test_merge_when_matched_pipeline(spark):
    """MongoDB's pipeline-form whenMatched (engine superset; the
    reference rejects it — Pipeline.java:124-125): the update pipeline
    runs over each matched TARGET doc with $$new = the incoming doc."""
    from pincette_mongo_streams_spark import Context, compile_pipeline

    target = spark.createDataFrame(
        [(1, 10.0, 2), (2, 20.0, 5)], "_id long, total double, n long"
    )
    src = spark.createDataFrame(
        [(1, 7.0), (3, 3.0)], "_id long, amount double"
    )
    ctx = Context(spark=spark, collections={"acc": target})
    out = compile_pipeline(
        [{"$merge": {"into": "acc", "on": "_id",
                     "whenMatched": [
                         {"$set": {"total": {"$add": ["$total",
                                                      "$$new.amount"]},
                                   "n": {"$add": ["$n", 1]}}},
                     ],
                     "whenNotMatched": "insert"}}],
        ctx,
    )(src)
    out.collect()  # run the side effect
    stored = {r["_id"]: r.asDict() for r in ctx.collection("acc").collect()}
    assert stored[1]["total"] == 17.0 and stored[1]["n"] == 3  # updated
    assert stored[2]["total"] == 20.0 and stored[2]["n"] == 5  # untouched
    assert stored[3]["amount"] == 3.0                          # inserted


def test_merge_when_matched_replace_with_new(spark):
    from pincette_mongo_streams_spark import Context, compile_pipeline

    target = spark.createDataFrame([(1, "old")], "_id long, v string")
    src = spark.createDataFrame([(1, "new")], "_id long, v string")
    ctx = Context(spark=spark, collections={"t": target})
    compile_pipeline(
        [{"$merge": {"into": "t", "on": "_id",
                     "whenMatched": [{"$replaceWith": "$$new"}]}}],
        ctx,
    )(src).collect()
    assert ctx.collection("t").collect()[0]["v"] == "new"


def test_merge_when_matched_pipeline_rejects_bad_stage(spark):
    import pytest
    from pincette_mongo_streams_spark import Context, compile_pipeline

    target = spark.createDataFrame([(1, 1)], "_id long, v long")
    src = spark.createDataFrame([(1, 2)], "_id long, v long")
    ctx = Context(spark=spark, collections={"t": target})
    with pytest.raises(ValueError, match="whenMatched"):
        compile_pipeline(
            [{"$merge": {"into": "t", "whenMatched":
                         [{"$group": {"_id": None}}]}}], ctx
        )(src).collect()


def test_merge_when_matched_let_variables(spark):
    from pincette_mongo_streams_spark import Context, compile_pipeline

    target = spark.createDataFrame([(1, 10.0)], "_id long, total double")
    src = spark.createDataFrame([(1, 7.0)], "_id long, amount double")
    ctx = Context(spark=spark, collections={"t": target})
    compile_pipeline(
        [{"$merge": {"into": "t", "on": "_id",
                     "let": {"delta": {"$multiply": ["$amount", 2]}},
                     "whenMatched": [
                         {"$set": {"total": {"$add": ["$total",
                                                      "$$delta"]}}}]}}],
        ctx,
    )(src).collect()
    assert ctx.collection("t").collect()[0]["total"] == 24.0


def test_merge_replace_with_literal_resolves_old_doc(spark):
    """Object-literal $replaceWith must resolve "$field" paths against
    the PRE-stage target doc, not the literal being built."""
    from pincette_mongo_streams_spark import Context, compile_pipeline

    target = spark.createDataFrame([(1, 10.0)], "_id long, total double")
    src = spark.createDataFrame([(1, 7.0)], "_id long, amount double")
    ctx = Context(spark=spark, collections={"t": target})
    compile_pipeline(
        [{"$merge": {"into": "t", "on": "_id",
                     "whenMatched": [{"$replaceWith": {
                         "_id": "$_id",
                         "total": {"$add": ["$total", "$$new.amount"]}}}]}}],
        ctx,
    )(src).collect()
    row = ctx.collection("t").collect()[0]
    assert row["_id"] == 1 and row["total"] == 17.0


def test_merge_let_unbinds_new(spark):
    """Mongo 5.0: let REPLACES the default $$new binding."""
    import pytest
    from pincette_mongo_streams_spark import Context, compile_pipeline

    target = spark.createDataFrame([(1, 10.0)], "_id long, total double")
    src = spark.createDataFrame([(1, 7.0)], "_id long, amount double")
    ctx = Context(spark=spark, collections={"t": target})
    with pytest.raises(ValueError, match="new"):
        compile_pipeline(
            [{"$merge": {"into": "t", "on": "_id",
                         "let": {"d": "$amount"},
                         "whenMatched": [{"$set": {
                             "total": "$$new.amount"}}]}}],
            ctx,
        )(src).collect()


def test_merge_project_numeric_inclusion(spark):
    """$project {f: 2} INCLUDES the field (any nonzero number), it does
    not write the literal 2."""
    from pincette_mongo_streams_spark import Context, compile_pipeline

    target = spark.createDataFrame([(1, 10.0, "x")],
                                   "_id long, total double, tag string")
    src = spark.createDataFrame([(1, 7.0)], "_id long, amount double")
    ctx = Context(spark=spark, collections={"t": target})
    compile_pipeline(
        [{"$merge": {"into": "t", "on": "_id",
                     "whenMatched": [{"$project": {"total": 2}}]}}],
        ctx,
    )(src).collect()
    row = ctx.collection("t").collect()[0]
    assert row["total"] == 10.0 and row["_id"] == 1


def test_batch_merge_starts_no_job_while_building(spark):
    """A plain batch $merge builds its output and its new target without
    running a Spark job (the target is pinned only inside a streaming
    micro-batch); the first action then yields scenario 6's target."""
    stored = spark.createDataFrame(
        [(("0", "1"), "0", "1", 0)],
        "_id struct<f1:string,f2:string>, f1 string, f2 string, test long")
    incoming = spark.createDataFrame(
        [("0", "0", "1", 1)], "_id string, f1 string, f2 string, test long")
    ctx = Context(spark=spark, collections={"m": stored})
    sc = spark.sparkContext
    sc.setJobGroup("merge-build", "batch $merge build")
    try:
        out = compile_pipeline([
            {"$merge": {"into": "m", "on": ["f1", "f2"],
                        "key": {"f1": "$f1", "f2": "$f2"}}}], ctx)(incoming)
        built = list(sc.statusTracker().getJobIdsForGroup("merge-build"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert built == []
    assert _docs(out) == [{"_id": "0", "f1": "0", "f2": "1", "test": 1}]
    assert _docs(ctx.collection("m")) == [
        {"_id": {"f1": "0", "f2": "1"}, "f1": "0", "f2": "1", "test": 1}]
