"""Structured Streaming parity tests (SURVEY.md §5: the reference asserts
exact *emission sequences* for stateful stages — TestGroup.java:25-28).

Micro-batch boundaries are made deterministic with a file source +
``maxFilesPerTrigger=1`` + ``availableNow`` trigger: each input file becomes
one micro-batch, ordered by file modification time, so emission sequences
are reproducible.  The foreachBatch sink collects per-epoch outputs for
assertion — the streaming analog of the reference's output-list collector
(Base.java:68-97)."""

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pincette_mongo_streams_spark import Context
from pincette_mongo_streams_spark.streaming.runtime import run_streaming


def _write_batches(dirpath: str, batches: list[list[dict]]) -> None:
    """One JSON file per micro-batch, mtimes strictly increasing so the
    file source processes them in order."""
    os.makedirs(dirpath, exist_ok=True)
    base = time.time() - len(batches) * 10
    for i, docs in enumerate(batches):
        path = os.path.join(dirpath, f"batch{i}.json")
        with open(path, "w") as f:
            for doc in docs:
                f.write(json.dumps(doc) + "\n")
        os.utime(path, (base + i * 10, base + i * 10))


def _run(spark, tmpdir, schema, batches, pipeline, ctx=None, **kw):
    """Run `pipeline` over the batches as a stream; return the list of
    per-epoch emission lists (each a list of row dicts)."""
    in_dir = os.path.join(tmpdir, "in")
    ckpt = os.path.join(tmpdir, "ckpt")
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    _write_batches(in_dir, batches)
    source = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in_dir)
    )
    emissions: list[list[dict]] = []

    def sink(batch_df, epoch):
        rows = [r.asDict(recursive=True) for r in batch_df.collect()]
        emissions.append(rows)

    ctx = ctx or Context(spark=spark)
    q = run_streaming(
        source,
        pipeline,
        ctx,
        sink,
        trigger={"availableNow": True},
        checkpoint=ckpt,
        **kw,
    )
    q.awaitTermination(120)
    return emissions


@pytest.fixture
def tmpdir(tmp_path):
    return str(tmp_path)


def test_group_update_mode_emits_changed_groups(spark, tmpdir):
    """$group in streaming = update output mode: each micro-batch emits the
    full current doc of every group touched in that batch, and only those
    (Group.java:423-430 per-message emission, coarsened to per-micro-batch —
    the documented granularity deviation in SURVEY.md §2.4)."""
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [{"k": "a", "v": 1}, {"k": "b", "v": 2}],
        [{"k": "a", "v": 3}],  # only group a changes
    ]
    pipeline = [{"$group": {"_id": "$k", "total": {"$sum": "$v"}}}]
    emissions = _run(spark, tmpdir, schema, batches, pipeline)
    assert len(emissions) == 2
    first = sorted(emissions[0], key=lambda r: r["_id"])
    assert first == [{"_id": "a", "total": 1}, {"_id": "b", "total": 2}]
    # second batch: only the changed group, with its FULL updated state
    assert emissions[1] == [{"_id": "a", "total": 4}]


def test_bucket_streaming_incremental(spark, tmpdir):
    """$bucket desugars to $group+$switch and inherits update-mode
    emission: each micro-batch re-emits only the touched buckets with
    their full accumulator state (TestBucket.java:44-57 asserts the
    incremental sequence per input)."""
    schema = T.StructType([T.StructField("v", T.LongType())])
    batches = [
        [{"v": 1}, {"v": 15}],   # buckets 0 and 10
        [{"v": 3}],              # only bucket 0 changes
    ]
    pipeline = [{"$bucket": {"groupBy": "$v", "boundaries": [0, 10, 20],
                             "output": {"n": {"$sum": 1}}}}]
    emissions = _run(spark, tmpdir, schema, batches, pipeline)
    assert len(emissions) == 2
    first = sorted(emissions[0], key=lambda r: r["_id"])
    assert first == [{"_id": 0, "n": 1}, {"_id": 10, "n": 1}]
    assert emissions[1] == [{"_id": 0, "n": 2}]


def test_count_streaming_running_total(spark, tmpdir):
    """$count emits the running count as input arrives (TestCount.java:23-25
    outputs 1 then 2)."""
    schema = T.StructType([T.StructField("v", T.LongType())])
    batches = [[{"v": 1}], [{"v": 2}], [{"v": 3}]]
    pipeline = [{"$count": "n"}]
    emissions = _run(spark, tmpdir, schema, batches, pipeline)
    counts = [rows[0]["n"] for rows in emissions if rows]
    assert counts == [1, 2, 3]


def test_deduplicate_state_spans_micro_batches(spark, tmpdir):
    """$deduplicate keeps state in the state store: a value seen in batch 1
    is dropped in batch 2 (the reference's Mongo collection layer,
    Deduplicate.java:118-139)."""
    schema = T.StructType(
        [T.StructField("_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [{"_id": "m1", "v": 10}, {"_id": "m2", "v": 20}],
        [{"_id": "m3", "v": 10}, {"_id": "m4", "v": 30}],  # 10 is a dup
    ]
    pipeline = [{"$deduplicate": "$v"}]
    emissions = _run(spark, tmpdir, schema, batches, pipeline)
    flat = [r["v"] for rows in emissions for r in rows]
    assert sorted(flat) == [10, 20, 30]
    # batch 2 emitted only the unseen value
    assert [r["v"] for r in emissions[1]] == [30]


def test_stateless_append_mode(spark, tmpdir):
    """$match/$addFields fold into the streaming plan (append mode), one
    emission per batch with the transform applied."""
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [{"k": "keep", "v": 1}, {"k": "drop", "v": 2}],
        [{"k": "keep", "v": 3}],
    ]
    pipeline = [
        {"$match": {"k": "keep"}},
        {"$addFields": {"doubled": {"$multiply": ["$v", 2]}}},
    ]
    emissions = _run(spark, tmpdir, schema, batches, pipeline)
    assert [r["doubled"] for r in emissions[0]] == [2]
    assert [r["doubled"] for r in emissions[1]] == [6]


def test_send_routes_and_drops_in_stream(spark, tmpdir):
    """$send runs inside foreachBatch: rows with a resolvable topic go to
    the producer and leave the stream (Send.java:36-68)."""
    schema = T.StructType(
        [T.StructField("t", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [{"t": "topic-a", "v": 1}, {"t": None, "v": 2}],
        [{"t": "topic-b", "v": 3}],
    ]
    sent: list[tuple] = []
    ctx = Context(spark=spark, producer=lambda t, k, v: sent.append((t, v["v"])))
    pipeline = [{"$send": {"topic": "$t"}}]
    emissions = _run(spark, tmpdir, schema, batches, pipeline, ctx=ctx)
    assert sorted(sent) == [("topic-a", 1), ("topic-b", 3)]
    # only the unroutable row survives the stream
    flat = [r["v"] for rows in emissions for r in rows]
    assert flat == [2]


def test_group_then_match_on_aggregate(spark, tmpdir):
    """Post-aggregation stages run per emission on the updated groups."""
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [{"k": "a", "v": 5}, {"k": "b", "v": 1}],
        [{"k": "b", "v": 9}],
    ]
    pipeline = [
        {"$group": {"_id": "$k", "total": {"$sum": "$v"}}},
        {"$match": {"total": {"$gte": 5}}},
    ]
    emissions = _run(spark, tmpdir, schema, batches, pipeline)
    assert [r["_id"] for r in emissions[0]] == ["a"]  # b=1 filtered
    assert emissions[1] == [{"_id": "b", "total": 10}]


def test_window_group_event_time_stream(spark, tmpdir):
    """$windowGroup is the event-time superset (SURVEY.md §1 'Time'): with a
    watermark, late data beyond the threshold is dropped and window state is
    evicted; update mode emits per-batch window states."""
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [{"ts": "2024-01-01T00:05:00Z", "v": 1}, {"ts": "2024-01-01T00:20:00Z", "v": 2}],
        [{"ts": "2024-01-01T01:10:00Z", "v": 4}, {"ts": "2024-01-01T00:40:00Z", "v": 8}],
    ]
    pipeline = [
        {"$windowGroup": {"on": "$ts", "duration": "1 hour",
                          "total": {"$sum": "$v"}}},
    ]
    emissions = _run(
        spark, tmpdir, schema, batches, pipeline, watermark=("ts", "2 hours")
    )
    # batch 1: hour-0 window = 3; batch 2 updates hour-0 (+8) and hour-1 (+4)
    assert [r["total"] for r in emissions[0]] == [3]
    got = {(r["window_start"].hour, r["total"]) for r in emissions[1]}
    assert got == {(0, 11), (1, 4)}


def test_per_packs_across_micro_batches(spark, tmpdir):
    """$per in streaming keeps sub-amount remainders in the state store and
    completes them with the next micro-batch's messages (the reference
    buffers until `amount` arrive — Per.java:27-49)."""
    schema = T.StructType([T.StructField("v", T.LongType())])
    batches = [
        [{"v": 1}, {"v": 2}, {"v": 3}],  # one full chunk, 1 left over
        [{"v": 4}],                        # completes the carried chunk
    ]
    pipeline = [{"$per": {"amount": 2, "as": "msgs"}}]
    emissions = _run(spark, tmpdir, schema, batches, pipeline)
    packs = [[d["v"] for d in r["msgs"]] for rows in emissions for r in rows]
    assert sorted(map(sorted, packs)) == [[1, 2], [3, 4]]


def test_merge_accumulates_target_across_batches(spark, tmpdir):
    """$merge inside foreachBatch: each micro-batch upserts into the target
    collection; state accumulates across batches (the reference's Mongo
    upsert layer — Merge.java:151-180)."""
    schema = T.StructType(
        [T.StructField("_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [{"_id": "a", "v": 1}, {"_id": "b", "v": 2}],
        [{"_id": "a", "v": 10}, {"_id": "c", "v": 3}],  # update a, insert c
    ]
    target = spark.createDataFrame([], "_id string, v long")
    ctx = Context(spark=spark, collections={"tgt": target})
    pipeline = [{"$merge": {"into": "tgt", "on": "_id",
                            "whenMatched": "replace",
                            "whenNotMatched": "insert"}}]
    _run(spark, tmpdir, schema, batches, pipeline, ctx=ctx)
    final = {r["_id"]: r["v"] for r in ctx.collections["tgt"].collect()}
    assert final == {"a": 10, "b": 2, "c": 3}


def test_suppress_unchanged_emissions(spark, tmpdir):
    """Reference emission protocol (Group.java:176-186): a batch that
    touches a group without changing its value emits nothing — TestGroup's
    "$group $max" sends 4 inputs and emits 3."""
    schema = T.StructType([T.StructField("v", T.LongType())])
    batches = [[{"v": 1}], [{"v": 4}], [{"v": 2}], [{"v": 4}]]  # 2,4 lose
    pipeline = [{"$group": {"_id": None, "mx": {"$max": "$v"}}}]
    emissions = _run(
        spark, tmpdir, schema, batches, pipeline, suppress_unchanged=True
    )
    seq = [r["mx"] for rows in emissions for r in rows]
    assert seq == [1, 4]  # batches 3 and 4 don't change the max


def test_batch_only_stage_rejected_by_run_streaming(spark, tmpdir):
    """run_streaming must reject batch-only stages up front — the
    foreachBatch split would otherwise run them per micro-batch with
    unbounded totals ($limit 10 per batch != $limit 10)."""
    schema = T.StructType([T.StructField("v", T.LongType())])
    in_dir = os.path.join(tmpdir, "in")
    _write_batches(in_dir, [[{"v": 1}]])
    source = spark.readStream.schema(schema).json(in_dir)
    with pytest.raises(ValueError, match="batch-only"):
        run_streaming(source, [{"$limit": 10}], Context(spark=spark),
                      sink=lambda df, e: None)


def test_suppress_unchanged_requires_id(spark, tmpdir):
    """Without a group key, suppression would swallow distinct events
    with equal values — rejected."""
    schema = T.StructType([T.StructField("v", T.LongType())])
    batches = [[{"v": 1}], [{"v": 1}]]
    pipeline = [{"$project": {"v": 1}}]
    with pytest.raises(Exception, match="_id"):
        _run(spark, tmpdir, schema, batches, pipeline, suppress_unchanged=True)


def test_per_carries_timestamps_and_nulls(spark, tmpdir):
    """$per state round-trip preserves timestamp columns and nullable
    longs (pandas turns nullable long into float64+NaN; the codec must
    restore both)."""
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ])
    batches = [
        [{"ts": "2024-01-01T00:00:01Z", "v": 1},
         {"ts": "2024-01-01T00:00:02Z", "v": None},
         {"ts": "2024-01-01T00:00:03Z", "v": 3}],
        [{"ts": "2024-01-01T00:00:04Z", "v": 4}],
    ]
    pipeline = [{"$per": {"amount": 2, "as": "msgs"}}]
    emissions = _run(spark, tmpdir, schema, batches, pipeline)
    packs = [[(d["ts"], d["v"]) for d in r["msgs"]]
             for rows in emissions for r in rows]
    flat = [x for p in packs for x in p]
    assert len(flat) == 4
    assert sorted(v for _, v in flat if v is not None) == [1, 3, 4]
    assert sum(1 for _, v in flat if v is None) == 1
    assert all(ts is not None and ts.year == 2024 for ts, _ in flat)


def test_deduplicate_within_watermark_bounds_state(spark, tmpdir):
    """With a watermark configured, $deduplicate compiles to
    dropDuplicatesWithinWatermark: duplicates inside the delay are
    dropped, and the state store is bounded by the watermark instead of
    growing forever (the reference's TTL-index advice,
    Pipeline.java:74-81)."""
    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ])
    batches = [
        [{"_id": "m1", "ts": "2024-01-01T00:00:00", "v": 10},
         {"_id": "m2", "ts": "2024-01-01T00:00:05", "v": 10},   # dup in delay
         {"_id": "m3", "ts": "2024-01-01T00:00:10", "v": 20}],
        [{"_id": "m4", "ts": "2024-01-01T00:00:20", "v": 10}],  # still in delay
    ]
    pipeline = [{"$deduplicate": "$v"}]
    emissions = _run(
        spark, tmpdir, schema, batches, pipeline,
        watermark=("ts", "10 minutes"),
    )
    flat = sorted(r["v"] for rows in emissions for r in rows)
    assert flat == [10, 20]


def test_deduplicate_watermark_survives_dropped_event_time(spark, tmpdir):
    """ADVICE r1: if an upstream $unset dropped the event-time column, the
    stream no longer carries the watermark — $deduplicate must fall back
    to plain dropDuplicates instead of raising AnalysisException."""
    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ])
    batches = [
        [{"_id": "m1", "ts": "2024-01-01T00:00:00", "v": 10},
         {"_id": "m2", "ts": "2024-01-01T00:00:05", "v": 10}],
        [{"_id": "m3", "ts": "2024-01-01T00:00:10", "v": 20}],
    ]
    pipeline = [{"$unset": "ts"}, {"$deduplicate": "$v"}]
    emissions = _run(
        spark, tmpdir, schema, batches, pipeline,
        watermark=("ts", "10 minutes"),
    )
    flat = sorted(r["v"] for rows in emissions for r in rows)
    assert flat == [10, 20]


def test_suppress_unchanged_state_survives_restart(spark, tmpdir):
    """r3: with a checkpoint location, the suppress_unchanged last-emission
    snapshot persists to <ckpt>/suppress_state and reloads on restart, so
    a restarted query does not re-emit unchanged groups (the reference
    durably stores group state in Mongo — Group.java:173-186)."""
    schema = T.StructType([T.StructField("v", T.LongType())])
    in_dir = os.path.join(tmpdir, "in")
    ckpt = os.path.join(tmpdir, "ckpt")
    pipeline = [{"$group": {"_id": None, "mx": {"$max": "$v"}}}]
    _write_batches(in_dir, [[{"v": 5}], [{"v": 2}]])

    def start(sink):
        source = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(in_dir))
        q = run_streaming(source, pipeline, Context(spark=spark), sink,
                          trigger={"availableNow": True}, checkpoint=ckpt,
                          suppress_unchanged=True)
        q.awaitTermination(120)

    first: list = []
    start(lambda df, e: first.extend(r.asDict() for r in df.collect()))
    assert [r["mx"] for r in first] == [5]
    # "restart": a NEW query on the same checkpoint; the added batch
    # touches the group but does not change the max
    path = os.path.join(in_dir, "batch2.json")
    with open(path, "w") as f:
        f.write(json.dumps({"v": 3}) + "\n")
    second: list = []
    start(lambda df, e: second.extend(r.asDict() for r in df.collect()))
    # without the persisted snapshot the restarted query would re-emit
    # {_id: null, mx: 5} for the touched-but-unchanged group
    assert second == []
    # and a genuine change after restart still emits
    path = os.path.join(in_dir, "batch3.json")
    with open(path, "w") as f:
        f.write(json.dumps({"v": 9}) + "\n")
    third: list = []
    start(lambda df, e: third.extend(r.asDict() for r in df.collect()))
    assert [r["mx"] for r in third] == [9]


def test_suppress_state_is_incremental(spark, tmpdir):
    """r4: the suppress-state store appends only each batch's fresh
    emissions — a batch that changes nothing writes NOTHING to the state
    dir (no per-batch full-state rewrite), and the delta files survive
    reload with latest-per-key semantics."""
    schema = T.StructType([T.StructField("k", T.StringType()),
                           T.StructField("v", T.LongType())])
    in_dir = os.path.join(tmpdir, "in")
    ckpt = os.path.join(tmpdir, "ckpt")
    state_dir = os.path.join(ckpt, "suppress_state")
    pipeline = [{"$group": {"_id": "$k", "mx": {"$max": "$v"}}}]
    _write_batches(in_dir, [[{"k": "a", "v": 5}, {"k": "b", "v": 1}]])

    def start(sink):
        source = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(in_dir))
        q = run_streaming(source, pipeline, Context(spark=spark), sink,
                          trigger={"availableNow": True}, checkpoint=ckpt,
                          suppress_unchanged=True)
        q.awaitTermination(120)

    def state_files():
        return sorted(
            (f, os.path.getmtime(os.path.join(state_dir, f)))
            for f in os.listdir(state_dir) if f.endswith(".parquet"))

    got: list = []
    start(lambda df, e: got.extend(r.asDict() for r in df.collect()))
    assert sorted((r["_id"], r["mx"]) for r in got) == [("a", 5), ("b", 1)]
    before = state_files()
    assert before, "first batch must persist its delta"
    # batch 2 touches group a without changing it: NO state write at all
    with open(os.path.join(in_dir, "b2.json"), "w") as f:
        f.write(json.dumps({"k": "a", "v": 3}) + "\n")
    got2: list = []
    start(lambda df, e: got2.extend(r.asDict() for r in df.collect()))
    assert got2 == []
    assert state_files() == before, "unchanged batch rewrote state files"
    # batch 3 changes ONLY group b: exactly the changed key appends (the
    # existing files for batch 1 are untouched)
    with open(os.path.join(in_dir, "b3.json"), "w") as f:
        f.write(json.dumps({"k": "b", "v": 7}) + "\n")
    got3: list = []
    start(lambda df, e: got3.extend(r.asDict() for r in df.collect()))
    assert [(r["_id"], r["mx"]) for r in got3] == [("b", 7)]
    after = state_files()
    assert set(dict(before)) <= set(dict(after)), "old delta files rewritten"
    assert len(after) > len(before)
    # reload semantics: latest-per-key — another unchanged batch stays
    # suppressed for BOTH keys (a from delta 1, b from delta 3)
    with open(os.path.join(in_dir, "b4.json"), "w") as f:
        f.write(json.dumps({"k": "a", "v": 5}) + "\n")
        f.write(json.dumps({"k": "b", "v": 7}) + "\n")
    got4: list = []
    start(lambda df, e: got4.extend(r.asDict() for r in df.collect()))
    assert got4 == []


def test_suppress_state_compaction(spark, tmpdir):
    """After _COMPACT_EVERY deltas the state compacts to one snapshot:
    emissions stay correct across the compaction boundary and the state
    dir does not grow without bound."""
    from pincette_mongo_streams_spark.streaming import runtime as rt

    schema = T.StructType([T.StructField("v", T.LongType())])
    in_dir = os.path.join(tmpdir, "in")
    ckpt = os.path.join(tmpdir, "ckpt")
    state_dir = os.path.join(ckpt, "suppress_state")
    pipeline = [{"$group": {"_id": None, "mx": {"$max": "$v"}}}]
    old = rt._COMPACT_EVERY
    rt._COMPACT_EVERY = 3
    try:
        _write_batches(in_dir, [[{"v": 1}]])
        emitted: list = []

        def start():
            source = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).json(in_dir))
            q = run_streaming(source, pipeline, Context(spark=spark),
                              lambda df, e: emitted.extend(
                                  r.asDict() for r in df.collect()),
                              trigger={"availableNow": True},
                              checkpoint=ckpt, suppress_unchanged=True)
            q.awaitTermination(120)

        start()
        for i, v in enumerate((2, 3, 4, 5, 6)):  # 5 more changing batches
            with open(os.path.join(in_dir, f"c{i}.json"), "w") as f:
                f.write(json.dumps({"v": v}) + "\n")
            start()
        assert [r["mx"] for r in emitted] == [1, 2, 3, 4, 5, 6]
        # 6 changing batches with compact-every-3 => the dir holds far
        # fewer than 6 epochs' worth of files
        import pyspark.sql.functions as F
        raw = spark.read.parquet(state_dir)
        assert raw.select("__epoch").distinct().count() <= 3
        # and a post-compaction restart still suppresses unchanged
        with open(os.path.join(in_dir, "c9.json"), "w") as f:
            f.write(json.dumps({"v": 2}) + "\n")  # loses vs 6
        n_before = len(emitted)
        start()
        assert len(emitted) == n_before
    finally:
        rt._COMPACT_EVERY = old


def test_session_window_stream(spark, tmpdir):
    """r3: $sessionWindow folds into the streaming plan (native
    session_window state); events 5s apart merge into one session with a
    10s gap, a >10s silence then a new event opens a second session."""
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ])
    batches = [
        [{"k": "a", "ts": "2024-01-01 00:00:00", "v": 1},
         {"k": "a", "ts": "2024-01-01 00:00:05", "v": 2}],
        [{"k": "a", "ts": "2024-01-01 00:01:00", "v": 10}],
        # append mode emits a session only after the watermark passes its
        # close: this flush event advances the watermark beyond session 2
        # (and itself stays open/unemitted when the stream drains)
        [{"k": "z", "ts": "2024-01-01 00:10:00", "v": 0}],
    ]
    pipeline = [{"$sessionWindow": {"on": "$ts", "gap": "10 seconds",
                                    "_id": "$k",
                                    "n": {"$count": {}},
                                    "total": {"$sum": "$v"}}}]
    emissions = _run(spark, tmpdir, schema, batches, pipeline,
                     watermark=("ts", "0 seconds"))
    rows = sorted((r["_id"], r["n"], r["total"])
                  for batch in emissions for r in batch)
    assert ("a", 2, 3) in rows, rows       # first session: both events
    assert ("a", 1, 10) in rows, rows      # second session after the gap
    assert ("z", 1, 0) not in rows, rows   # open session not yet emitted


def test_suppress_state_persists_after_sink_not_before(spark, tmpdir):
    """r3 review fix: the durable suppress-state snapshot is written
    AFTER the sink call — a sink failure replays the batch and re-emits
    (at-least-once) instead of marking rows as already-emitted before
    the sink ever saw them (silent loss)."""
    schema = T.StructType([T.StructField("v", T.LongType())])
    in_dir = os.path.join(tmpdir, "in")
    ckpt = os.path.join(tmpdir, "ckpt")
    pipeline = [{"$group": {"_id": None, "mx": {"$max": "$v"}}}]
    _write_batches(in_dir, [[{"v": 5}]])

    def failing_sink(batch_df, epoch):
        batch_df.collect()
        raise RuntimeError("sink down")

    source = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    q = run_streaming(source, pipeline, Context(spark=spark), failing_sink,
                      trigger={"availableNow": True}, checkpoint=ckpt,
                      suppress_unchanged=True)
    with pytest.raises(Exception, match="sink down"):
        q.awaitTermination(120)
        q.processAllAvailable()
    # restart with a working sink: the failed batch replays and the
    # emission arrives (it would be suppressed if state preceded sink)
    got: list = []
    source2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).json(in_dir))
    q2 = run_streaming(source2, pipeline, Context(spark=spark),
                       lambda df, e: got.extend(
                           r.asDict() for r in df.collect()),
                       trigger={"availableNow": True}, checkpoint=ckpt,
                       suppress_unchanged=True)
    q2.awaitTermination(120)
    assert [r["mx"] for r in got] == [5]


def test_asof_join_per_micro_batch_stream_static(spark, tmpdir):
    """$asOfJoin runs inside foreachBatch as a stream-static enrichment:
    each micro-batch's rows match against the static right side exactly as
    in batch mode (per-batch semantics — the right side is static, so the
    union across batches equals the batch result)."""
    quotes = spark.createDataFrame(
        [(0, "A", 9.5), (3, "A", 10.5), (6, "A", 11.5)],
        "t long, sym string, bid double",
    )
    ctx = Context(spark=spark, collections={"q": quotes})
    pipeline = [
        {"$asOfJoin": {"from": "q", "on": "sym", "leftTime": "$t",
                       "rightTime": "$t", "as": "m"}},
        {"$project": {"t": 1, "sym": 1, "bid": "$m.bid"}},
    ]
    emissions = _run(
        spark, tmpdir, "t long, sym string, px double",
        [
            [{"t": 1, "sym": "A", "px": 10.0}, {"t": 4, "sym": "A", "px": 10.1}],
            [{"t": 7, "sym": "A", "px": 10.2}],
        ],
        pipeline, ctx=ctx,
    )
    flat = sorted(
        (r["t"], r["bid"]) for batch in emissions for r in batch
    )
    assert flat == [(1, 9.5), (4, 10.5), (7, 11.5)]


def test_group_per_message_emission(spark, tmpdir):
    """emission="per_message": the applyInPandasWithState parity mode
    emits one group doc per state-CHANGING input message — a losing max
    candidate emits nothing, matching the reference per-message protocol
    (Group.java:176-186,423-430) instead of per-micro-batch update mode."""
    pipeline = [{"$group": {"_id": "$k", "mx": {"$max": "$v"}}}]
    emissions = _run(
        spark, tmpdir, "k string, v long",
        [
            [{"k": "a", "v": 5}],
            # one loses vs 5, one wins: exactly ONE emission regardless of
            # in-batch arrival order
            [{"k": "a", "v": 3}, {"k": "a", "v": 7}],
            [{"k": "a", "v": 6}, {"k": "b", "v": 1}],  # a unchanged; b new
        ],
        pipeline, emission="per_message",
    )
    flat = [(r["_id"], r["mx"]) for batch in emissions for r in batch]
    assert [e for e in flat if e[0] == "a"] == [("a", 5), ("a", 7)]
    assert [e for e in flat if e[0] == "b"] == [("b", 1)]


def test_group_per_message_multi_accumulators(spark, tmpdir):
    """sum/count/avg/push state survives across micro-batches; every row
    emits when any accumulator value changes."""
    pipeline = [{"$group": {
        "_id": "$k", "total": {"$sum": "$v"}, "n": {"$count": {}},
        "avg": {"$avg": "$v"}, "vals": {"$push": "$v"},
    }}]
    emissions = _run(
        spark, tmpdir, "k string, v long",
        [[{"k": "a", "v": 2}], [{"k": "a", "v": 4}]],
        pipeline, emission="per_message",
    )
    flat = [r for batch in emissions for r in batch if r["_id"] == "a"]
    assert [(r["total"], r["n"], r["avg"], r["vals"]) for r in flat] == [
        (2, 1, 2.0, [2]), (6, 2, 3.0, [2, 4]),
    ]


def test_group_per_message_merge_objects_stddev(spark, tmpdir):
    """$mergeObjects and $stdDevPop complete the reference's accumulator
    registry in per-message mode (Group.java:107-117; running sigma
    formula Group.java:437-449).  State survives across micro-batches."""
    pipeline = [{"$group": {
        "_id": "$k",
        "m": {"$mergeObjects": {"x": "$x", "y": "$y"}},
        "sd": {"$stdDevPop": "$v"},
    }}]
    emissions = _run(
        spark, tmpdir, "k string, v double, x long, y string",
        [
            [{"k": "a", "v": 2.0, "x": 1, "y": None}],
            [{"k": "a", "v": 4.0, "x": None, "y": "b"}],
        ],
        pipeline, emission="per_message",
    )
    flat = [r for batch in emissions for r in batch if r["_id"] == "a"]
    assert [r["sd"] for r in flat] == [0.0, 1.0]
    as_dict = lambda m: m if isinstance(m, dict) else m.asDict()
    assert as_dict(flat[0]["m"]) == {"x": 1, "y": None}
    # later docs overwrite per-field; the merged object accumulates
    assert as_dict(flat[1]["m"]) == {"x": None, "y": "b"}


def test_group_per_message_numeric_accs_ignore_nonnumeric(spark, tmpdir):
    """$sum/$avg/$stdDevPop ignore non-numeric inputs (reference
    Group.numbers()) — a string column must not crash the streaming
    query, it just never changes the numeric state."""
    pipeline = [{"$group": {
        "_id": "$k", "t": {"$sum": "$name"}, "a": {"$avg": "$name"},
        "sd": {"$stdDevPop": "$name"}, "mx": {"$max": "$name"},
    }}]
    emissions = _run(
        spark, tmpdir, "k string, name string",
        [[{"k": "a", "name": "x"}], [{"k": "a", "name": "z"}]],
        pipeline, emission="per_message",
    )
    flat = [r for batch in emissions for r in batch]
    # first message creates the group (first-emission rule); z then
    # changes only $max
    assert [(r["t"], r["a"], r["sd"], r["mx"]) for r in flat] == [
        (0, None, None, "x"), (0, None, None, "z")]


def test_group_per_message_first_emission_at_init_value(spark, tmpdir):
    """A brand-new group key emits its first group doc even when the first
    message leaves every accumulator at its initial value ($sum over a
    null field stays 0) — the reference has no prior emission to diff
    against and emits the newly created group document."""
    pipeline = [{"$group": {"_id": "$k", "t": {"$sum": "$missing"}}}]
    emissions = _run(
        spark, tmpdir, "k string, v long",
        [
            [{"k": "a", "v": 1}],   # creates key a: must emit t=0
            [{"k": "a", "v": 2}],   # nothing changes: no emission
        ],
        pipeline, emission="per_message",
    )
    flat = [(r["_id"], r["t"]) for batch in emissions for r in batch]
    assert flat == [("a", 0)]


def test_group_per_message_object_and_array_keys(spark, tmpdir):
    """Object group keys group on the canonical JSON rendering and the
    emitted _id is the rebuilt struct; array group keys never emit
    (reference hasId filter, Group.java:261-263,429)."""
    pipeline = [{"$group": {"_id": {"a": "$a", "b": "$b"},
                            "n": {"$count": {}}}}]
    emissions = _run(
        spark, tmpdir, "a string, b long, v long",
        [
            [{"a": "x", "b": 1, "v": 1}, {"a": "x", "b": 1, "v": 2}],
            [{"a": "x", "b": 2, "v": 3}, {"a": None, "b": 1, "v": 4}],
        ],
        pipeline, emission="per_message",
    )
    flat = [((r["_id"]["a"] or "", r["_id"]["b"]), r["n"])
            for batch in emissions for r in batch]
    assert sorted(flat) == [
        (("", 1), 1), (("x", 1), 1), (("x", 1), 2), (("x", 2), 1)]
    # array _id: zero emissions, stream still runs
    emissions2 = _run(
        spark, tmpdir + "-arr", "a string, v long",
        [[{"a": "x", "v": 1}]],
        [{"$group": {"_id": ["$a", "$a"], "n": {"$count": {}}}}],
        emission="per_message",
    )
    assert [r for batch in emissions2 for r in batch] == []


def test_group_per_message_rejects_nonatomic_and_combo(spark, tmpdir):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="redundant"):
        _run(spark, tmpdir, "k string, v long",
             [[{"k": "a", "v": 1}]],
             [{"$group": {"_id": "$k", "mx": {"$max": "$v"}}}],
             emission="per_message", suppress_unchanged=True)
    with _pytest.raises(ValueError, match="\\$group"):
        _run(spark, tmpdir, "k string, v long",
             [[{"k": "a", "v": 1}]],
             [{"$project": {"k": 1}}], emission="per_message")


def test_group_per_message_state_survives_restart(spark, tmpdir):
    """applyInPandasWithState state lives in the checkpointed state
    store: a NEW query over the SAME checkpoint continues accumulating
    where the stopped one left off (no re-emission, no reset counts)."""
    import json as _json
    import os

    in_dir = os.path.join(tmpdir, "in")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(in_dir, exist_ok=True)
    pipeline = [{"$group": {"_id": "$k", "n": {"$count": {}},
                            "mx": {"$max": "$v"}}}]
    emissions = []

    def sink(batch_df, epoch):
        emissions.extend(
            r.asDict() for r in batch_df.collect()
        )

    def write_batch(i, rows):
        with open(os.path.join(in_dir, f"b{i}.json"), "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")
        os.utime(os.path.join(in_dir, f"b{i}.json"),
                 (1_700_000_000 + i, 1_700_000_000 + i))

    def run_once():
        source = (
            spark.readStream.schema("k string, v long")
            .option("maxFilesPerTrigger", 1).json(in_dir)
        )
        q = run_streaming(
            source, pipeline, Context(spark=spark), sink,
            trigger={"availableNow": True}, checkpoint=ckpt,
            emission="per_message",
        )
        q.awaitTermination(120)

    write_batch(0, [{"k": "a", "v": 5}, {"k": "a", "v": 9}])
    run_once()   # first query: n=1 (mx 5), n=2 (mx 9)
    first = list(emissions)
    assert [(r["n"], r["mx"]) for r in first] == [(1, 5), (2, 9)]

    write_batch(1, [{"k": "a", "v": 7}])   # loses on max, but n changes
    run_once()   # RESTARTED query, same checkpoint
    tail = emissions[len(first):]
    # continues from n=2 / mx=9 — no reset, no replay of batch 0
    assert [(r["n"], r["mx"]) for r in tail] == [(3, 9)]


def test_atlas_stages_batch_only(spark):
    """$vectorSearch/$search/$searchMeta/$geoNear are batch-only
    (global sort / corpus-wide aggregation shapes): a streaming context
    raises the same clear error as $sort instead of a raw Spark
    unsupported-operation failure."""
    import pytest

    from pincette_mongo_streams_spark import Context, compile_pipeline

    sdf = (spark.readStream.format("rate").option("rowsPerSecond", 1)
           .load().selectExpr("value as id",
                              "array(1.0, 0.0) as emb",
                              "'x' as t",
                              "array(0.0, 0.0) as loc"))
    ctx = Context(spark=spark, streaming=True)
    for pipeline in (
        [{"$vectorSearch": {"path": "emb", "queryVector": [1.0, 0.0],
                            "limit": 1}}],
        [{"$search": {"exists": {"path": "t"}}}],
        [{"$searchMeta": {"exists": {"path": "t"}}}],
        [{"$geoNear": {"near": [0.0, 0.0], "distanceField": "d",
                       "key": "loc"}}],
    ):
        with pytest.raises(ValueError, match="batch-only"):
            compile_pipeline(pipeline, ctx)(sdf)


def test_curation_family_streams(spark, tmpdir):
    """The row-local curation operators ($langId/$qualityScore/
    $tokenCount/$entropyScore/$piiStats/$htmlStrip/$scrubText/
    $fingerprint) are pure column programs, so the SAME pipeline runs
    unchanged under Structured Streaming — the training-data filter
    chain works on a live feed, not just in batch."""
    schema = "doc_id long, text string"
    batches = [
        [{"doc_id": 1, "text": "the quick brown fox jumps over a lazy dog"},
         {"doc_id": 2, "text": "aaaa aaaa aaaa aaaa"}],
        [{"doc_id": 3, "text": "mail a@b.co about <b>bold</b> moves"}],
    ]
    out = _run(
        spark, str(tmpdir), schema, batches,
        [
            {"$entropyScore": {"input": "$text", "as": "ent"}},
            {"$piiStats": {"input": "$text", "as": "pii"}},
            {"$htmlStrip": {"input": "$text", "as": "html"}},
            {"$gopherRules": {"input": "$text", "as": "g",
                              "minWords": 5, "minStopWords": 1}},
            {"$readability": {"input": "$text", "as": "rd"}},
            {"$tokenCount": {"input": "$text", "as": "n_tok",
                             "mode": "whitespace"}},
            {"$project": {"doc_id": 1, "ent": 1, "n_tok": 1,
                          "emails": "$pii.email",
                          "n_tags": "$html.n_tags",
                          "g_pass": "$g.pass",
                          "g_words": "$g.n_words",
                          "rd_words": "$rd.n_words",
                          "rd_flesch": "$rd.flesch"}},
        ],
    )
    rows = {r["doc_id"]: r for e in out for r in e}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["ent"] > rows[2]["ent"]  # varied text > repeated text
    assert rows[3]["emails"] == 1 and rows[3]["n_tags"] == 2
    assert rows[1]["n_tok"] == 9
    assert rows[1]["g_pass"] is True and rows[1]["g_words"] == 9
    assert rows[2]["g_pass"] is False  # no stop words in "aaaa ..."
    assert rows[1]["rd_words"] == 9 and rows[1]["rd_flesch"] is not None


def test_eval_family_streaming_parity(spark, tmpdir):
    """r9 (verdict item 6): the eval family — $bleu/$rougeL in both
    scalar- and multi-reference form, $ngramOverlap with its r8
    maxWords cap — is row-local and streams UNCHANGED: the same
    pipeline over the same rows produces value-identical results in
    batch and under foreachBatch, per the r6 corpus-signal pattern."""
    docs = [
        {"doc_id": 1, "text": "the cat sat on the mat near the cat"},
        {"doc_id": 2, "text": "a b c d e f g h i j k l"},
        {"doc_id": 3, "text": "one two three two one two"},
        {"doc_id": 4, "text": None},
    ]
    schema = "doc_id long, text string"
    pipeline = [
        {"$truncateTokens": {"input": "$text", "as": "cand", "max": 5}},
        {"$truncateTokens": {"input": "$text", "as": "p3", "max": 3}},
        {"$set": {"ref2": {"$concat": ["$p3", " ", "$p3"]}}},
        {"$bleu": {"candidate": "$cand", "reference": "$text",
                   "maxN": 2, "smooth": "add1", "as": "b1"}},
        {"$bleu": {"candidate": "$cand",
                   "references": ["$text", "$ref2"],
                   "maxN": 2, "smooth": "add1", "as": "bm"}},
        {"$rougeL": {"candidate": "$cand", "reference": "$text",
                     "as": "r1"}},
        {"$rougeL": {"candidate": "$cand",
                     "references": ["$text", "$p3"], "as": "rm"}},
        {"$ngramOverlap": {"candidate": "$text", "reference": "$cand",
                           "n": 2, "maxWords": 6, "as": "ov"}},
        {"$chrf": {"candidate": "$cand", "reference": "$text",
                   "as": "ch"}},
        # r10: the multi-reference forms stream unchanged too
        {"$chrf": {"candidate": "$cand",
                   "references": ["$text", "$ref2"], "maxN": 3,
                   "as": "chm"}},
        {"$wer": {"candidate": "$cand", "reference": "$text",
                  "as": "w1"}},
        {"$wer": {"candidate": "$cand",
                  "references": ["$text", "$p3"], "as": "wm"}},
        {"$qaEval": {"prediction": "$cand", "answers": ["$text", "$p3"],
                     "as": "qa"}},
        # r11: $ter (scalar + multi-reference) streams unchanged too —
        # row-local greedy-shift search on the same Arrow boundary
        {"$ter": {"candidate": "$cand", "reference": "$text",
                  "as": "t1"}},
        {"$ter": {"candidate": "$cand",
                  "references": ["$text", "$p3"], "as": "tm"}},
        {"$project": {"doc_id": 1, "b1": 1, "bm": 1,
                      "r1_f": "$r1.f1", "rm_f": "$rm.f1",
                      "ov_m": "$ov.n_match", "ov_f": "$ov.f1",
                      "ch": 1, "chm": 1, "w1_w": "$w1.wer",
                      "wm_w": "$wm.wer", "wm_d": "$wm.distance",
                      "qa_em": "$qa.exact_match",
                      "qa_f1": "$qa.f1",
                      "t1_t": "$t1.ter", "t1_e": "$t1.edits",
                      "tm_t": "$tm.ter", "tm_s": "$tm.shifts"}},
    ]
    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], schema)
    from pincette_mongo_streams_spark import compile_pipeline
    want = {r["doc_id"]: r.asDict()
            for r in compile_pipeline(pipeline,
                                      Context(spark=spark))(batch_df)
            .collect()}
    out = _run(spark, str(tmpdir), schema, [docs[:2], docs[2:]],
               pipeline)
    got = {r["doc_id"]: r for e in out for r in e}
    assert set(got) == set(want) == {1, 2, 3, 4}
    for i, w in want.items():
        for k, v in w.items():
            assert got[i][k] == v, (i, k, got[i][k], v)
    assert want[4]["b1"] is None and want[4]["rm_f"] is None


def test_sql_stage_streams(spark, tmpdir):
    """$sql's DataFrame template binding works on streaming frames too
    (spark.sql(q, this=streamingDF) keeps isStreaming) — the escape
    hatch composes with the streaming runtime unchanged."""
    schema = "doc_id long, v long"
    batches = [[{"doc_id": 1, "v": 10}, {"doc_id": 2, "v": 20}],
               [{"doc_id": 3, "v": 30}]]
    out = _run(
        spark, str(tmpdir), schema, batches,
        [{"$sql": "SELECT doc_id, v * 2 AS d FROM {this} WHERE v >= 20"}],
    )
    rows = sorted((r["doc_id"], r["d"]) for e in out for r in e)
    assert rows == [(2, 40), (3, 60)]


def test_sql_stage_rejects_within_batch_aggregate(spark, tmpdir):
    """$sql runs once per micro-batch, so a GROUP BY over {this} would
    emit a per-batch count (n = 2, then n = 1, where the batch run
    gives n = 3); it raises naming the fix instead.  An aggregate that
    does not read {this} (here a scalar subquery over constants) stays
    row-local and runs."""
    schema = "k string"
    batches = [[{"k": "a"}, {"k": "a"}], [{"k": "a"}]]
    with pytest.raises(Exception, match=r"\$sql runs once per micro-batch"):
        _run(spark, str(tmpdir), schema, batches,
             [{"$sql": "SELECT k, count(*) AS n FROM {this} GROUP BY k"}])
    out = _run(
        spark, str(tmpdir), schema, batches,
        [{"$sql": "SELECT k, (SELECT max(x) FROM VALUES (1), (5) AS v(x)) "
                  "AS m FROM {this}"}])
    assert sorted((r["k"], r["m"]) for e in out for r in e) == [("a", 5)] * 3


def test_sql_views_join_inside_micro_batches(spark, tmpdir):
    """A $sql view is a collection of the caller's session while each
    micro-batch runs in the streaming query's own session; the view
    binds in the statement's session, so the join resolves in every
    batch and no template view is left behind in the caller's
    session."""
    lk = spark.createDataFrame([("a", 1), ("b", 2)], "k string, w long")
    out = _run(
        spark, tmpdir, "k string", [[{"k": "a"}], [{"k": "b"}, {"k": "c"}]],
        [{"$sql": {"query": "SELECT t.k, l.w FROM {this} t "
                            "JOIN {lk} l ON t.k = l.k",
                   "views": ["lk"]}}],
        ctx=Context(spark=spark, collections={"lk": lk}))
    assert [sorted((r["k"], r["w"]) for r in e) for e in out] == \
        [[("a", 1)], [("b", 2)]]
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("_pyspark_")]


def test_rocksdb_state_store_provider(spark, tmpdir):
    """r6: `state_store="rocksdb"` lands the provider + changelog
    checkpointing confs and the stateful operators ($group update mode,
    $deduplicate cross-batch state) produce identical results under the
    RocksDB provider — the 100 TB state configuration (state on local
    disk, delta checkpoint uploads; the reference's analog keeps state
    in Mongo, Group.java:405-414)."""
    schema = T.StructType(
        [T.StructField("_id", T.StringType()),
         T.StructField("k", T.StringType()),
         T.StructField("v", T.LongType())]
    )
    batches = [
        [{"_id": "m1", "k": "a", "v": 1}, {"_id": "m2", "k": "b", "v": 2}],
        [{"_id": "m3", "k": "a", "v": 1}, {"_id": "m4", "k": "a", "v": 3}],
    ]
    try:
        # dedup state spans batches under RocksDB: the duplicate (a,1)
        # in batch 2 is dropped, then groups aggregate the survivors
        emissions = _run(
            spark, tmpdir, schema, batches,
            [{"$deduplicate": {"expression":
                 {"$concat": ["$k", "-", {"$toString": "$v"}]}}},
             {"$group": {"_id": "$k", "total": {"$sum": "$v"}}}],
            state_store="rocksdb",
        )
        assert (spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                .endswith("RocksDBStateStoreProvider"))
        assert spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled") == "true"
        by = {}
        for rows in emissions:
            for r in rows:
                by[r["_id"]] = r["total"]
        assert by == {"a": 4, "b": 2}
        # the state files on disk are RocksDB's (zip/changelog layout),
        # proving the provider actually backed the query
        import glob as _glob
        state_files = _glob.glob(
            os.path.join(tmpdir, "ckpt", "state", "**", "*"),
            recursive=True)
        assert any(f.endswith((".zip", ".changelog")) for f in state_files), \
            state_files
    finally:
        from pincette_mongo_streams_spark.streaming.runtime import (
            reset_state_store_conf,
        )

        reset_state_store_conf(spark)


def test_state_store_rejects_unknown_alias(spark, tmpdir):
    import pytest as _pytest

    source = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="unknown state_store"):
        run_streaming(source, [], Context(spark=spark),
                      lambda d, e: None, state_store="bogus")


def test_state_store_resolution_full_class_gets_changelog(spark):
    """A FULL RocksDB provider class name must enable changelog
    checkpointing like the alias does (r6 review fix: the alias
    comparison silently disabled it)."""
    from pincette_mongo_streams_spark.streaming.runtime import \
        _resolve_state_store

    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    assert _resolve_state_store("rocksdb") == (rocks, "true")
    assert _resolve_state_store(rocks) == (rocks, "true")
    hdfs_cls, flag = _resolve_state_store("hdfs")
    assert hdfs_cls.endswith("HDFSBackedStateStoreProvider")
    assert flag == "false"
    assert _resolve_state_store("com.example.MyProvider")[1] == "false"


def test_dsir_score_streams_with_pretrained_model(spark, tmpdir):
    """r6: $dsirScore with sourceFrom (pre-trained source model from a
    static collection) runs under Structured Streaming, and per-doc
    scores are identical to the batch run — micro-batch boundaries
    can't leak into the model because both models are static."""
    schema = "doc_id long, text string"
    docs = [
        {"doc_id": 1, "text": "cat purrs on the mat"},
        {"doc_id": 2, "text": "cat naps on the sofa"},
        {"doc_id": 3, "text": "dog barks at the van"},
        {"doc_id": 4, "text": "dog digs in the yard"},
    ]
    batches = [docs[:2], docs[2:]]
    tgt = spark.createDataFrame(
        [("cat purrs and the cat naps",), ("a cat sits on the mat",)],
        "text string")
    model = spark.createDataFrame([(d["text"],) for d in docs],
                                  "text string")
    colls = {"tgt": tgt, "model": model}
    pipeline = [
        {"$dsirScore": {"input": "$text", "id": "doc_id", "from": "tgt",
                        "sourceFrom": "model", "buckets": 1000}},
        {"$project": {"doc_id": 1, "dsir_score": 1}},
    ]
    emissions = _run(spark, str(tmpdir), schema, batches, pipeline,
                     ctx=Context(spark=spark, collections=colls))
    got = {r["doc_id"]: r["dsir_score"] for e in emissions for r in e}
    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], schema)
    from pincette_mongo_streams_spark import compile_pipeline as _cp
    want = {r["doc_id"]: r["dsir_score"] for r in _cp(
        pipeline, Context(spark=spark, collections=colls))(batch_df)
        .collect()}
    assert got == want and len(got) == 4


def test_corpus_only_stages_rejected_up_front(spark, tmpdir):
    """Corpus-wide stages must be rejected at SUBMIT time, not silently
    run per micro-batch inside foreachBatch (where ctx.streaming is
    False): default-mode $dsirScore (fits its source model on the input
    corpus), $spanDedup and $semanticDedup (corpus-wide ownership)."""
    source = (spark.readStream.format("rate").load()
              .selectExpr("value AS doc_id", "'t' AS text"))
    tgt = spark.createDataFrame([("x",)], "text string")
    ctx = Context(spark=spark, collections={"tgt": tgt})
    for pipeline in (
        [{"$dsirScore": {"input": "$text", "id": "doc_id",
                         "from": "tgt"}}],
        [{"$spanDedup": {"input": "$text", "id": "$doc_id"}}],
        [{"$semanticDedup": {"input": "$emb", "id": "doc_id", "k": 2}}],
        [{"$bpeTrain": {"input": "$text", "merges": 8}}],
        # r9 (carried r7 verdict item): a one-micro-batch profile
        # labeled a corpus profile is a silent wrong answer
        [{"$profile": {"columns": ["doc_id"]}}],
        # r10 (r9 verdict item): the two newest corpus metrics — a
        # per-micro-batch "corpus" BLEU/chrF is the same silent-wrong-
        # answer class
        [{"$bleuCorpus": {"candidate": "$text", "reference": "$text"}}],
        [{"$chrfCorpus": {"candidate": "$text", "reference": "$text"}}],
        [{"$werCorpus": {"candidate": "$text", "reference": "$text"}}],
        # r11: corpus TER, same silent-wrong-answer class
        [{"$terCorpus": {"candidate": "$text", "reference": "$text"}}],
        [{"$classificationEval": {"predicted": "$text",
                                  "actual": "$text"}}],
        [{"$regressionEval": {"predicted": "$doc_id",
                              "actual": "$doc_id"}}],
        [{"$pairedBootstrap": {"id": "$doc_id", "a": "$doc_id",
                               "b": "$doc_id"}}],
        [{"$bootstrapCI": {"id": "$doc_id", "input": "$doc_id"}}],
        [{"$permutationTest": {"id": "$doc_id", "a": "$doc_id",
                               "b": "$doc_id"}}],
        # r12: LM counts are a whole-corpus aggregate (one-micro-batch
        # "model" = the same silent-wrong-answer class)
        [{"$ngramLmTrain": {"input": "$text", "n": 2}}],
        # r13: the dp_stats family — agreement / drift / diversity /
        # frequency-fit / preference-strength are all corpus-wide
        # reductions (a per-micro-batch kappa or Zipf slope is the same
        # silent-wrong-answer class)
        [{"$cohenKappa": {"a": "$text", "b": "$text"}}],
        [{"$fleissKappa": {"item": "$doc_id", "rating": "$text"}}],
        [{"$krippendorffAlpha": {"item": "$doc_id", "value": "$text"}}],
        [{"$ksTest": {"input": "$doc_id", "against": "tgt",
                      "againstField": "text"}}],
        [{"$chiSquareTest": {"input": "$text", "against": "tgt"}}],
        [{"$corpusDivergence": {"input": "$text", "against": "tgt"}}],
        [{"$distinctN": {"input": "$text"}}],
        [{"$zipfFit": {"input": "$text"}}],
        [{"$bradleyTerry": {"winner": "$text", "loser": "$text"}}],
    ):
        with pytest.raises(ValueError, match="corpus-wide"):
            run_streaming(source, pipeline, ctx, lambda d, e: None,
                          trigger={"availableNow": True})
    # the per-micro-batch guard itself (defense in depth when a stage
    # compiler is invoked inside foreachBatch directly)
    from pincette_mongo_streams_spark import compile_pipeline

    mb = Context(spark=spark, collections={"tgt": tgt})
    mb.micro_batch = True
    df = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    with pytest.raises(ValueError, match="corpus-wide"):
        compile_pipeline(
            [{"$spanDedup": {"input": "$text", "id": "$doc_id"}}],
            mb)(df)
    # $profile's own compiler guards too (not just the submit check)
    with pytest.raises(ValueError, match="corpus-wide"):
        compile_pipeline(
            [{"$profile": {"columns": ["doc_id"]}}], mb)(df)


def test_group_per_message_under_rocksdb(spark, tmpdir):
    """The per-message parity mode (applyInPandasWithState) also runs
    with the RocksDB state store — the reference-granularity emission
    protocol keeps working under the 100 TB state configuration."""
    pipeline = [{"$group": {"_id": "$k", "mx": {"$max": "$v"}}}]
    try:
        emissions = _run(
            spark, tmpdir, "k string, v long",
            [[{"k": "a", "v": 5}],
             [{"k": "a", "v": 3}, {"k": "a", "v": 7}]],
            pipeline, emission="per_message", state_store="rocksdb",
        )
        flat = [(r["_id"], r["mx"]) for b in emissions for r in b]
        assert flat == [("a", 5), ("a", 7)]  # losing candidate silent
        assert (spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass")
            .endswith("RocksDBStateStoreProvider"))
    finally:
        from pincette_mongo_streams_spark.streaming.runtime import (
            reset_state_store_conf,
        )

        reset_state_store_conf(spark)


def test_plan_stages_chain_into_per_message_group(spark, tmpdir):
    """$deduplicate (a plan stage) composes BEFORE a per-message $group
    — the multi-stateful-operator chain of perfbench's stream_fresh,
    here with per-message emission: the duplicate is dropped by dedup
    state, and the group emits once per surviving state-changing
    message."""
    pipeline = [
        {"$deduplicate": "$eid"},
        {"$group": {"_id": "$k", "total": {"$sum": "$v"}}},
    ]
    emissions = _run(
        spark, tmpdir, "eid string, k string, v long",
        [
            [{"eid": "m1", "k": "a", "v": 2}],
            # m1 is a dup (dropped by dedup state); m2 changes the group
            [{"eid": "m1", "k": "a", "v": 2}, {"eid": "m2", "k": "a", "v": 3}],
        ],
        pipeline, emission="per_message",
    )
    flat = [(r["_id"], r["total"]) for b in emissions for r in b]
    assert flat == [("a", 2), ("a", 5)]  # duplicate never re-emitted


def test_state_store_conf_restore_and_no_leak_on_reject(spark, tmpdir):
    """advisor r7: (a) a pipeline rejected at submit time must NOT leave
    the state-store session conf mutated; (b) the returned query carries
    restore_state_store_conf() which puts the PRIOR values back (not
    just unset)."""
    import pytest as _pytest

    from pincette_mongo_streams_spark.streaming.runtime import (
        reset_state_store_conf,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    reset_state_store_conf(spark)
    ctx = Context(spark=spark)
    in_dir = os.path.join(tmpdir, "in")
    _write_batches(in_dir, [[{"k": "a", "v": 1}]])
    src = (spark.readStream.schema("k string, v long").json(in_dir))
    # (a) batch-only stage rejected BEFORE the conf is touched
    with _pytest.raises(ValueError, match="batch-only"):
        run_streaming(src, [{"$sort": {"v": 1}}], ctx,
                      lambda d, e: None, state_store="rocksdb")
    assert spark.conf.get(key, None) is None
    # (b) restore puts back the pre-call value
    spark.conf.set(key, "com.example.PriorProvider")
    q = run_streaming(
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1).json(in_dir),
        [{"$match": {"v": {"$gte": 0}}}],
        Context(spark=spark),
        lambda d, e: None,
        trigger={"availableNow": True},
        checkpoint=os.path.join(tmpdir, "ckpt"),
        state_store="rocksdb",
    )
    try:
        assert spark.conf.get(key).endswith("RocksDBStateStoreProvider")
        q.awaitTermination(120)
        q.restore_state_store_conf()
        assert spark.conf.get(key) == "com.example.PriorProvider"
    finally:
        reset_state_store_conf(spark)


def test_state_store_conf_restore_on_mid_setup_raise(spark, tmpdir):
    """advisor r8: a raise AFTER the conf mutation but BEFORE
    writer.start() returns (watermark setup, plan compile, emission
    validation, the start itself) must replay the prior session conf —
    the restore closure only attaches to a successfully returned query,
    so without the in-function guard the mutation leaked."""
    import pytest as _pytest

    from pincette_mongo_streams_spark.streaming.runtime import (
        reset_state_store_conf,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    part_key = "spark.sql.shuffle.partitions"
    reset_state_store_conf(spark)
    prior_parts = spark.conf.get(part_key)
    spark.conf.set(key, "com.example.PriorProvider")
    in_dir = os.path.join(tmpdir, "in")
    _write_batches(in_dir, [[{"k": "a", "v": 1}]])
    src = spark.readStream.schema("k string, v long").json(in_dir)
    try:
        # the emission-mode check sits inside the guarded span, past
        # the conf mutation
        with _pytest.raises(ValueError, match="unknown emission mode"):
            run_streaming(src, [], Context(spark=spark),
                          lambda d, e: None, state_store="rocksdb",
                          state_partitions=7, emission="bogus")
        assert spark.conf.get(key) == "com.example.PriorProvider"
        assert spark.conf.get(part_key) == prior_parts
        # per-message validation raises mid-setup too
        with _pytest.raises(ValueError, match="needs a .group"):
            run_streaming(src, [], Context(spark=spark),
                          lambda d, e: None, state_store="rocksdb",
                          emission="per_message")
        assert spark.conf.get(key) == "com.example.PriorProvider"
    finally:
        reset_state_store_conf(spark)


def test_streaming_lookup_snapshot_semantics(spark, tmpdir):
    """r7 (VERDICT r6 Next #6): the streaming $lookup refresh contract,
    pinned.  The reference queries live MongoDB per message
    (Lookup.java:89-99); here the `from` collection binds a SNAPSHOT
    per Context: (a) a collection_loader resolves ONCE for the whole
    query (Context.collection caches), and (b) a parquet-backed
    collection pins its file listing at first resolution — rows
    appended to the directory between micro-batches are NOT seen.
    Documented in README's deviations section."""
    import json as _json

    in_dir = os.path.join(tmpdir, "in")
    lk_dir = os.path.join(tmpdir, "lk")
    os.makedirs(in_dir)
    spark.createDataFrame([("a", 1)], "k string, tag long") \
        .write.parquet(lk_dir)
    for i in range(2):
        with open(os.path.join(in_dir, f"b{i}.json"), "w") as f:
            f.write(_json.dumps({"k": "a", "i": i}) + "\n")
            f.write(_json.dumps({"k": "b", "i": i}) + "\n")
    loads = []

    def loader(name):
        loads.append(name)
        return spark.read.parquet(lk_dir)

    ctx = Context(spark=spark, collection_loader=loader)
    src = (spark.readStream.schema("k string, i long")
           .option("maxFilesPerTrigger", 1).json(in_dir))
    emissions = []

    def sink(df, epoch):
        rows = sorted((r["k"], [t["tag"] for t in (r["lk"] or [])])
                      for r in df.collect())
        emissions.append(rows)
        if len(emissions) == 1:
            # append a row matching 'b' BETWEEN micro-batches
            spark.createDataFrame([("b", 2)], "k string, tag long") \
                .write.mode("append").parquet(lk_dir)

    q = run_streaming(
        src,
        [{"$lookup": {"from": "dim", "localField": "k",
                      "foreignField": "k", "as": "lk"}}],
        ctx, sink, trigger={"availableNow": True},
        checkpoint=os.path.join(tmpdir, "ckpt"))
    q.awaitTermination(120)
    assert len(loads) == 1          # one resolution per Context
    assert len(emissions) == 2
    for rows in emissions:          # BOTH batches see the frozen snapshot
        assert rows == [("a", [1]), ("b", [])]
    # a FRESH Context (the documented refresh path) sees the new row
    from pincette_mongo_streams_spark import compile_pipeline

    out = compile_pipeline(
        [{"$lookup": {"from": "dim", "localField": "k",
                      "foreignField": "k", "as": "lk"}}],
        Context(spark=spark, collection_loader=loader))(
        spark.createDataFrame([("b",)], "k string")).collect()
    assert [t["tag"] for t in out[0]["lk"]] == [2]


def test_state_partitions_knob(spark, tmpdir):
    """r7: state_partitions sets the query's state partition count (the
    per-partition state-store commit overhead is the measured floor of
    per-message throughput — BENCH_AB_r07.md); the prior session value
    comes back via restore_state_store_conf."""
    import glob as _glob

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    emissions = []
    in_dir = os.path.join(tmpdir, "in")
    _write_batches(in_dir, [[{"k": "a", "v": 1}, {"k": "b", "v": 2}]])
    q = run_streaming(
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1).json(in_dir),
        [{"$group": {"_id": "$k", "n": {"$count": {}}}}],
        Context(spark=spark),
        lambda df, e: emissions.append(
            sorted((r["_id"], r["n"]) for r in df.collect())),
        trigger={"availableNow": True},
        checkpoint=os.path.join(tmpdir, "ckpt"),
        state_partitions=3,
    )
    try:
        q.awaitTermination(120)
        q.restore_state_store_conf()
        assert spark.conf.get("spark.sql.shuffle.partitions") == prior
        assert emissions == [[("a", 1), ("b", 1)]]
        # the checkpoint's state layout has exactly 3 partition dirs
        parts = _glob.glob(os.path.join(tmpdir, "ckpt", "state", "0", "*"))
        assert sorted(os.path.basename(p) for p in parts
                      if os.path.basename(p).isdigit()) == ["0", "1", "2"]
        with pytest.raises(ValueError, match="state_partitions"):
            run_streaming(
                spark.readStream.schema("k string, v long").json(in_dir),
                [], Context(spark=spark), lambda d, e: None,
                state_partitions=0)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_tokenizer_family_streams(spark, tmpdir):
    """r7: the new tokenizer-family stages are row-local and stream
    unchanged — $ngramOverlap (HOF column program), $chunkText
    unit:'tokens', $bpeDecode round-tripping $bpeEncode (broadcast
    model memoized on the Context across micro-batch recompiles)."""
    merges = spark.createDataFrame(
        [("t", "h", 0), ("th", "e", 1)],
        "left string, right string, rank long")
    ctx = Context(spark=spark, collections={"m": merges})
    batches = [
        [{"doc_id": 1, "text": "the cat sat on the mat"}],
        [{"doc_id": 2, "text": "dogs bark at the moon"}],
    ]
    out = _run(
        spark, str(tmpdir), "doc_id long, text string", batches,
        [
            {"$ngramOverlap": {"candidate": "$text", "reference": "$text",
                               "n": 2, "as": "ov"}},
            {"$chunkText": {"input": "$text", "size": 4, "unit": "tokens",
                            "tokenizer": {"merges": "m"}, "as": "ck"}},
            {"$bpeEncode": {"input": "$text", "as": "toks",
                            "tokenizer": {"merges": "m"}}},
            {"$bpeDecode": {"input": "$toks", "as": "back"}},
            {"$project": {"doc_id": 1, "text": 1, "back": 1,
                          "f1": "$ov.f1", "n_chunks": {"$size": "$ck"}}},
        ],
        ctx=ctx,
    )
    rows = {r["doc_id"]: r for e in out for r in e}
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert r["back"] == r["text"]   # encode->decode round trip
        assert r["f1"] == 1.0           # self-overlap is perfect
        assert r["n_chunks"] >= 2
    # one broadcast total despite per-micro-batch stage recompilation
    assert len(ctx._bpe_broadcasts) == 1


_COLLECTION_PIPELINE = [
    {"$delete": {"from": "del", "on": "_id"}},
    {"$deduplicate": {"expression": "$k", "collection": "seen"}},
    {"$merge": {"into": "tgt", "on": "_id", "whenMatched": "replace"}},
    {"$out": "copy"},
]


def _plan_of(df) -> str:
    # expression ids grow with every batch; their digits are not depth
    import re

    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().analyzed()
                  .toString())


def test_collection_plans_stay_flat_across_micro_batches(spark, tmpdir):
    """Every collection write in a micro-batch stores materialized rows:
    after 21 batches the $delete, $deduplicate {collection}, $merge and
    $out targets have no join/union/aggregate in their plans and are no
    longer than after batch 2, and their rows equal a plain-Python fold
    of the same batches."""
    import re

    schema = "_id string, k long, v long, seq long"
    batches = [[{"_id": f"u{(7 * i + j) % 12}", "k": (5 * i + j) % 30,
                 "v": 100 * i + j, "seq": 10 * i + j} for j in range(4)]
               for i in range(21)]
    dele = spark.createDataFrame([(f"u{n}",) for n in range(40)],
                                 "_id string")
    ctx = Context(spark=spark, collections={"del": dele}, order_by="seq")
    names = ("del", "seen", "tgt", "copy")
    early: dict = {}

    def sink(df, epoch):
        df.count()
        if epoch == 1:
            early.update({n: _plan_of(ctx.collections[n]) for n in names})

    in_dir = os.path.join(tmpdir, "in")
    _write_batches(in_dir, batches)
    source = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    q = run_streaming(source, _COLLECTION_PIPELINE, ctx, sink,
                      trigger={"availableNow": True},
                      checkpoint=os.path.join(tmpdir, "ckpt"))
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    assert q.exception() is None
    assert q.lastProgress["batchId"] == 20

    deleted, seen, tgt = {f"u{n}" for n in range(40)}, set(), {}
    for docs in batches:
        deleted -= {d["_id"] for d in docs}
        first: dict = {}
        for d in sorted(docs, key=lambda d: d["seq"]):
            first.setdefault(d["k"], d)
        kept = [d for k, d in first.items() if k not in seen]
        seen |= {d["k"] for d in kept}
        for d in sorted(kept, key=lambda d: d["seq"]):
            tgt[d["_id"]] = d
    rows = {n: [r.asDict() for r in ctx.collections[n].collect()]
            for n in names}
    assert {r["_id"] for r in rows["del"]} == deleted
    assert {r["_id"] for r in rows["seen"]} == seen
    for n in ("tgt", "copy"):
        assert {r["_id"]: r for r in rows[n]} == tgt
    for n in names:
        plan = _plan_of(ctx.collections[n])
        assert not re.search(r"(?m)^[\s:+-]*(Join|Union|Aggregate)\b",
                             plan), (n, plan)
        assert len(plan) <= len(early[n]), (n, early[n], plan)


def test_failing_sink_leaves_caller_context_flags(spark, tmpdir):
    """Each micro-batch runs on a copy of the Context: a sink that raises
    on batch 1 leaves the caller's streaming/micro_batch flags as
    run_streaming set them, while the shared collections still carry
    batch 0's $merge target."""
    in_dir = os.path.join(tmpdir, "in")
    _write_batches(in_dir, [[{"_id": "a", "v": 1}], [{"_id": "b", "v": 2}]])
    ctx = Context(spark=spark)

    def sink(df, epoch):
        df.count()
        if epoch == 1:
            raise RuntimeError("sink down")

    source = (spark.readStream.schema("_id string, v long")
              .option("maxFilesPerTrigger", 1).json(in_dir))
    q = run_streaming(source, [{"$merge": {"into": "tgt", "on": "_id"}}],
                      ctx, sink, trigger={"availableNow": True},
                      checkpoint=os.path.join(tmpdir, "ckpt"))
    with pytest.raises(Exception, match="sink down"):
        q.awaitTermination(120)
    assert ctx.streaming is True and ctx.micro_batch is False
    assert "a" in {r["_id"] for r in ctx.collections["tgt"].collect()}


def test_batch_part_compiles_once_per_query(spark, tmpdir):
    """The foreachBatch part of a pipeline compiles once when the query
    starts, not again for every micro-batch."""
    calls = []

    def counted(expression, ctx):
        calls.append(ctx.micro_batch)
        return lambda df, c: df

    ctx = Context(spark=spark, stage_extensions={"$counted": counted})
    out = _run(spark, tmpdir, "v long", [[{"v": 1}], [{"v": 2}], [{"v": 3}]],
               [{"$match": {"v": {"$gt": 0}}}, {"$counted": {}}], ctx=ctx)
    assert [sorted(r["v"] for r in rows) for rows in out] == [[1], [2], [3]]
    assert calls == [True]
