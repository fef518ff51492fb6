"""The four workloads.  Each drives the package only through its public
API (``plans.optimize.optimize_pipeline``, ``compile_pipeline`` and the
``run(df)`` it returns, ``streaming.runtime.run_streaming``) over inputs
from ``inputs.py``, and checks every output against DuckDB.

A workload has four phases, called in order by ``run.py``:
``stage()`` makes the inputs (returns their hash), ``warm()`` runs untimed
passes until a pass stops getting faster, ``measure(seconds)`` is the
measured window, ``check()`` compares the outputs with DuckDB and returns
the number of failed ops.  Spans wrap every call into a layer; they cost
nothing unless the tracer is on.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Optional
from urllib.parse import unquote, urlparse

import duckdb

import inputs
from harness import Session, Tracer, median_or_zero, quantile, slope, warm_up

from pincette_mongo_streams_spark import Context, compile_pipeline
from pincette_mongo_streams_spark.plans.optimize import optimize_pipeline
from pincette_mongo_streams_spark.streaming.runtime import run_streaming

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Result:
    """What one measured window produced."""

    ops: int                      # ops completed (events/docs/requests)
    elapsed_s: float
    throughput: float             # ops per second, as the workload defines
    latencies_ms: list[float]     # per-op latency samples
    units: list[Any]              # independent unit of each sample
    layers: dict[str, float] = field(default_factory=dict)
    job_groups: list[str] = field(default_factory=list)


def p90_backing(latencies: list[float], units: list[Any]) -> int:
    """Independent units (micro-batches, requests, jobs) with a sample
    above the p90: the percentile is backed when this is at least 10."""
    p90 = quantile(latencies, 0.9)
    return len({u for x, u in zip(latencies, units) if x > p90})


def rows_hash(rows: list[dict]) -> str:
    """Order-free hash of a result: rows as sorted-key JSON, sorted."""
    lines = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    return inputs.sha256_lines(lines)


class Workload:
    name = ""
    # why the workload is in the benchmark, next to its parameters
    why = ""
    params: dict = {}

    def __init__(self, session: Session, seed: int, tracer: Tracer,
                 work: str, params: Optional[dict] = None):
        self.s = session
        self.spark = session.spark
        self.seed = seed
        self.tracer = tracer
        self.work = work
        self.params = dict(self.params, **(params or {}))
        self.exclude_pids: list[int] = []

    def stage(self) -> str:
        raise NotImplementedError

    def warm(self) -> list[float]:
        raise NotImplementedError

    def measure(self, seconds: float) -> Result:
        raise NotImplementedError

    def check(self) -> int:
        raise NotImplementedError

    def traced_extras(self) -> dict[str, float]:
        """Per-layer numbers that need extra untimed work (traced run)."""
        return {}

    def close(self) -> None:
        pass

    # -- helpers

    def _job_group(self, op: str) -> None:
        if self.tracer.enabled:
            self.s.sc.setJobGroup(op, op)


# ======================================================== closed-loop jobs


class _Requests(Workload):
    """Shared closed loop: one client, next request after the previous
    one completes; every request is optimized, compiled, built and
    collected, with a span around each layer.  Subclasses give
    ``_one(record)``, which serves one request and returns its latency in
    ms, and ``ops_per_request``."""

    ops_per_request = 1

    def measure(self, seconds: float) -> Result:
        lat, units, groups = [], [], []
        t0 = time.perf_counter()
        while not lat or time.perf_counter() - t0 + lat[-1] / 1000 <= seconds:
            lat.append(self._one(True))
            units.append(self.n)
            groups.append(f"op-{self.n}")
        el = time.perf_counter() - t0
        ops = self.ops_per_request * len(lat)
        return Result(ops, el, ops / el, lat, units, job_groups=groups)

    def _request(self, op: str, pipeline: list, ctx: Context, df):
        tr = self.tracer
        self._job_group(op)
        with tr.span("op", op):
            with tr.span("plans.optimize", op):
                optimized = optimize_pipeline(pipeline)
            with tr.span("pipeline.compile", op):
                run = compile_pipeline(optimized, ctx)
            with tr.span("operators.build", op):
                out = run(df)
            with tr.span("exec.action", op):
                rows = [r.asDict() for r in out.collect()]
        return rows


class PipelineBurst(_Requests):
    name = "pipeline_burst"
    why = ("closed loop, one client: distinct small pipelines over small "
           "cached collections, so compile and DataFrame build are a large "
           "share of each request")
    params = {"orders": 3000, "customers": 300, "pass_requests": 10}

    def stage(self) -> str:
        from pyspark.sql import types as T

        p = self.params
        self.orders, self.customers, digest = inputs.burst_collections(
            self.seed, p["orders"], p["customers"])
        o_schema = T.StructType([
            T.StructField("_id", T.LongType()),
            T.StructField("cust", T.LongType()),
            T.StructField("amount", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("day", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ])
        c_schema = "_id long, region string, tier long"
        self.orders_df = self.spark.createDataFrame(
            self.orders, o_schema).cache()
        self.customers_df = self.spark.createDataFrame(
            self.customers, c_schema).cache()
        self.orders_df.count()
        self.customers_df.count()
        self.requests = inputs.burst_requests(self.seed)
        self.served: list[tuple[str, str, str]] = []  # (template, sql, hash)
        self.n = 0
        return digest

    def _one(self, record: bool) -> float:
        template, pipeline, sql = next(self.requests)
        self.n += 1
        ctx = Context(spark=self.spark,
                      collections={"customers": self.customers_df})
        t0 = time.perf_counter()
        rows = self._request(f"op-{self.n}", pipeline, ctx, self.orders_df)
        digest = rows_hash(rows)
        dt = (time.perf_counter() - t0) * 1000
        if record:
            self.served.append((template, sql, digest))
        return dt

    def warm(self) -> list[float]:
        return warm_up(lambda: [self._one(False)
                                for _ in range(self.params["pass_requests"])],
                       min_passes=5, max_passes=6)

    def check(self) -> int:
        con = duckdb.connect()
        con.execute("CREATE TABLE orders (_id BIGINT, cust BIGINT, "
                    "amount BIGINT, qty BIGINT, status VARCHAR, day BIGINT, "
                    "tags VARCHAR[])")
        con.executemany("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?, ?)",
                        self.orders)
        con.execute("CREATE TABLE customers (_id BIGINT, region VARCHAR, "
                    "tier BIGINT)")
        con.executemany("INSERT INTO customers VALUES (?, ?, ?)",
                        self.customers)
        failed = 0
        for _template, sql, got in self.served:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            want = rows_hash([dict(zip(cols, r)) for r in cur.fetchall()])
            failed += want != got
        con.close()
        return failed


class BatchCurate(_Requests):
    name = "batch_curate"
    why = ("closed loop, one job at a time: a seeded corpus through the "
           "curation stages, so execution in functions/dp_* dominates and "
           "no streaming runtime runs")
    params = {"docs": 300, "near_dup_share": 0.12,
              "low_quality_share": 0.15, "quality_min": 0.6}

    def _pipeline(self) -> list:
        return [
            {"$qualityScore": {"input": "$text", "as": "quality"}},
            {"$match": {"quality": {"$gte": self.params["quality_min"]}}},
            {"$langId": {"input": "$text", "as": "lang_pred"}},
            {"$tokenCount": {"input": "$text", "as": "n_tokens",
                             "mode": "whitespace"}},
            {"$minhashDedup": {"input": "$text", "id": "doc_id",
                               "shingle": 3, "numHashes": 32, "bands": 8}},
            {"$project": {"doc_id": 1, "lang_pred": 1, "n_tokens": 1}},
        ]

    def stage(self) -> str:
        p = self.params
        self.rows, digest = inputs.corpus(
            self.seed, p["docs"], p["near_dup_share"], p["low_quality_share"])
        self.df = self.spark.createDataFrame(
            self.rows, "doc_id long, text string, lang string").cache()
        self.df.count()
        self.ops_per_request = p["docs"]  # an op is a document
        self.results: list[dict] = []
        self.n = 0
        return digest

    def _one(self, record: bool) -> float:
        self.n += 1
        t0 = time.perf_counter()
        rows = self._request(f"op-{self.n}", self._pipeline(),
                             Context(spark=self.spark), self.df)
        dt = (time.perf_counter() - t0) * 1000
        if record:
            self.results.append({r["doc_id"]: (r["lang_pred"], r["n_tokens"])
                                 for r in rows})
        return dt

    def warm(self) -> list[float]:
        def one_job() -> None:
            self._one(False)

        return warm_up(one_job, min_passes=3, max_passes=3)

    def expected(self) -> dict:
        """Kept doc_id -> (lang_pred, n_tokens), from DuckDB: the
        package's read-only oracle SQL for $qualityScore, $langId and
        $minhashDedup, chained over the same corpus."""
        sys.path.insert(0, os.path.dirname(HERE))
        from __spark_entry__ import oracle_sql

        sql = oracle_sql()
        con = duckdb.connect()
        con.execute("CREATE TABLE raw (doc_id BIGINT, text VARCHAR, "
                    "lang VARCHAR)")
        con.executemany("INSERT INTO raw VALUES (?, ?, ?)", self.rows)
        con.execute("CREATE VIEW documents AS SELECT * FROM raw")
        con.execute(f"CREATE TABLE q AS {sql['quality_score']}")
        con.execute("CREATE TABLE kept AS SELECT raw.* FROM raw JOIN q "
                    f"USING (doc_id) WHERE q.quality >= "
                    f"{self.params['quality_min']}")
        con.execute("CREATE OR REPLACE VIEW documents AS "
                    "SELECT * FROM kept")
        survivors = {r[0] for r in con.execute(
            sql["minhash_dedup"]).fetchall()}
        langs = dict(con.execute(sql["lang_id"]).fetchall())
        tokens = dict(con.execute(
            "SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) "
            "FROM kept").fetchall())
        con.close()
        return {d: (langs[d], tokens[d]) for d in survivors}

    def check(self) -> int:
        want = self.expected()
        self.kept_share = len(want) / self.params["docs"]
        failed = 0
        for got in self.results:
            bad = set(want) ^ set(got)
            bad |= {d for d in set(want) & set(got) if want[d] != got[d]}
            failed += len(bad)
        return failed

    def traced_extras(self) -> dict[str, float]:
        """Each curation stage alone on the cached corpus (noop sink, so
        every column is computed), median of two runs."""
        out = {}
        for stage in self._pipeline():
            name = next(iter(stage))[1:]
            if name in ("match", "project"):
                continue
            times = []
            for i in range(2):
                op = f"fn-{name}-{i}"
                self._job_group(op)
                t0 = time.perf_counter()
                with self.tracer.span(f"functions.{name}", op):
                    df = compile_pipeline([stage], Context(spark=self.spark))(
                        self.df)
                    df.write.format("noop").mode("overwrite").save()
                times.append((time.perf_counter() - t0) * 1000)
            out[f"functions.{name}_ms"] = median_or_zero(times)
        out["functions.kept_share"] = self.kept_share
        return out


# ======================================================== streaming


def _progress(query, after_batch: int = -1) -> list[dict]:
    """Progress of completed batches after ``after_batch``.  Idle
    triggers report progress too, under the id of the batch that has not
    run yet; only a batch that ran has an ``addBatch`` duration."""
    return [p for p in query.recentProgress
            if p["batchId"] > after_batch and "addBatch" in p["durationMs"]]


def _last_batch(query) -> int:
    done = _progress(query)
    return done[-1]["batchId"] if done else -1


def _log_offsets(prog: dict) -> tuple[int, int]:
    """(start, end) offsets of a file-source batch in the source's own
    log.  That log numbers only batches that found new files, so its ids
    fall behind the query's batch ids once a no-data batch has run."""
    def offset(o) -> int:
        # pyspark renders the offset as text, JSON or a Python dict repr,
        # and "None"/"null" before the first batch
        m = re.search(r"logOffset\D*(\d+)", str(o))
        return int(m.group(1)) if m else -1

    src = prog["sources"][0]
    return offset(src["startOffset"]), offset(src["endOffset"])


def streaming_layers(progs: list[dict], window_s: float,
                     sink_ms: dict[int, float]) -> dict[str, float]:
    """Per-layer numbers of the streaming runtime and state store, from
    ``StreamingQueryProgress`` of the batches in a window."""
    def d(p, k):
        return p["durationMs"].get(k, 0)

    trig = [d(p, "triggerExecution") for p in progs]
    add = {p["batchId"]: d(p, "addBatch") for p in progs}
    ops = [p.get("stateOperators") or [] for p in progs]

    def per_batch(fn):
        return median_or_zero(sum(fn(o) for o in bo) for bo in ops)

    last_ops = ops[-1] if ops else []
    return {
        "streaming.trigger_ms": median_or_zero(trig),
        "streaming.add_batch_ms": median_or_zero(add.values()),
        "streaming.query_planning_ms": median_or_zero(
            d(p, "queryPlanning") for p in progs),
        "streaming.offset_ms": median_or_zero(
            d(p, "latestOffset") + d(p, "getBatch") for p in progs),
        "streaming.wal_ms": median_or_zero(
            d(p, "walCommit") + d(p, "commitOffsets") for p in progs),
        "streaming.rows_per_batch": median_or_zero(
            p["numInputRows"] for p in progs),
        "streaming.busy_share": sum(trig) / 1000 / window_s,
        "streaming.trigger_slope_ms": slope(trig),
        "streaming.foreach_overhead_ms": median_or_zero(
            add[b] - sink_ms[b] for b in add if b in sink_ms),
        "state.rows_total": float(sum(o.get("numRowsTotal", 0)
                                      for o in last_ops)),
        "state.mem_mb": sum(o.get("memoryUsedBytes", 0)
                            for o in last_ops) / 2 ** 20,
        "state.commit_ms": per_batch(lambda o: o.get("commitTimeMs", 0)),
        "state.fsync_ms": per_batch(lambda o: (o.get("customMetrics") or {})
                                    .get("rocksdbCommitFileSyncLatencyMs", 0)),
        "state.update_ms": per_batch(lambda o: o.get("allUpdatesTimeMs", 0)),
        "state.dropped_by_watermark": float(sum(
            o.get("numRowsDroppedByWatermark", 0) for bo in ops for o in bo)),
    }


EVENT_SCHEMA = ("seq long, event_id long, user string, value long, "
                "kind string, created_ms long, ts timestamp")


class StreamFresh(Workload):
    name = "stream_fresh"
    why = ("open loop at a fixed 6000 events/s on a 1 s trigger, Zipf "
           "user keys, 5% duplicates: the stateful read path ($deduplicate "
           "+ $group on RocksDB), where per-batch fixed costs set latency")
    params = {"rate": 6000, "tick_ms": 200, "trigger": "1 second",
              "users": 5000, "skew": 1.1, "dup_share": 0.05, "dup_ticks": 5,
              "backlog": 120000, "backlog_files": 2, "drains": 1,
              "drain_reserve_s": 5.0, "watermark": "5 seconds",
              "warm_batches": 2}
    pipeline = [
        {"$match": {"kind": {"$in": ["click", "view"]}}},
        {"$addFields": {"points": {"$multiply": ["$value", 2]}}},
        {"$deduplicate": "$event_id"},
        {"$group": {"_id": "$user", "n": {"$count": {}},
                    "points": {"$sum": "$points"},
                    "last_ms": {"$max": "$created_ms"}}},
    ]

    def stage(self) -> str:
        p = self.params
        self.dir = os.path.join(self.work, "fresh")
        os.makedirs(self.dir)
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen_events.py"),
             "--dir", self.dir, "--seed", str(self.seed),
             "--rate", str(p["rate"]), "--tick-ms", str(p["tick_ms"]),
             "--users", str(p["users"]), "--skew", str(p["skew"]),
             "--dup-share", str(p["dup_share"]),
             "--dup-ticks", str(p["dup_ticks"]),
             "--backlog", str(p["backlog"]),
             "--backlog-files", str(p["backlog_files"])],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.exclude_pids = [self.gen.pid]
        self.file_events: dict[str, int] = {}  # source file -> events
        self.last: dict[str, tuple] = {}      # user -> last emission
        self.emitted: list[tuple] = []         # (epoch, t, latencies)
        self.sink_ms: dict[int, float] = {}
        with self.tracer.span("plans.optimize", "query"):
            optimized = optimize_pipeline(self.pipeline)
        source = (self.spark.readStream.schema(EVENT_SCHEMA)
                  .json(os.path.join(self.dir, "in")))
        with self.tracer.span("streaming.start", "query"):
            self.query = run_streaming(
                source, optimized, Context(spark=self.spark), self._sink,
                watermark=("ts", p["watermark"]),
                trigger={"processingTime": p["trigger"]},
                checkpoint=os.path.join(self.work, "fresh_ckpt"),
                state_store="rocksdb")
        # the schedule starts at once, so the first batches find data
        self._cmd("run")
        self.running = True
        return inputs.stream_hash(self.seed, p, 50_000)

    def _cmd(self, cmd: str) -> str:
        self.gen.stdin.write(cmd + "\n")
        self.gen.stdin.flush()
        reply = self.gen.stdout.readline().strip()
        if not reply or reply.startswith("error"):
            raise RuntimeError(f"generator: {cmd!r} -> {reply!r}")
        return reply

    def _sink(self, df, epoch: int) -> None:
        with self.tracer.span("sink", epoch):
            t0 = time.perf_counter()
            rows = df.collect()
            now_ms = time.time() * 1000
            for r in rows:
                self.last[r["_id"]] = (r["n"], r["points"], r["last_ms"])
            self.emitted.append(
                (epoch, time.perf_counter(),
                 [now_ms - r["last_ms"] for r in rows]))
            self.sink_ms[epoch] = (time.perf_counter() - t0) * 1000

    def _wait_batches(self, n: int, timeout: float = 60) -> None:
        target = _last_batch(self.query) + n
        deadline = time.monotonic() + timeout
        while _last_batch(self.query) < target:
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            if time.monotonic() > deadline:
                raise RuntimeError("stream_fresh: no progress")
            time.sleep(0.02)

    def _events_done(self) -> int:
        """Events in the files consumed by completed batches, from the
        file source's log in the checkpoint.  (``numInputRows`` would
        undercount: the ``$match`` on ``kind`` is pushed into the scan.)"""
        done = _progress(self.query)
        if not done:
            return 0
        batch = _log_offsets(done[-1])[1]
        log = os.path.join(self.work, "fresh_ckpt", "sources", "0")
        paths = set()
        for name in os.listdir(log):
            if name.startswith("."):
                continue
            with open(os.path.join(log, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        entry = json.loads(line)
                        if entry["batchId"] <= batch:
                            paths.add(entry["path"])
        events = 0
        for path in paths:
            if path not in self.file_events:
                with open(unquote(urlparse(path).path)) as f:
                    self.file_events[path] = sum(1 for _ in f)
            events += self.file_events[path]
        return events

    def _wait_consumed(self, written: int, timeout: float = 60) -> None:
        """Wait until completed batches have consumed ``written`` events
        (``processAllAvailable`` would also wait for one more, empty,
        trigger tick)."""
        deadline = time.monotonic() + timeout
        while self._events_done() < written:
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            if time.monotonic() > deadline:
                raise RuntimeError("stream_fresh: backlog not consumed")
            time.sleep(0.02)

    def _resume(self) -> None:
        if not self.running:
            self._cmd("run")
            self.running = True

    def _busy_pass(self) -> float:
        """Wait for the next batches; their summed trigger time, since
        the fixed trigger interval sets the wall time of a pass."""
        b0 = _last_batch(self.query)
        self._wait_batches(self.params["warm_batches"])
        return sum(x["durationMs"]["triggerExecution"]
                   for x in _progress(self.query, b0)) / 1000

    def warm(self) -> list[float]:
        self._resume()
        self._wait_batches(2)  # the cold first batches
        return warm_up(self._busy_pass)

    def measure(self, seconds: float) -> Result:
        p = self.params
        self._resume()
        self._wait_batches(1)
        b0 = _last_batch(self.query)
        stats0 = json.loads(self._cmd("stats"))
        written0, late0 = stats0["written"], len(stats0["late_ms"])
        t0 = time.perf_counter()
        # the fixed-rate phase leaves room for the backlog drains
        time.sleep(max(seconds - p["drain_reserve_s"], seconds / 2))
        t1 = time.perf_counter()
        b1 = _last_batch(self.query)
        written = int(self._cmd("pause").split()[1])
        self.running = False
        backlog_end = written - self._events_done()
        stats = json.loads(self._cmd("stats"))
        fixed = [x for x in _progress(self.query, b0)
                 if x["batchId"] <= b1]
        # latency of every group emitted during the fixed-rate phase
        lat, units = [], []
        for epoch, t, ls in self.emitted:
            if t0 <= t <= t1:
                lat.extend(ls)
                units.extend([epoch] * len(ls))
        self._wait_consumed(written)
        # drain time: engine time of the batches that read the backlog's
        # files (the wait for the next trigger tick is not the system's
        # work, and neither is a no-data batch that only moves the
        # watermark, which may fall before or after the backlog)
        drains = []
        for _ in range(p["drains"]):
            before = _last_batch(self.query)
            self._cmd("backlog")
            written += p["backlog"]
            self._wait_consumed(written)
            busy = sum(x["durationMs"]["triggerExecution"]
                       for x in _progress(self.query, before)
                       if _log_offsets(x)[1] > _log_offsets(x)[0])
            drains.append(p["backlog"] / (busy / 1000))
        elapsed = time.perf_counter() - t0
        layers = streaming_layers(fixed, t1 - t0, self.sink_ms)
        layers["source.gen_late_ms"] = quantile(
            stats["late_ms"][late0:] or [0.0], 0.9)
        layers["source.backlog_end"] = float(backlog_end)
        ops = written - written0  # fixed-rate events plus the backlogs
        return Result(ops, elapsed, median_or_zero(drains), lat, units,
                      layers, job_groups=[str(self.query.runId)])

    def check(self) -> int:
        if self.query.isActive:
            self.query.processAllAvailable()
        self.close()
        con = duckdb.connect()
        files = os.path.join(self.dir, "in", "*.json")
        rows = con.execute(
            "WITH e AS (SELECT * FROM read_json(?, format = "
            "'newline_delimited', columns = {seq: 'BIGINT', event_id: "
            "'BIGINT', user: 'VARCHAR', value: 'BIGINT', kind: 'VARCHAR', "
            "created_ms: 'BIGINT', ts: 'VARCHAR'})), "
            "m AS (SELECT * FROM e WHERE kind IN ('click', 'view')), "
            "d AS (SELECT DISTINCT ON (event_id) * FROM m ORDER BY event_id, "
            "seq) "
            "SELECT user, count(*), sum(value * 2), max(created_ms), "
            "(SELECT count(*) FROM m), (SELECT count(*) FROM d) "
            "FROM d GROUP BY user", [files]).fetchall()
        events_per_user = dict(con.execute(
            "SELECT user, count(*) FROM read_json(?, format = "
            "'newline_delimited', columns = {user: 'VARCHAR'}) GROUP BY user",
            [files]).fetchall())
        con.close()
        want = {r[0]: (r[1], r[2], r[3]) for r in rows}
        bad = {u for u in set(want) | set(self.last)
               if want.get(u) != self.last.get(u)}
        matched, unique = (rows[0][4], rows[0][5]) if rows else (0, 0)
        self.check_counts = (matched, unique)
        return sum(events_per_user.get(u, 1) for u in bad)

    def traced_extras(self) -> dict[str, float]:
        """``state.dup_share``: share of the rows reaching the dedup
        operator that its state store dropped as duplicates, whole run."""
        stored = sum(o.get("numRowsUpdated", 0)
                     for p in _progress(self.query)
                     for o in p.get("stateOperators") or []
                     if "dedup" in o.get("operatorName", "").lower())
        matched = self.check_counts[0]
        return {"state.dup_share": 1 - stored / matched if matched else 0.0}

    def close(self) -> None:
        if getattr(self, "query", None) is not None and self.query.isActive:
            self.query.stop()
            self.query.restore_state_store_conf()
        gen = getattr(self, "gen", None)
        if gen is not None and gen.poll() is None:
            try:
                gen.stdin.write("quit\n")
                gen.stdin.flush()
                gen.stdin.close()
                gen.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                gen.kill()
                gen.wait(timeout=10)


UPSERT_SCHEMA = "seq long, user string, value long, created_ms long"


class StreamUpsert(Workload):
    name = "stream_upsert"
    why = ("drains a preloaded backlog at 500 events per micro-batch, 4 "
           "batches per pass: $lookup + $merge upserts, the collections "
           "layer and the per-batch foreachBatch compile, no state store")
    # a window is a fixed number of passes, one per ``pass_s`` seconds of
    # --seconds: a pass takes 3-5 s, so a window cut by the clock would
    # hold one pass on a slow run and two on a fast one, and the retained
    # targets would make the heap bimodal
    params = {"batches": 4, "warm_batches": 2, "per_batch": 500,
              "users": 2000, "skew": 1.1, "pass_s": 4.0}
    pipeline = [
        {"$lookup": {"from": "users", "localField": "user",
                     "foreignField": "_id", "as": "u", "unwind": True}},
        {"$addFields": {"region": "$u.region",
                        "score": {"$multiply": ["$value", "$u.tier"]}}},
        {"$unset": "u"},
        {"$merge": {"into": "profiles", "on": "user",
                    "whenMatched": "replace"}},
    ]

    def stage(self) -> str:
        p = self.params
        self.batches, self.dim, digest = inputs.upsert_backlog(
            self.seed, p["batches"], p["per_batch"], p["users"], p["skew"])
        # warm-up passes drain the first batches only
        self.dir = os.path.join(self.work, "upsert")
        self.warm_dir = os.path.join(self.work, "upsert_warm")
        # the file source takes files in modification-time order, and
        # files written within the same millisecond come in directory
        # order; one second between files makes batch i the i-th
        # micro-batch, so the last write per key is the highest seq
        base_s = int(time.time()) - p["batches"] - 1
        for d, n in ((self.dir, p["batches"]),
                     (self.warm_dir, p["warm_batches"])):
            os.makedirs(d)
            for i, batch in enumerate(self.batches[:n]):
                path = os.path.join(d, f"b{i:04d}.json")
                with open(path, "w") as f:
                    for seq, user, value, ms in batch:
                        f.write(json.dumps({"seq": seq, "user": user,
                                            "value": value,
                                            "created_ms": ms}) + "\n")
                os.utime(path, (base_s + i, base_s + i))
        self.dim_df = self.spark.createDataFrame(
            self.dim, "_id string, region string, tier long").cache()
        self.dim_df.count()
        with self.tracer.span("plans.optimize", "query"):
            self.optimized = optimize_pipeline(self.pipeline)
        self.passes = 0
        self.targets: list = []
        self.sink_ms: dict[tuple, float] = {}
        return digest

    def _pass(self, src_dir: str):
        self.passes += 1
        n = self.passes
        ctx = Context(spark=self.spark,
                      collections={"users": self.dim_df}, order_by="seq")

        def sink(df, epoch):
            with self.tracer.span("sink", (n, epoch)):
                t0 = time.perf_counter()
                df.count()
                self.sink_ms[(n, epoch)] = (time.perf_counter() - t0) * 1000

        source = (self.spark.readStream.schema(UPSERT_SCHEMA)
                  .option("maxFilesPerTrigger", 1).json(src_dir))
        t0 = time.perf_counter()
        with self.tracer.span("streaming.start", n):
            q = run_streaming(source, self.optimized, ctx, sink,
                              trigger={"availableNow": True},
                              checkpoint=os.path.join(self.work, f"ck{n}"))
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("stream_upsert: pass did not finish")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        q.restore_state_store_conf()
        return n, q, ctx, time.perf_counter() - t0

    def warm(self) -> list[float]:
        def one_pass() -> None:
            ctx = self._pass(self.warm_dir)[2]
            # the ended query's foreachBatch callback keeps ctx reachable
            # until a JVM GC releases it, so an unreleased warm-up target
            # could still count in the live heap at the end of the window
            ctx.collections.pop("profiles", None)

        return warm_up(one_pass)

    def measure(self, seconds: float) -> Result:
        p = self.params
        lat, units, slopes, sink_ms, groups, progs = [], [], [], {}, [], []
        busy = wall = 0.0
        t0 = time.perf_counter()
        for _ in range(max(1, round(seconds / p["pass_s"]))):
            n, q, ctx, dt = self._pass(self.dir)
            wall += dt
            prog = _progress(q)
            trig = [x["durationMs"]["triggerExecution"] for x in prog]
            lat.extend(trig)
            units.extend((n, x["batchId"]) for x in prog)
            slopes.append(slope(trig))
            busy += sum(trig) / 1000
            progs.extend(prog)
            for x in prog:
                sink_ms[x["batchId"] + 1_000_000 * n] = self.sink_ms.get(
                    (n, x["batchId"]), 0.0)
                x["batchId"] += 1_000_000 * n  # unique across passes
            groups.append(str(q.runId))
            self.targets.append(ctx)
        elapsed = time.perf_counter() - t0
        events = p["batches"] * p["per_batch"] * len(slopes)
        layers = streaming_layers(progs, elapsed, sink_ms)
        layers["streaming.trigger_slope_ms"] = median_or_zero(slopes)
        layers["streaming.busy_share"] = busy / elapsed
        return Result(events, elapsed, events / wall, lat, units, layers,
                      job_groups=groups)

    def check(self) -> int:
        con = duckdb.connect()
        con.execute("CREATE TABLE ev (seq BIGINT, user VARCHAR, "
                    "value BIGINT, created_ms BIGINT)")
        con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?)",
                        [e for b in self.batches for e in b])
        con.execute("CREATE TABLE dim (_id VARCHAR, region VARCHAR, "
                    "tier BIGINT)")
        con.executemany("INSERT INTO dim VALUES (?, ?, ?)", self.dim)
        want = {r[0]: r for r in con.execute(
            "SELECT e.user, e.seq, e.value, e.created_ms, d.region, "
            "e.value * d.tier FROM (SELECT *, row_number() OVER (PARTITION "
            "BY user ORDER BY seq DESC) AS rn FROM ev) e JOIN dim d "
            "ON e.user = d._id WHERE rn = 1").fetchall()}
        per_user = dict(con.execute(
            "SELECT user, count(*) FROM ev GROUP BY user").fetchall())
        con.close()
        failed = 0
        self.target_rows = 0
        cols = ["user", "seq", "value", "created_ms", "region", "score"]
        for ctx in self.targets:
            rows = ctx.collection("profiles").select(*cols).collect()
            self.target_rows = len(rows)
            got = {r["user"]: tuple(r) for r in rows}
            bad = {u for u in set(want) | set(got)
                   if want.get(u) != got.get(u)}
            failed += sum(per_user.get(u, 1) for u in bad)
        return failed

    def traced_extras(self) -> dict[str, float]:
        return {"merge.target_rows": float(self.target_rows)}


WORKLOADS = {w.name: w for w in (StreamFresh, StreamUpsert, BatchCurate,
                                 PipelineBurst)}
