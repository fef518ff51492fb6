"""Pipeline context — the Spark analog of the reference's Context
(reference: src/main/java/net/pincette/mongo/streams/Context.java:20-40).

The reference carries: an application name, a MongoDB database handle for
stateful stages, a Kafka producer callback for side outputs, optional stage
extensions, a trace flag, and expression-language features.  Here the same
roles are filled Spark-side:

- ``collections``: a named-DataFrame store standing in for MongoDB
  collections ($lookup `from`, $merge `into`, $group/_collection state,
  $deduplicate collections).  In production these resolve through
  ``collection_loader``/``collection_writer`` hooks (e.g. the MongoDB Spark
  connector, Delta tables, parquet dirs); in tests they are in-memory.
- ``producer``: callable ``(topic, key, value_dict) -> None`` receiving
  side-output messages ($send/$delay/$probe), mirroring Context.java:31-32.
- ``stage_extensions``: user stage compilers merged under the built-ins
  (Context.java:34-35; Pipeline.java:275-276 — built-ins win).
- ``http_transport``: pluggable ``(request_dict) -> response_dict`` used by
  $http so tests inject a deterministic fake.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Context:
    spark: Optional[SparkSession] = None
    app: str = "app"
    collections: dict[str, DataFrame] = field(default_factory=dict)
    collection_loader: Optional[Callable[[str], DataFrame]] = None
    collection_writer: Optional[Callable[[str, DataFrame], None]] = None
    producer: Optional[Callable[[str, Optional[str], dict], None]] = None
    # scale path for $send/$delay side outputs: a SERIALIZABLE zero-arg
    # factory invoked once per partition ON THE EXECUTORS, returning a
    # ``(topic, key, value_dict) -> None`` callable (e.g. wrapping a Kafka
    # producer).  With it set, routed messages never cross the driver.  The
    # plain ``producer`` remains the driver-side test/dev hook.
    producer_factory: Optional[
        Callable[[], Callable[[str, Optional[str], dict], None]]
    ] = None
    stage_extensions: dict[str, Any] = field(default_factory=dict)
    # --- Features analog (reference Context.java:25-26 carries a
    # net.pincette.mongo.Features consumed by every expression/match
    # compile and by the script stages) ---
    # custom aggregation-expression operators: "$name" ->
    #   (raw_args, ExprContext) -> Column.  Built-ins win
    # (the reference's stage-extension precedence, Pipeline.java:275-276).
    expression_extensions: dict[str, Callable] = field(default_factory=dict)
    # custom $match field operators: "$name" ->
    #   (field_col, raw_arg, ExprContext) -> boolean Column.
    match_extensions: dict[str, Callable] = field(default_factory=dict)
    # customJsltFunctions analog (Jslt.java:27-33): plain Python callables
    # "name" -> fn(*args) used by the tier-2 JSLT evaluator for function
    # calls that are neither script-local defs nor builtins.  Must be
    # picklable (they ship to executors inside the row UDF closure).
    jslt_functions: dict[str, Callable] = field(default_factory=dict)
    # jqModuleLoader analog (Jq.java:27-31): "name" -> fn(input, *args)
    # consulted by the tier-2 jq interpreter after script defs + builtins.
    jq_functions: dict[str, Callable] = field(default_factory=dict)
    # jq module resolver (module name -> jq source, dict or callable):
    # serves `import "m" as m;` / `include "m";` directives in $jq
    # scripts; imported functions are called `m::fn(...)`.  Like
    # jslt_resolver, resolution happens at compile time.
    jq_resolver: Any = None
    # JSLT module resolver (the resolver hook the reference passes into
    # the JSLT engine through Features — Jslt.java:19-36): module name ->
    # template SOURCE, as a dict or a callable.  Serves `import "m" as m`
    # declarations in $jslt scripts; imported functions are called as
    # `m:fn(...)`.  Honored by BOTH tiers (resolution happens at compile
    # time, so tier-2 closures ship plain ASTs, never the resolver).
    jslt_resolver: Any = None
    http_transport: Optional[Callable[[dict], dict]] = None
    trace: bool = False
    # wall clock, injectable for deterministic tests ($probe/$throttle/$delay)
    clock: Callable[[], float] = time.time
    # streaming mode flag: stage compilers may pick different physical
    # strategies (e.g. dropDuplicatesWithinWatermark vs window-dedup)
    streaming: bool = False
    # (event-time column, delay) when run_streaming applied a watermark —
    # lets $deduplicate bound its state store instead of growing forever
    watermark: Optional[tuple[str, str]] = None
    # deterministic order column for batch analogs of stream-order semantics
    # ($deduplicate keep-first, $per packing, $group $last); None = no order
    order_by: Optional[str] = None
    # True while a stage executes inside a streaming foreachBatch: batch
    # compilers run there per micro-batch, but cross-batch accumulators
    # ($probe minute rollover) need to know the run is part of a stream
    micro_batch: bool = False
    # $probe cross-micro-batch rollover state: name -> {minute, count}
    probe_state: dict = field(default_factory=dict)
    # tokenizer broadcasts memoized by functions/bpe.py; a field, so the
    # per-micro-batch copies of the context share it like the two above
    _bpe_broadcasts: dict = field(default_factory=dict, repr=False)
    # directory resolving $jq/$jslt "resource:/..." script roots — the
    # classpath-resources analog (Script.java:28-46)
    resource_root: Optional[str] = None

    def collection(self, name: str) -> DataFrame:
        if name in self.collections:
            return self.collections[name]
        if self.collection_loader is not None:
            df = self.collection_loader(name)
            self.collections[name] = df
            return df
        raise KeyError(f"unknown collection {name!r} (no loader configured)")

    def write_collection(self, name: str, df: DataFrame) -> None:
        # a micro-batch materializes its write before the epoch ends, so
        # batch n reads stored rows, not batches 0..n-1.  A plain batch
        # run keeps the plan: even a lazy pin runs its shuffle stages
        # while the DataFrame is being built (AQE plans them eagerly).
        if self.micro_batch:
            df = pin(df, eager=True)
        self.collections[name] = df
        if self.collection_writer is not None:
            self.collection_writer(name, df)

    def send(self, topic: str, key: Optional[str], value: dict) -> None:
        if self.producer is not None:
            self.producer(topic, key, value)


def _scans_stored_rows(plan) -> bool:
    """True when an analyzed plan is a leaf relation under nothing but
    filters and plain column selections: reading it is a scan, not a
    recomputation."""
    while not plan.children().isEmpty():
        kind = plan.getClass().getSimpleName()
        if kind == "Project":
            cols = plan.projectList()
            if any(cols.apply(i).getClass().getSimpleName()
                   != "AttributeReference" for i in range(cols.size())):
                return False
        elif kind != "Filter":
            return False
        plan = plan.children().apply(0)
    return True


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage: a durable ``checkpoint`` when the
    SparkContext has a checkpoint directory (it survives executor loss;
    see SCALE.md), ``localCheckpoint`` otherwise.  Lazy unless ``eager``.
    Streaming frames and frames that already scan stored rows come back
    unchanged."""
    if df.isStreaming or _scans_stored_rows(
            df._jdf.queryExecution().analyzed()):
        return df
    if df.sparkSession.sparkContext._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
