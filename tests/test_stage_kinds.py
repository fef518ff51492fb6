"""Every registered stage declares one streaming kind
(``register_stage(name, kind)``) and streams as it says.  A ``batch``
or ``corpus`` stage raises its kind's message when the pipeline compiles
inside a micro-batch, and ``run_streaming`` rejects it at submit without
changing the session conf or the caller's Context; a ``plan``,
``aggregate`` or ``per_batch`` stage raises no kind message.  The check
runs before the stage's compiler, so ``{}`` serves as the expression."""

import pytest

from pincette_mongo_streams_spark import Context, stage_names
from pincette_mongo_streams_spark.pipeline import (KINDS, compile_stage,
                                                   stage_kind)
from pincette_mongo_streams_spark.streaming.runtime import run_streaming

_MESSAGES = {"batch": "is batch-only", "corpus": "is corpus-wide"}

# stages whose expression decides whether they stream: the streaming
# form here, the other form in test_expression_decides_the_kind
_STREAMING_FORM = {
    "$dsirScore": {"sourceFrom": "src"},
    "$knnJoin": {"from": "corpus"},
    "$jaccardJoin": {"from": "corpus"},
    "$editDistanceJoin": {"from": "corpus"},
}

_CONF_KEYS = ("spark.sql.shuffle.partitions",
              "spark.sql.streaming.stateStore.providerClass")


def _compile_error(name, expression, ctx) -> str:
    try:
        compile_stage(name, expression, ctx)
    except Exception as e:  # a compiler may reject {} its own way
        return str(e)
    return ""


@pytest.mark.parametrize("name", stage_names())
def test_stage_streams_as_its_kind_says(spark, name):
    kind = stage_kind(name)
    assert kind in KINDS
    micro_batch = Context(spark=spark, micro_batch=True)
    err = _compile_error(name, _STREAMING_FORM.get(name, {}), micro_batch)
    if kind not in _MESSAGES:
        assert not any(m in err for m in _MESSAGES.values()), err
        return
    assert err.startswith(f"{name} {_MESSAGES[kind]}"), err
    before = {k: spark.conf.get(k, None) for k in _CONF_KEYS}
    source = spark.readStream.format("rate").load()
    ctx = Context(spark=spark)
    with pytest.raises(ValueError, match=_MESSAGES[kind]):
        run_streaming(source, [{"$match": {}}, {name: {}}], ctx,
                      lambda df, epoch: None,
                      state_store="rocksdb", state_partitions=3)
    assert {k: spark.conf.get(k, None) for k in _CONF_KEYS} == before
    assert not ctx.streaming and not ctx.micro_batch


@pytest.mark.parametrize("name, expression, kind", [
    ("$dsirScore", {"input": "$t", "id": "i", "from": "tgt"}, "corpus"),
    ("$knnJoin", {"input": "$e"}, "batch"),
    ("$jaccardJoin", {"input": "$t"}, "batch"),
    ("$editDistanceJoin", {"input": "$t"}, "batch"),
    ("$hint", {"coalesce": 2}, "batch"),
    ("$hint", {"cache": True}, "batch"),
])
def test_expression_decides_the_kind(spark, name, expression, kind):
    compile_stage(name, expression, Context(spark=spark))
    with pytest.raises(ValueError, match=_MESSAGES[kind]):
        compile_stage(name, expression,
                      Context(spark=spark, micro_batch=True))
