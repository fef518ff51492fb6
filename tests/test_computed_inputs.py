"""A computed stage input gives the same columns and rows as the plain
field it computes.

The signature, near-dup and retrieval stages are built as generated SQL
over a column reference; a computed input is projected to a temporary
column first and the same SQL runs over it.  Each case runs one stage
twice on a tiny frame (null and empty texts included): once over the
plain field, once over an expression that evaluates to that field.
"""

import pytest

from pincette_mongo_streams_spark import Context, compile_pipeline

TEXT = {"$concat": ["$text", ""]}
EMB = {"$map": {"input": "$embedding", "in": "$$this"}}

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", [1.0, 0.0, 0.0]),
    (2, "the quick brown fox jumps over the lazy cat", [0.99, 0.1, 0.0]),
    (3, "lorem ipsum dolor sit amet consectetur", [0.0, 1.0, 0.0]),
    (4, None, None),
    (5, "", [0.0, 0.0, 0.0]),
    (6, "the quick brown fox jumps over the lazy dog", [1.0, 0.0, 0.0]),
]

MH = {"id": "id", "shingle": 2, "numHashes": 8, "bands": 4}

CASES = [
    ("$minhash", {"as": "mh", "shingle": 2, "numHashes": 8}, "text"),
    ("$simhash", {"as": "sh", "shingle": 2, "bits": 16}, "text"),
    ("$minhashDedup", MH, "text"),
    ("$minhashDedup", {**MH, "verify": 0.5, "transitive": True,
                       "as": "cluster"}, "text"),
    ("$simhashDedup", {"id": "id", "shingle": 2, "bits": 16,
                       "maxHamming": 3}, "text"),
    ("$crossDedup", {**MH, "from": "ref"}, "text"),
    ("$crossDedup", {**MH, "from": "ref", "verify": 0.5}, "text"),
    ("$jaccardJoin", {**MH, "threshold": 0.3}, "text"),
    ("$bm25", {"query": "quick fox", "id": "id", "k": 4}, "text"),
    ("$annTopK", {"queries": "q", "id": "id", "k": 2}, "embedding"),
]


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize(
    "stage, options, field", CASES,
    ids=[f"{s}-{i}" for i, (s, _, _) in enumerate(CASES)])
def test_computed_input_equals_plain_field(spark, stage, options, field):
    df = spark.createDataFrame(
        DOCS, "id long, text string, embedding array<double>")
    ctx = Context(spark=spark, collections={
        "ref": spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy cat"),
             (11, None), (12, "")], "id long, text string"),
        "q": spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
            "query_id long, embedding array<double>"),
    })
    computed = TEXT if field == "text" else EMB
    outs = [
        compile_pipeline([{stage: {**options, "input": inp}}], ctx)(df)
        for inp in (f"${field}", computed)
    ]
    assert outs[0].columns == outs[1].columns
    assert _rows(outs[0]) == _rows(outs[1])
