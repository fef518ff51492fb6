"""$sql — Spark-SQL escape hatch over the pipeline's current frame
(driver parity: sql_stage in test_oracle_parity.py)."""

import pytest
from pyspark.sql import Row

from pincette_mongo_streams_spark import Context, compile_pipeline

ROWS = [Row(id=1, v=10), Row(id=2, v=20), Row(id=3, v=30)]


def test_sql_string_form(spark):
    df = spark.createDataFrame(ROWS)
    out = compile_pipeline(
        [{"$sql": "SELECT id, v * 2 AS d FROM {this} WHERE v >= 20"}],
        Context(spark=spark))(df)
    assert [(r.id, r.d) for r in out.sort("id").collect()] == \
        [(2, 40), (3, 60)]


def test_sql_composes_with_stages(spark):
    df = spark.createDataFrame(ROWS)
    out = compile_pipeline(
        [{"$match": {"v": {"$gte": 20}}},
         {"$sql": "SELECT sum(v) AS total FROM {this}"},
         {"$set": {"total2": {"$multiply": ["$total", 2]}}}],
        Context(spark=spark))(df)
    r = out.collect()[0]
    assert (r.total, r.total2) == (50, 100)


def test_sql_views_bind_collections(spark):
    df = spark.createDataFrame(ROWS)
    names = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")])
    out = compile_pipeline(
        [{"$sql": {"query": "SELECT t.id, n.name FROM {this} t "
                            "JOIN {names} n ON t.id = n.id",
                   "views": ["names"]}}],
        Context(spark=spark, collections={"names": names}))(df)
    assert sorted((r.id, r.name) for r in out.collect()) == \
        [(1, "a"), (2, "b")]


def test_sql_requires_this(spark):
    df = spark.createDataFrame(ROWS)
    with pytest.raises(ValueError, match=r"\{this\}"):
        compile_pipeline([{"$sql": "SELECT 1"}], Context(spark=spark))(df)


def test_sql_unknown_view_rejected(spark):
    df = spark.createDataFrame(ROWS)
    with pytest.raises(ValueError, match="not a known collection"):
        compile_pipeline(
            [{"$sql": {"query": "SELECT * FROM {this} JOIN {x}",
                       "views": ["x"]}}],
            Context(spark=spark))(df)


def test_sql_unknown_option_rejected(spark):
    df = spark.createDataFrame(ROWS)
    with pytest.raises(ValueError, match="unknown"):
        compile_pipeline(
            [{"$sql": {"query": "SELECT * FROM {this}", "view": ["x"]}}],
            Context(spark=spark))(df)


def test_sql_literal_braces_need_doubling(spark):
    df = spark.createDataFrame(ROWS)
    # undoubled regex quantifier -> clear compile-time error, not a
    # runtime formatter crash
    with pytest.raises(ValueError, match="escape literal braces"):
        compile_pipeline(
            [{"$sql": "SELECT * FROM {this} WHERE CAST(id AS STRING) "
                      "RLIKE '1{2}'"}],
            Context(spark=spark))(df)
    # doubled braces reach Spark as literal { }
    out = compile_pipeline(
        [{"$sql": "SELECT id FROM {this} WHERE CAST(v AS STRING) "
                  "RLIKE '[0-9]{{2}}'"}],
        Context(spark=spark))(df)
    assert out.count() == 3


def test_sql_reserved_view_names_rejected(spark):
    df = spark.createDataFrame(ROWS)
    for bad in ("this", "args", "not an identifier"):
        with pytest.raises(ValueError, match="reserved|identifier"):
            compile_pipeline(
                [{"$sql": {"query": "SELECT * FROM {this}",
                           "views": [bad]}}],
                Context(spark=spark, collections={bad: df}))(df)


def test_views_and_mix_parts_resolve_through_the_loader(spark):
    """$sql views and $mixCorpora parts read collections through
    Context.collection, so a Context with only a collection_loader (no
    pre-bound collections) serves them."""
    df = spark.createDataFrame(ROWS)
    names = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")])
    ctx = Context(spark=spark, collection_loader={"names": names}.__getitem__)
    out = compile_pipeline(
        [{"$sql": {"query": "SELECT t.id, n.name FROM {this} t "
                            "JOIN {names} n ON t.id = n.id",
                   "views": ["names"]}}], ctx)(df)
    assert sorted((r.id, r.name) for r in out.collect()) == \
        [(1, "a"), (2, "b")]
    ctx = Context(spark=spark, collection_loader={"names": names}.__getitem__)
    out = compile_pipeline(
        [{"$mixCorpora": {"id": "$id", "extra": {"n": {"from": "names"}}}}],
        ctx)(df)
    assert sorted((r.id, r.mix_source) for r in out.collect()) == \
        [(1, "base"), (1, "n"), (2, "base"), (2, "n"), (3, "base")]
