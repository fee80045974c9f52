"""operators/localframe.py — the JVM-native literal-frame builder.

Every ``literal_df`` call site used to be a ``createDataFrame`` literal
(Python-RDD-backed; each action pays a Python-worker handshake). The
contract of the rewrite is EXACT equivalence: same schema (names, types,
nullability, order — including the dict-inference key order) and same
rows, with execution as a LocalTableScan (zero Python tasks).
"""

from __future__ import annotations

import datetime

import pytest

from nornicdb_spark.operators.localframe import (
    Unrenderable,
    literal_df,
    local_df,
)

CASES = [
    ([("Chn:0", "Chn:1")], "src string, dst string"),
    ([(1,)], "id bigint"),
    ([("a:1",)], "_target_id string"),
    ([], "_key long"),
    ([], "query_id bigint, vec_id bigint, score double"),
    ([(0, 0.5, True, None)], "a int, b double, c boolean, d string"),
    ([{"x": 1, "_key": 0}], None),  # dict inference, sorted keys
    # dict inference with key evolution: first-row sorted, new appended
    ([{"x": 1.5, "name": "o'b"}, {"x": 2.0, "name": "b\\c", "extra": True}],
     None),
    ([(1, [0.5, 0.25])], "k bigint, v array<double>"),
    ([(i, j) for i in range(3) for j in range(i, 3)], "bi int, bj int"),
    ([(10**15 + 7,)], "k long"),
    ([("it's\na\\multi\nline",)], "plan string"),
    ([(float("inf"), float("-inf"))], "a double, b double"),
    # dict rows with an explicit schema: a missing key is NULL-filled
    ([{"a": 1}, {"b": 2}], "a bigint, b bigint"),
]


@pytest.mark.parametrize("data,schema", CASES)
def test_local_df_equals_createDataFrame(spark, data, schema):
    a = local_df(spark, data, schema)
    b = spark.createDataFrame(data, schema)
    assert a.schema == b.schema  # includes nullability and field order
    assert a.collect() == b.collect()


def test_local_df_is_local_table_scan(spark):
    df = local_df(spark, [(1, "x")], "k bigint, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_unsupported_types_fall_back(spark):
    # datetime is outside the literal-SQL subset: literal_df must still
    # return the correct rows via the createDataFrame fallback
    with pytest.raises(Unrenderable):
        local_df(spark, [(datetime.datetime(2024, 1, 1),)], "t timestamp")
    df = literal_df(spark, [(datetime.datetime(2024, 1, 1),)], "t timestamp")
    assert df.count() == 1
    assert df.rdd.getNumPartitions() == 1  # fallback is single-partition


def test_nan_renders(spark):
    # NaN == NaN is False in python, so compare via isnan
    import math

    row = local_df(spark, [(float("nan"),)], "a double").collect()[0]
    assert math.isnan(row.a)


def test_mixed_inference_falls_back(spark):
    # mixed-type column under dict inference: createDataFrame's merging
    # rules must decide, not the renderer
    with pytest.raises(Unrenderable):
        local_df(spark, [{"x": 1}, {"x": "s"}], None)


def test_escaped_string_literals_conf_falls_back(spark):
    # with escape processing off in the SQL parser, the renderer's
    # backslash/quote escapes would corrupt the values — the literal
    # path must step aside for createDataFrame
    key = "spark.sql.parser.escapedStringLiterals"
    data, schema = [("it's a \\path",), ("plain",)], "s string"
    spark.conf.set(key, "true")
    try:
        with pytest.raises(Unrenderable):
            local_df(spark, data, schema)
        assert local_df(spark, [("plain",)], schema).collect() == (
            spark.createDataFrame([("plain",)], schema).collect()
        )
        got = literal_df(spark, data, schema)
        assert got.schema == spark.createDataFrame(data, schema).schema
        assert got.collect() == spark.createDataFrame(data, schema).collect()
    finally:
        spark.conf.unset(key)
