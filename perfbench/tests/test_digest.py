from __future__ import annotations

import pyspark.sql.types as T

from digest import digest

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("tags", T.ArrayType(T.DoubleType())),
        T.StructField("s", T.StringType()),
    ]
)
ROWS = [(1, 0.5, [1.0, 2.5], "a"), (2, None, None, None), (3, -0.0, [], "c"), (3, 7.25, [0.1], "c")]


def test_digest_ignores_row_order(spark):
    a = spark.createDataFrame(ROWS, SCHEMA)
    b = spark.createDataFrame(list(reversed(ROWS)), SCHEMA).repartition(3)
    assert digest(a) == digest(b)
    assert digest(a).startswith("4:")


def test_digest_ignores_float_sum_order(spark):
    xs = [0.1, 0.2, 0.3]
    forward = sum(xs)
    backward = sum(reversed(xs))
    assert forward != backward  # the two orders really differ in the last bits
    a = spark.createDataFrame([(1, forward, [forward], "x")], SCHEMA)
    b = spark.createDataFrame([(1, backward, [backward], "x")], SCHEMA)
    assert digest(a) == digest(b)


def test_digest_changes_with_one_value(spark):
    base = digest(spark.createDataFrame(ROWS, SCHEMA))
    for i, changed in [
        (0, (1, 0.5001, [1.0, 2.5], "a")),
        (1, (2, None, None, "b")),
        (2, (3, -0.0, [0.0], "c")),
        (3, (4, 7.25, [0.1], "c")),
    ]:
        rows = list(ROWS)
        rows[i] = changed
        assert digest(spark.createDataFrame(rows, SCHEMA)) != base, changed


def test_digest_keeps_null_positions(spark):
    schema = T.StructType([T.StructField("a", T.StringType()), T.StructField("b", T.StringType())])
    assert digest(spark.createDataFrame([(None, "x")], schema)) != digest(
        spark.createDataFrame([("x", None)], schema)
    )
