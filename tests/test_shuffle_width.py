"""Shuffle width: the session default and the value-bucket primitives that
read it.

get_spark() sizes every shuffle to one wave of the session's task threads,
so a one-thread session runs with a width of 1 — and operators.sorts buckets
its distributed ranks and prefix sums by that width. Both are checked here
on the shared session, whose width is restored afterwards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.operators.sorts import global_rank, ordered_prefix_sums
from recsys_spark_spark.session import get_spark

WIDTH = "spark.sql.shuffle.partitions"

# Ties (v=2, v=5) and NULLs, with a unique tiebreak k.
ROWS = [(1, 5.0, 3), (2, 2.0, 1), (3, None, 4), (4, 5.0, 2), (5, 7.0, 5),
        (6, 2.0, 9), (7, None, 6), (8, 1.0, 7), (9, 2.0, 8), (10, 3.0, 1)]


def _frame(spark):
    return spark.createDataFrame(ROWS, "k long, v double, w long")


def test_get_spark_default_width_is_one_wave(spark):
    before = spark.conf.get(WIDTH)
    try:
        s = get_spark(app_name="recsys-spark-tests")
        assert s.conf.get(WIDTH) == str(s.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(WIDTH, before)


@pytest.mark.parametrize("width", [1, 2])
def test_value_bucket_ops_match_single_window(spark, width):
    before = spark.conf.get(WIDTH)
    spark.conf.set(WIDTH, str(width))
    try:
        df = _frame(spark)
        ranked = global_rank(spark, df, value_col="v", tiebreak="k")
        want_rank = df.withColumn(
            "pos",
            F.row_number().over(Window.orderBy(F.col("v").desc_nulls_last(), "k")).cast("long"),
        )
        assert sorted(ranked.collect()) == sorted(want_rank.collect())

        summed = ordered_prefix_sums(
            spark, df, order_col="v", tiebreak="k", sum_cols={"w": "run_w", "k": "run_k"}
        )
        w = Window.orderBy(F.col("v").asc_nulls_last(), "k").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        want_sums = df.withColumn("run_w", F.sum("w").over(w).cast("long")).withColumn(
            "run_k", F.sum("k").over(w).cast("long")
        )
        assert sorted(summed.collect()) == sorted(want_sums.collect())
    finally:
        spark.conf.set(WIDTH, before)
