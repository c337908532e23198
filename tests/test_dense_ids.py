"""with_dense_ids: the r16 zero-shuffle bucket path must produce exactly
the ids of the generic path (dense 1..N in order-cols order), fall back
when the bucket promise is false, and add no exchange when the input is
already hash-partitioned by the bucket column."""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import Window

from carrot_transform_spark.operators.ids import with_dense_ids


def _mk(spark, n=997, buckets=16):
    # bucket = deterministic range bucket of key; hash-clustered by bucket
    # (row order within partitions is whatever the shuffle produced)
    return (
        spark.range(0, n)
        .select(F.col("id").alias("k"))
        .withColumn("b", F.floor(F.col("k") * buckets / n).cast("long"))
        .repartition(8, "b")
    )


def test_bucket_path_matches_generic(spark):
    df = _mk(spark)
    got = with_dense_ids(df, ["k"], "id", offset=7, small_threshold=0, bucket_col="b")
    rows = {r["k"]: r["id"] for r in got.collect()}
    assert rows == {k: 7 + k + 1 for k in range(997)}
    # plan shape: ids come from the bucket path (broadcast starts join, no
    # range exchange of the payload, no SinglePartition window)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert "SinglePartition" not in plan


def test_bucket_path_repeat_invocations_stable(spark):
    df = _mk(spark, n=500)
    a = with_dense_ids(df, ["k"], "id", small_threshold=0, bucket_col="b")
    b = with_dense_ids(df, ["k"], "id", small_threshold=0, bucket_col="b")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_bucket_overlap_falls_back_to_generic(spark):
    # bucket column NOT aligned with the order: ranges overlap -> the
    # runtime check must reject the fast path and the generic path must
    # still hand out correct dense ids
    df = (
        spark.range(0, 400)
        .select(F.col("id").alias("k"))
        .withColumn("b", (F.col("k") % 4).cast("long"))  # interleaved!
        .repartition(4, "b")
    )
    got = with_dense_ids(df, ["k"], "id", small_threshold=0, bucket_col="b")
    rows = {r["k"]: r["id"] for r in got.collect()}
    assert rows == {k: k + 1 for k in range(400)}


def test_bucket_path_multi_order_cols(spark):
    # composite order key (the compiler's FILEIDX/LINE/FIELDIDX/COMBO shape)
    df = (
        spark.range(0, 300)
        .select(
            (F.col("id") / 3).cast("long").alias("line"),
            (F.col("id") % 3).cast("int").alias("sub"),
        )
        .withColumn("b", F.floor(F.col("line") / 10).cast("long"))
        .repartition(8, "b")
    )
    got = with_dense_ids(df, ["line", "sub"], "id", small_threshold=0, bucket_col="b")
    rows = {(r["line"], r["sub"]): r["id"] for r in got.collect()}
    assert rows == {(i // 3, i % 3): i + 1 for i in range(300)}


def test_bucket_refusal_names_the_reason(spark, caplog):
    # interleaved buckets: the refusal and the global window both say so
    df = (
        spark.range(0, 100)
        .select(F.col("id").alias("k"))
        .withColumn("b", (F.col("k") % 4).cast("long"))
    )
    with caplog.at_level(logging.WARNING, logger="carrot_transform_spark.operators.ids"):
        got = with_dense_ids(df, ["k"], "id", small_threshold=0, bucket_col="b")
    assert {r["k"]: r["id"] for r in got.collect()} == {k: k + 1 for k in range(100)}
    messages = [r.getMessage() for r in caplog.records]
    assert any("refused (overlap) for 100 rows" in m for m in messages), messages
    assert any("global single-partition window over 100 rows" in m for m in messages), messages


def test_double_order_column_with_nan_matches_window(spark, caplog):
    # Spark sorts NaN last and equal to itself, so a NaN-only bucket is
    # disjoint from the rest in Spark's order; Python compares NaN false
    # both ways. The bucket path must refuse a double column outright,
    # leaving Spark's own window order
    vals = [float("nan"), 3.5, -1.0, float("nan"), 0.0, 2.0, float("inf"), -2.5] * 5
    df = spark.createDataFrame(
        [(i, v, int(v != v)) for i, v in enumerate(vals)], "i long, x double, b long"
    )
    with caplog.at_level(logging.WARNING, logger="carrot_transform_spark.operators.ids"):
        got = with_dense_ids(df, ["x", "i"], "id", small_threshold=0, bucket_col="b")
    want = df.withColumn("id", F.row_number().over(Window.orderBy("x", "i")).cast("long"))
    assert sorted(map(tuple, got.select("i", "id").collect())) == sorted(
        map(tuple, want.select("i", "id").collect())
    )
    assert any("refused (float column)" in r.getMessage() for r in caplog.records)


def test_column_bucket_leaves_no_rider(spark):
    df = spark.range(0, 300).select(F.col("id").alias("k"))
    got = with_dense_ids(
        df, ["k"], "id", offset=2, small_threshold=0, bucket_col=F.shiftright("k", 5)
    )
    assert got.columns == ["k", "id"]
    assert {r["k"]: r["id"] for r in got.collect()} == {k: k + 3 for k in range(300)}
    plan = got._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan and "singlepartition" not in plan
