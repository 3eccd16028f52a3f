"""Order-sensitive operators P5-P8 and U4 (explicit row_idx invariant)."""

from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.operators.ordered import (
    dedup_first_wins,
    drop_all_null_rows,
    filter_nonblank_key,
    filter_summary_rows,
    take_while,
)

SCHEMA = "row_idx int, key string, val string"


def test_drop_all_null_rows(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, None, None), (3, None, "y")], SCHEMA)
    assert drop_all_null_rows(df, ["key", "val"]).count() == 2


def test_filter_nonblank_key(spark):
    df = spark.createDataFrame(
        [(1, "OE-1", "a"), (2, "", "b"), (3, "   ", "c"), (4, None, "d")], SCHEMA)
    assert [r.row_idx for r in filter_nonblank_key(df, "key").collect()] == [1]


def test_filter_summary_rows(spark):
    df = spark.createDataFrame(
        [(1, "OE-1", "normal row"), (2, "x", "Subtotal NETO"), (3, "y", "iva"), (4, "z", "TOTAL: 99")],
        SCHEMA)
    kept = sorted(r.row_idx for r in filter_summary_rows(df, ["key", "val"]).collect())
    assert kept == [1]  # lowercase "iva" is matched too — values are uppercased first


def test_take_while_stops_at_first_empty(spark):
    df = spark.createDataFrame(
        [(1, "F1", "a"), (2, "F2", "b"), (3, "", "c"), (4, "F4", "d"), (5, "", "e")], SCHEMA)
    stop = (F.col("key").isNull()) | (F.trim(F.col("key")) == "")
    one_group = df.withColumn("grp", F.lit(0))
    kept = sorted(
        r.row_idx
        for r in take_while(one_group, "row_idx", stop, partition_by=["grp"]).collect()
    )
    assert kept == [1, 2]


def test_take_while_no_stop_keeps_all(spark):
    df = spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], SCHEMA)
    stop = F.col("key").isNull()
    one_group = df.withColumn("grp", F.lit(0))
    assert take_while(one_group, "row_idx", stop, partition_by=["grp"]).count() == 2


def test_take_while_global_window_warns(spark):
    """Scale guard: an empty partition_by (a GLOBAL window — one task
    would sort/scan the whole table) raises. An explicit partition_by
    is accepted."""
    import pytest

    df = spark.createDataFrame([(1, "a", "x"), (2, None, "y")], SCHEMA)
    stop = F.col("key").isNull()
    with pytest.raises(ValueError, match="GLOBAL window"):
        take_while(df, "row_idx", stop, partition_by=[])
    take_while(df, "row_idx", stop, partition_by=["val"])


def test_dedup_first_wins(spark):
    df = spark.createDataFrame(
        [(1, "PK1", "first"), (2, "PK1", "second"), (3, "PK2", "only"), (4, "PK1", "third")],
        SCHEMA)
    rows = {r.key: r.val for r in dedup_first_wins(df, ["key"], "row_idx").collect()}
    assert rows == {"PK1": "first", "PK2": "only"}
