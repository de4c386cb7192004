"""Warehouse sink/source contracts (S8-S10, latest-partition discovery)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdata_scala_offline_data_clean_spark.sources.catalog import Warehouse
from bigdata_scala_offline_data_clean_spark.sources.delta_snapshot import (
    read_delta_snapshot,
)


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path))


def _part(spark, etl_date, rows):
    return spark.createDataFrame(
        [(k, v, etl_date) for k, v in rows], ["k", "v", "etl_date"]
    )


def test_append_accumulates(spark, wh):
    wh.append(_part(spark, "20220101", [(1, "a")]), "dwd", "t")
    wh.append(_part(spark, "20220101", [(2, "b")]), "dwd", "t")
    assert wh.table("dwd", "t").count() == 2


def test_dynamic_overwrite_replaces_only_present_partitions(spark, wh):
    wh.append(_part(spark, "20220101", [(1, "keep")]), "dwd", "t")
    wh.append(_part(spark, "20220102", [(2, "old")]), "dwd", "t")
    wh.overwrite_partitions(_part(spark, "20220102", [(3, "new")]), "dwd", "t")
    got = {
        (r.k, r.v, str(r.etl_date)) for r in wh.table("dwd", "t").collect()
    }
    assert got == {(1, "keep", "20220101"), (3, "new", "20220102")}


def test_overwrite_table_truncates(spark, wh):
    wh.append(_part(spark, "20220101", [(1, "a")]), "dwd", "t")
    wh.overwrite_table(_part(spark, "20220102", [(2, "b")]), "dwd", "t")
    rows = wh.table("dwd", "t").collect()
    assert len(rows) == 1 and rows[0].k == 2


def test_latest_partition_listing_and_exists(spark, wh):
    assert wh.exists("dwd", "t") is False
    assert wh.latest_partition("dwd", "t") is None
    wh.append(_part(spark, "20220101", [(1, "a")]), "dwd", "t")
    wh.append(_part(spark, "20220103", [(2, "b")]), "dwd", "t")
    wh.append(_part(spark, "20220102", [(3, "c")]), "dwd", "t")
    assert wh.exists("dwd", "t") is True
    assert wh.latest_partition("dwd", "t") == "20220103"
    latest = wh.latest("dwd", "t").collect()
    assert [r.k for r in latest] == [2]


def test_latest_partition_uses_hadoop_fs_not_os(spark, wh, monkeypatch):
    """The listing must go through the Hadoop FS API (HDFS/S3-safe), never
    os.listdir on the warehouse root (VERDICT scale-killer #1)."""
    import os as _os

    wh.append(_part(spark, "20220101", [(1, "a")]), "dwd", "t")

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("os.listdir called for warehouse listing")

    monkeypatch.setattr(_os, "listdir", boom)
    assert wh.latest_partition("dwd", "t") == "20220101"


def test_partition_scan_prunes(spark, wh):
    wh.append(_part(spark, "20220101", [(1, "a")]), "dwd", "t")
    wh.append(_part(spark, "20220102", [(2, "b")]), "dwd", "t")
    df = wh.partition("dwd", "t", "20220102")
    assert [r.k for r in df.collect()] == [2]
    # partition filter must prune at planning time (no data-column filter)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_delta_snapshot_rowkey_regex(spark, tmp_path):
    path = str(tmp_path / "delta")
    spark.createDataFrame(
        [("20221001_0001", 1), ("20220930_0002", 2), ("x20221001y", 3)],
        ["row_key", "v"],
    ).write.parquet(path)
    df = read_delta_snapshot(spark, path, rowkey_pattern=".*20221001.*")
    assert sorted(r.v for r in df.collect()) == [1, 3]


def test_delta_snapshot_decoders(spark, tmp_path):
    path = str(tmp_path / "delta2")
    spark.createDataFrame([("k1", "42")], ["row_key", "amount"]).write.parquet(path)
    df = read_delta_snapshot(
        spark, path, decoders={"amount": lambda c: c.cast("int")}
    )
    assert df.schema["amount"].dataType.simpleString() == "int"
    assert df.first().amount == 42


def test_quality_operators(spark):
    from bigdata_scala_offline_data_clean_spark.operators.quality import (
        orphan_rows,
        profile_columns,
        uniqueness_violations,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, None), (3, "c")], "k int, v string"
    )
    prof = {r.col_name: r for r in profile_columns(df, ["k", "v"]).collect()}
    assert prof["k"].n_rows == 4 and prof["k"].n_nulls == 0 and prof["k"].n_distinct == 3
    assert prof["v"].n_nulls == 1 and prof["v"].n_distinct == 3
    assert prof["k"].min_str == "1" and prof["k"].max_str == "3"

    dups = uniqueness_violations(df, ["k"]).collect()
    assert [(r.k, r.dup_count) for r in dups] == [(1, 2)]

    dim = spark.createDataFrame([(1,), (2,)], ["k"])
    orphans = orphan_rows(df, dim, "k", "k")
    assert [r.k for r in orphans.collect()] == [3]


def test_evaluate_expectations_single_pass(spark):
    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.operators.quality import (
        evaluate_expectations,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (2, None)], "k int, v double"
    )
    out = {r.rule: r for r in evaluate_expectations(
        df,
        {
            "no_null_v": (
                F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)),
                lambda m: m == 0,
            ),
            "positive_v": (F.min("v"), lambda m: m > 0),
            "unique_k": (
                F.countDistinct("k") - F.count(F.lit(1)), lambda m: m == 0
            ),
        },
    ).collect()}
    assert out["no_null_v"].observed == 1.0 and not out["no_null_v"].passed
    assert out["positive_v"].observed == -1.0 and not out["positive_v"].passed
    assert out["unique_k"].observed == -1.0 and not out["unique_k"].passed


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from bigdata_scala_offline_data_clean_spark.sources.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    left = spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS lv")
    right = spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS rv")
    wh.write_bucketed(left, "dwd", "bleft", ["k"], buckets=8, sort_cols=["k"])
    wh.write_bucketed(right, "dwd", "bright", ["k"], buckets=8, sort_cols=["k"])
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = wh.bucketed_table("dwd", "bleft").join(
            wh.bucketed_table("dwd", "bright"), "k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: shuffle paid at write time
        assert joined.count() == 10000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS dwd_bleft")
        spark.sql("DROP TABLE IF EXISTS dwd_bright")


def test_write_bucketed_append_from_another_session_is_visible(
    spark, tmp_path
):
    """A streaming micro-batch is a frame of a CLONED session; its
    append must be visible to the warehouse session at once, with no
    manual ``refreshTable`` (s17 serves each micro-batch against the
    index its earlier micro-batches absorbed)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = dict(bucket_cols=["k"], buckets=4, sort_cols=["k"])
    try:
        wh.write_bucketed(
            spark.range(100).withColumnRenamed("id", "k"), "dwd", "fresh",
            **spec,
        )
        assert wh.bucketed_table("dwd", "fresh").count() == 100
        other = spark.newSession()
        wh.write_bucketed(
            other.range(100, 150).withColumnRenamed("id", "k"),
            "dwd", "fresh", **spec, mode="append",
        )
        assert wh.bucketed_table("dwd", "fresh").count() == 150
    finally:
        spark.sql("DROP TABLE IF EXISTS dwd_fresh")


def test_compact_partition_reduces_files(spark, tmp_path):
    import glob

    from bigdata_scala_offline_data_clean_spark.sources.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = (
        spark.range(0, 1000)
        .selectExpr("id", "CAST(id % 7 AS STRING) AS v")
        .withColumn("etl_date", F.lit("20240101"))
        .repartition(16)
    )
    wh.append(df, "ods", "smallfiles")
    other = df.withColumn("etl_date", F.lit("20240102"))
    wh.append(other, "ods", "smallfiles")

    pdir = str(tmp_path / "wh" / "ods" / "smallfiles" / "etl_date=20240101")
    assert len(glob.glob(pdir + "/*.parquet")) == 16
    wh.compact_partition("ods", "smallfiles", "20240101", 2)
    assert len(glob.glob(pdir + "/*.parquet")) == 2
    # untouched partition keeps its files; data round-trips exactly
    assert wh.partition("ods", "smallfiles", "20240101").count() == 1000
    assert wh.partition("ods", "smallfiles", "20240102").count() == 1000


def test_read_csv_clean_quarantines_corrupt_rows(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from bigdata_scala_offline_data_clean_spark.sources.text_ingest import (
        read_csv_clean,
        read_json_clean,
    )

    p = tmp_path / "messy.csv"
    p.write_text(
        "k,v\n"
        "1,alpha\n"
        "not-an-int,beta\n"   # type mismatch -> corrupt
        "3,gamma\n"
    )
    schema = StructType(
        [StructField("k", IntegerType()), StructField("v", StringType())]
    )
    good, bad = read_csv_clean(spark, str(p), schema)
    assert sorted((r.k, r.v) for r in good.collect()) == [(1, "alpha"), (3, "gamma")]
    assert [r.raw_record for r in bad.collect()] == ["not-an-int,beta"]

    j = tmp_path / "messy.jsonl"
    j.write_text('{"k": 1, "v": "a"}\n{broken json\n{"k": 2, "v": "b"}\n')
    good_j, bad_j = read_json_clean(spark, str(j), schema)
    assert sorted((r.k, r.v) for r in good_j.collect()) == [(1, "a"), (2, "b")]
    assert bad_j.count() == 1


# -- SqlWarehouse: catalog-named databases + SQL-statement DML forms --------


@pytest.fixture()
def sqlwh(spark):
    from bigdata_scala_offline_data_clean_spark.sources.catalog import SqlWarehouse

    wh = SqlWarehouse(spark, db_prefix="twh_")
    yield wh
    wh.drop_all()


def test_sqlwh_append_and_latest(spark, sqlwh):
    sqlwh.append(_part(spark, "20220101", [(1, "a")]), "dwd", "t")
    sqlwh.append(_part(spark, "20220103", [(2, "b")]), "dwd", "t")
    sqlwh.append(_part(spark, "20220102", [(3, "c")]), "dwd", "t")
    assert sqlwh.exists("dwd", "t") is True
    assert spark.catalog.tableExists("twh_dwd.t")
    assert sqlwh.latest_partition("dwd", "t") == "20220103"
    assert [r.k for r in sqlwh.latest("dwd", "t").collect()] == [2]


def test_sqlwh_analyze_records_catalog_stats(spark, sqlwh):
    sqlwh.append(_part(spark, "20220101", [(i, "x") for i in range(50)]), "dwd", "t")
    assert sqlwh.row_count_stat("dwd", "t") is None  # no stats yet
    sqlwh.analyze("dwd", "t", columns=["k"])
    assert sqlwh.row_count_stat("dwd", "t") == 50


def test_sqlwh_insert_overwrite_partition_sql_form(spark, sqlwh):
    """S9's literal INSERT OVERWRITE ... PARTITION statement replaces only
    the partitions present in the temp view (dynamic mode)."""
    sqlwh.append(_part(spark, "20220101", [(1, "keep")]), "dwd", "t")
    sqlwh.append(_part(spark, "20220102", [(2, "old")]), "dwd", "t")
    sqlwh.overwrite_partitions(_part(spark, "20220102", [(3, "new")]), "dwd", "t")
    got = {
        (r.k, r.v, str(r.etl_date)) for r in sqlwh.table("dwd", "t").collect()
    }
    assert got == {(1, "keep", "20220101"), (3, "new", "20220102")}


def test_sqlwh_sql_form_matches_dataframe_form(spark, sqlwh, tmp_path):
    """The SQL-statement overwrite and the DataFrame-writer overwrite land
    the same table state from the same inputs."""
    pathwh = Warehouse(spark, str(tmp_path))
    for wh in (sqlwh, pathwh):
        wh.append(_part(spark, "20220101", [(1, "keep"), (2, "x")]), "dwd", "t")
        wh.overwrite_partitions(
            _part(spark, "20220102", [(5, "new")]), "dwd", "t"
        )
        wh.overwrite_partitions(
            _part(spark, "20220101", [(9, "repl")]), "dwd", "t"
        )
    canon = lambda wh: {
        (r.k, r.v, str(r.etl_date)) for r in wh.table("dwd", "t").collect()
    }
    assert canon(sqlwh) == canon(pathwh)
