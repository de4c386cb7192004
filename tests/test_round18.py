"""Round-18 optimization parity tests.

Every test here pins an optimization-round rewrite to the slow-but-
obviously-correct form it replaced: the rewrites must be bit-identical,
not just approximately right, because the DuckDB oracles compare exact
values and hashes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# distributed_ntile_value_counts == groupBy of distributed_ntile's
# row-level assignment (a141's rewrite): same per-(value, tile) row
# census under ties, straddlers, and the uneven-tile remainder.
# ---------------------------------------------------------------------------


def test_ntile_value_counts_matches_row_assignment(spark):
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        distributed_ntile,
        distributed_ntile_value_counts,
    )

    # 23 rows over 7 distinct values with heavy ties -> ntile(4) has
    # remainder 3 (uneven tiles) and at least one straddling value
    vals = [10, 10, 10, 10, 10, 20, 20, 30, 30, 30, 30, 30, 30, 40,
            50, 50, 50, 60, 60, 60, 60, 70, 70]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    tiled = distributed_ntile(df, 4, "v", tie_cols=["id"], tile_col="t")
    want = {
        (r["v"], r["t"]): r["n"]
        for r in tiled.groupBy("v", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        (r["v"], r["t"]): r["n_rows"]
        for r in distributed_ntile_value_counts(
            df, 4, "v", tile_col="t"
        ).collect()
    }
    assert got == want


def test_ntile_value_counts_descending(spark):
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        distributed_ntile,
        distributed_ntile_value_counts,
    )

    vals = [5, 5, 3, 3, 3, 9, 1, 1, 7, 7, 7, 7]
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    tiled = distributed_ntile(
        df, 3, "v", ascending=False, tie_cols=["id"], tile_col="t"
    )
    want = {
        (r["v"], r["t"]): r["n"]
        for r in tiled.groupBy("v", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        (r["v"], r["t"]): r["n_rows"]
        for r in distributed_ntile_value_counts(
            df, 3, "v", ascending=False, tile_col="t"
        ).collect()
    }
    assert got == want


def test_ntile_value_counts_null_raises(spark):
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        distributed_ntile_value_counts,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 3.0)], "id long, v double"
    )
    with pytest.raises(Exception, match="null/NaN v|USER_RAISED"):
        distributed_ntile_value_counts(df, 2, "v").collect()


# ---------------------------------------------------------------------------
# grouped_exact_percentiles_by_value == the built-in percentile()
# aggregate (a145's rewrite): identical interpolation on a bounded
# integer domain, including single-row groups and exact-rank hits.
# ---------------------------------------------------------------------------


def test_value_collapsed_percentiles_match_builtin(spark):
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        grouped_exact_percentiles_by_value,
    )

    rows = (
        [("a", d) for d in [3, 3, 5, 8, 8, 8, 13, 21, 21, 34]]
        + [("b", d) for d in [1, 2, 2, 2, 2, 100]]
        + [("c", 7)]  # single-row group: every q == the one value
        + [("a", None)]  # nulls drop, matching percentile()
    )
    df = spark.createDataFrame(rows, "g string, d int")
    qs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        (r["g"], r["q"]): r["value"]
        for r in grouped_exact_percentiles_by_value(
            df, ["g"], "d", qs
        ).collect()
    }
    want = {}
    for r in (
        df.where(F.col("d").isNotNull())
        .groupBy("g")
        .agg(
            F.expr(
                "percentile(cast(d as double), array("
                + ", ".join(str(q) for q in qs)
                + "))"
            ).alias("p")
        )
        .collect()
    ):
        for q, v in zip(qs, r["p"]):
            want[(r["g"], q)] = v
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], k


# ---------------------------------------------------------------------------
# The pin policy comes from the session: with a checkpoint dir configured
# every pin_frame is a replicated checkpoint(), with identical results;
# without one, nothing is written (the local bench path).
# ---------------------------------------------------------------------------


def test_reliable_pins_auto_resolution(spark, tmp_path):
    import glob

    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        pin_frame,
    )

    df = spark.range(0, 100, numPartitions=2)
    ckpt = tmp_path / "ckpt"
    sc = spark.sparkContext
    prior = sc.getCheckpointDir()  # other tests may have set one
    try:
        sc._jsc.setCheckpointDir(None)
        assert pin_frame(df, eager=True).count() == 100
        assert not glob.glob(str(tmp_path / "**" / "rdd-*"), recursive=True)
        sc.setCheckpointDir(str(ckpt))
        assert pin_frame(df).count() == 100
        assert glob.glob(str(ckpt / "**" / "rdd-*"), recursive=True)
    finally:
        if prior is None:
            sc._jsc.setCheckpointDir(None)
        else:
            sc.setCheckpointDir(prior)


def test_reliable_pins_lifecycle_same_rows(spark, tmp_path):
    import glob

    from bigdata_scala_offline_data_clean_spark.queries import all_queries

    specs = all_queries()
    sf = "/root/testdata/sf0.001"
    fn = specs["c70_minhash_index_serve"].spark
    sc = spark.sparkContext
    prior = sc.getCheckpointDir()  # other tests may have set one
    ckpt = tmp_path / "ckpt"
    try:
        sc._jsc.setCheckpointDir(None)
        base = sorted(map(tuple, fn(spark, sf).collect()))
        sc.setCheckpointDir(str(ckpt))
        rel = sorted(map(tuple, fn(spark, sf).collect()))
    finally:
        if prior is None:
            sc._jsc.setCheckpointDir(None)
        else:
            sc.setCheckpointDir(prior)
    assert rel == base
    # the reliable path really wrote replicated checkpoint data
    assert glob.glob(str(ckpt / "**" / "rdd-*"), recursive=True)
