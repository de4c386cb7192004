"""Round-16 pins: the registered tau-calibration query is the
operator's playbook bit-for-bit, the calibration guard warns on the
many-duplicates failure mode, and the partition-erase API rejects
layouts whose directory names it cannot reconstruct."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def test_a217_tau_matches_operator_bitwise(spark):
    """The driver-checked a217 row must BE the
    ``calibrate_cosine_threshold`` playbook: same canonical sample,
    same budget arithmetic, same tau to the last bit -- otherwise the
    registered query and the operator could drift apart and the
    'recalibrate, never retrain alone' remediation would no longer be
    what the driver actually checks."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        calibrate_cosine_threshold,
        calibration_sample_size,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.round16 import (
        a217_tau_calibration,
    )

    row = a217_tau_calibration(spark, SF_SMALL).collect()[0]
    e = load_table(spark, SF_SMALL, "embeddings")
    tau_op = calibrate_cosine_threshold(
        e, sample_size=calibration_sample_size(e.count())
    )
    assert row["tau_calibrated"] == tau_op  # bit-exact, both 6dp floats
    assert row["within_budget"] is True
    # the estimate the query reports is the one the budget rule bounds
    assert row["est_chance_degree_at_tau"] <= row["chance_degree_budget"]


def test_calibrate_warns_when_true_dups_consume_budget(spark):
    """ADVICE r15: a sample dominated by GENUINE duplicate pairs pushes
    tau above the true-dup cosine level and semantic dedup silently
    no-ops.  The operator cannot fix that (chance and genuine pairs are
    indistinguishable by cosine), but it must say so: boundary cosine
    >= warn_dup_level fires a UserWarning.  A chance-dominated corpus
    stays silent."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        calibrate_cosine_threshold,
    )

    # 50 vectors, 40 of them identical -> ~780 cosine-1.0 pairs against
    # a budget of k = floor(0.05/49 * 1225) = 1
    dup_heavy = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.when(
            F.col("id") < 40, F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))
        )
        .otherwise(
            F.array(
                F.sin(F.col("id") * 1.0),
                F.cos(F.col("id") * 2.0),
                F.sin(F.col("id") * 3.0),
            )
        )
        .alias("embedding"),
    )
    with pytest.warns(UserWarning, match="GENUINE"):
        tau = calibrate_cosine_threshold(dup_heavy, sample_size=64)
    assert tau > 0.9  # the documented (conservative) outcome

    from bigdata_scala_offline_data_clean_spark.queries._util import load_table

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> failure
        calibrate_cosine_threshold(
            load_table(spark, SF_SMALL, "embeddings"), sample_size=128
        )


def test_bucket_layout_write_census_and_serve_plan_stability(
    spark, tmp_path
):
    """The c76 oracle's load-bearing assumptions, pinned on synthetic
    data: (1) a repartition-into-bucket-layout write lands EXACTLY one
    file per bucket per generation (what makes files_before = 3 x 4
    derivable from first principles); (2) the serve-side join plans the
    SAME zero-index-side-exchange shape with tombstones pending as
    after the compaction rewrite -- compaction changes the file layout,
    never the plan the serve relies on."""
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    buckets, cols = 4, ["band_id", "band_sig"]
    spec = dict(bucket_cols=cols, buckets=buckets, sort_cols=cols)

    def gen_rows(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id",
            "CAST(id % 8 AS INT) AS band_id",
            "md5(CAST(id % 97 AS STRING)) AS band_sig",
        )

    def bucket_layout(df):
        return df.repartition(buckets, *[F.col(c) for c in cols])

    def serve_exchanges():
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = gen_rows(9000, 9100).withColumnRenamed("doc_id", "d")
            plan = (
                wh.read_bucketed_live("dwd", "t76_idx")
                .join(probe, cols)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # the probe-side hash exchange is the ONLY non-broadcast
        # exchange; the bucketed index side never shuffles
        return plan.count("Exchange hashpartitioning")

    try:
        wh.write_bucketed(bucket_layout(gen_rows(0, 500)), "dwd",
                          "t76_idx", **spec)
        assert wh.data_file_count("dwd", "t76_idx") == buckets
        for day in (1, 2):
            wh.write_bucketed(
                bucket_layout(gen_rows(500 * day, 500 * (day + 1))),
                "dwd", "t76_idx", **spec, mode="append",
            )
        assert wh.data_file_count("dwd", "t76_idx") == 3 * buckets
        wh.append_tombstones(
            spark.range(0, 1500, 7).selectExpr("id AS doc_id"),
            "dwd", "t76_idx",
        )
        exch_with_tombstones = serve_exchanges()
        compacted, before, after = wh.maybe_compact_bucketed(
            "dwd", "t76_idx", **spec, max_files_per_bucket=2
        )
        assert (compacted, before, after) == (True, 3 * buckets, buckets)
        assert serve_exchanges() == exch_with_tombstones == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS dwd_t76_idx")


def test_percolation_guard_blocks_percolating_threshold(spark):
    """VERDICT r15 task #4: a215/a216 monitored; nothing ENFORCED.  The
    opt-in guard turns the round-15 falsification into a precondition:
    at sf0.1 the fixed tau 0.3 percolates (chance degree >> 1) and the
    guarded operators must refuse to run, while the calibrated tau
    passes the same guard.  The guard fires BEFORE any pair/assignment
    work (pinned via semdedup with an unusable dummy centroid)."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        PercolationRiskError,
        calibrate_cosine_threshold,
        embedding_neardup_pairs,
        estimate_chance_pair_degree,
        semdedup,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table

    e = load_table(spark, "/root/testdata/sf0.1", "embeddings")

    # direction 1: the percolating production tau trips the guard
    with pytest.raises(PercolationRiskError, match="[Rr]ecalibrate"):
        embedding_neardup_pairs(
            e, threshold=0.3, guard_max_chance_degree=1.0
        )
    # ...and it fires before assignment work: the dummy centroid would
    # fail the assignment if the guard ran second
    with pytest.raises(PercolationRiskError):
        semdedup(
            e, centroids=[[0.0]], threshold=0.3, guard_max_chance_degree=1.0
        )

    # direction 2: the calibrated tau passes the identical guard
    tau = calibrate_cosine_threshold(e, sample_size=512)
    assert estimate_chance_pair_degree(e, threshold=tau) < 1.0
    guarded = embedding_neardup_pairs(
        e, threshold=tau, guard_max_chance_degree=1.0
    )
    assert guarded.count() >= 0  # plan built and runnable

    # default (None) preserves unguarded monitoring behavior: a215/a216
    # style callers can still measure a percolating threshold
    unguarded = embedding_neardup_pairs(e, threshold=0.3)
    assert unguarded.limit(1).count() == 1


def test_a218_calibrated_dedup_keeps_corpus_and_still_merges(spark):
    """The closed loop's end state, pinned where the fixed tau dies: at
    sf0.1 the calibrated-tau semdedup must keep (nearly) the whole
    corpus -- tau 0.3 keeps 0.0005 of it (round 15) -- while still
    merging GENUINE near-duplicates (a no-op dedup would also 'keep
    everything'; merged_any separates health from vacuity)."""
    from bigdata_scala_offline_data_clean_spark.queries.round16 import (
        a218_semdedup_calibrated,
    )

    row = a218_semdedup_calibrated(spark, "/root/testdata/sf0.1").collect()[0]
    assert row["keep_rate"] > 0.9  # healthy, not percolated
    assert row["merged_any"] is True  # and not vacuous
    assert row["tau_calibrated"] > 0.3  # tau tracked n past the old fixed tau


def test_a219_bloom_has_no_false_negatives_and_signals_sizing(spark):
    """The bloom contract, pinned where it matters: (1) NO false
    negatives at any SF (a blocklisted doc slipping through the
    prefilter would survive curation -- the one unacceptable failure);
    (2) with m FIXED across SFs the measured FPR must GROW with
    blocklist occupancy -- the census is the production signal that m
    needs resizing, so it must actually move."""
    from bigdata_scala_offline_data_clean_spark.queries.round16 import (
        a219_bloom_blocklist,
    )

    small = a219_bloom_blocklist(
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    big = a219_bloom_blocklist(spark, "/root/testdata/sf0.1").collect()[0]
    assert small["no_false_negatives"] and big["no_false_negatives"]
    assert big["n_blocklist"] > small["n_blocklist"]  # occupancy grew
    assert big["fpr_measured"] > small["fpr_measured"]  # and FPR with it
    # the exact verify rescued every false positive: kept = corpus - block
    for row in (small, big):
        assert row["n_kept"] == row["n_corpus"] - row["n_blocklist"]


def test_s18_state_identity_invariant_to_batch_split(spark, monkeypatch):
    """s18's exactness argument is the maintained-state identity: top-S
    of a union equals the merged per-batch top-S, and counts are
    additive partials -- so the report row must be IDENTICAL under any
    batch schedule (1 slice == 2 slices == the batch a217)."""
    from bigdata_scala_offline_data_clean_spark.queries import round16 as r16

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(r16, "_S18_SLICES", 1)
    one = r16.s18_stream_tau_calibration(spark, sf).collect()
    monkeypatch.setattr(r16, "_S18_SLICES", 2)
    two = r16.s18_stream_tau_calibration(spark, sf).collect()
    batch = r16.a217_tau_calibration(spark, sf).collect()
    assert one == two == batch


def test_s18_sample_merge_idempotent_under_redelivery(spark):
    """foreachBatch is at-least-once: a batch retried after the state
    overwrite gets merged AGAIN, so the maintained-sample merge must be
    idempotent -- merging the same batch twice equals merging it once
    (review r16: the pre-fix union kept duplicate vec_ids whose
    cosine-1.0 self-pairs would corrupt the calibration)."""
    from bigdata_scala_offline_data_clean_spark.queries.round16 import (
        _s18_merge_sample,
    )

    batch = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], ["vec_id", "embedding"]
    )
    once = _s18_merge_sample(None, batch)
    twice = _s18_merge_sample(once, batch)
    key = lambda r: r["vec_id"]  # noqa: E731
    assert sorted(map(tuple, once.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, twice.collect()), key=lambda t: t[0]
    )
    assert twice.count() == 6  # no duplicate vec_ids survive


def test_partition_verbs_reject_non_round_trip_directories(
    spark, tmp_path
):
    """Review r16: the dtype guard alone cannot catch a STRING source
    column holding zero-padded numerics -- 'cell=07' type-infers back
    as int 7, and name reconstruction would target the WRONG directory
    (a GDPR erase that silently does not erase).  Same for a NULL
    partition's __HIVE_DEFAULT_PARTITION__.  Both must fail loudly."""
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # zero-padded numeric strings: dirs cell=07/cell=08, inferred int
    spark.range(10).selectExpr(
        "id AS n_id", "concat('0', 7 + id % 2) AS cell"
    ).write.partitionBy("cell").parquet(wh.path("dwd", "t_pad"))
    assert dict(
        spark.read.parquet(wh.path("dwd", "t_pad")).dtypes
    )["cell"] in ("int", "bigint")  # the dtype guard is blind here
    with pytest.raises(NotImplementedError, match="round-trip"):
        wh.erase_partition_rows(
            "dwd", "t_pad", "cell",
            spark.range(2).selectExpr("id AS n_id"), "n_id",
        )
    with pytest.raises(NotImplementedError, match="round-trip"):
        wh.compact_partitions("dwd", "t_pad", "cell")

    # NULL partition value: __HIVE_DEFAULT_PARTITION__ directory
    spark.range(10).selectExpr(
        "id AS n_id",
        "CASE WHEN id < 2 THEN CAST(NULL AS INT) "
        "ELSE CAST(id % 3 AS INT) END AS cell",
    ).write.partitionBy("cell").parquet(wh.path("dwd", "t_null"))
    with pytest.raises(NotImplementedError, match="round-trip"):
        wh.partition_file_census("dwd", "t_null", "cell")


def test_calibration_row_degenerate_corpus_matches_operator(spark):
    """_calibration_row at n < 2 must mirror calibrate_cosine_threshold's
    guard (tau = min_tau, no pair space) instead of dividing by zero --
    the bit-parity contract covers the degenerate corpus too."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        calibrate_cosine_threshold,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round16 import (
        _A217_MIN_TAU,
        _calibration_row,
    )

    one = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    row = _calibration_row(one, 1, 512).collect()[0]
    assert row["tau_calibrated"] == calibrate_cosine_threshold(one) == _A217_MIN_TAU
    assert row["n_sample_pairs"] == 0 and row["within_budget"] is True


def test_compact_partitions_lifecycle(spark, tmp_path):
    """VERDICT r15 task #3: the cell-partitioned (c69 IVF) layout gets
    the same maintenance verb the bucketed layout has.  absorb x2 ->
    compact -> the served row set is identical, every fragmented cell
    collapses to ONE file, and a cell no absorb touched keeps its exact
    files (same names, same sizes -- never rewritten)."""
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    layer, table = "dwd", "t_cells"

    def gen_rows(lo, hi, min_cell):
        return spark.range(lo, hi).selectExpr(
            "id AS n_id", f"CAST({min_cell} + id % 4 AS INT) AS cell"
        )

    def files_in_cell(v):
        fs, hpath = wh._fs_and_path(
            wh.path(layer, table) + f"/cell={v}"
        )
        return sorted(
            (f.getPath().getName(), f.getLen())
            for f in fs.listStatus(hpath)
            if f.getPath().getName().endswith(".parquet")
        )

    # BUILD covers cells 0..4; the two ABSORB generations append only
    # into cells 1..4 -- cell 0 must come through compaction untouched
    spark.range(0, 200).selectExpr(
        "id AS n_id", "CAST(id % 5 AS INT) AS cell"
    ).repartition(1).write.partitionBy("cell").parquet(wh.path(layer, table))
    for day in (1, 2):
        gen_rows(1000 * day, 1000 * day + 200, 1).repartition(1).write.mode(
            "append"
        ).partitionBy("cell").parquet(wh.path(layer, table))

    census = wh.partition_file_census(layer, table, "cell")
    assert census[0] == 1 and all(census[v] == 3 for v in (1, 2, 3, 4))
    cell0_files = files_in_cell(0)
    before = sorted(
        map(tuple, spark.read.parquet(wh.path(layer, table)).collect())
    )

    affected = wh.compact_partitions(layer, table, "cell")
    assert affected == [1, 2, 3, 4]
    census_after = wh.partition_file_census(layer, table, "cell")
    assert census_after == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1}
    assert files_in_cell(0) == cell0_files  # byte-identical listing
    after = sorted(
        map(tuple, spark.read.parquet(wh.path(layer, table)).collect())
    )
    assert after == before  # serve-identical: pure defragmentation

    # idle steady state: nothing over threshold -> no-op, no rewrites
    assert wh.compact_partitions(layer, table, "cell") == []
    assert wh.partition_file_census(layer, table, "cell") == census_after


def test_erase_partition_rows_rejects_non_integral_partition(
    spark, tmp_path
):
    """ADVICE r15: Spark escapes special characters in partition
    directory names on write, so the manual emptied-partition delete
    would miss the real directory for string/date values -- the API
    must refuse them instead of silently serving stale rows."""
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # non-numeric values: partition-type inference would read numeric
    # strings back as ints, which the API legitimately accepts
    rows = spark.range(10).selectExpr(
        "id AS n_id", "concat('v ', id % 3) AS cell"
    )
    rows.write.partitionBy("cell").parquet(wh.path("dwd", "t_str_cells"))
    with pytest.raises(NotImplementedError, match="integral"):
        wh.erase_partition_rows(
            "dwd",
            "t_str_cells",
            "cell",
            spark.range(3).selectExpr("id AS n_id"),
            "n_id",
        )
