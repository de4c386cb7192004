"""Round-15 pins: the index-lifecycle DELETE verb (tombstone erase on
the bucketed band indexes; targeted-partition physical erase on the
cell-partitioned IVF layout), compaction wired to the absorbed indexes
(serve-identical, file count restored to one per bucket, tombstones
applied), the perceptual-index serve identity (c72 == a213 restricted),
the bit-exact matmul assignment (ADVICE r14), and the a209
retrain-refreeze remediation (VERDICT r14 task #4).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


def test_assign_matmul_bitwise_matches_fold(spark):
    """ADVICE r14 (medium): the matmul assignment's RAW cluster/d2c must
    be bit-identical to the sequential fold (not merely equal after 6dp
    rounding) -- the sequential-fold distance accumulation makes the
    exact-match-facing values of a209 independent of BLAS summation
    order at every SF, not just the swept ones."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        _assign_matmul,
        _l2_min_struct,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.quantizers import (
        A209_CENTROIDS,
    )

    if not os.path.exists(f"{SF001}/embeddings.parquet"):
        pytest.skip("testdata not present")
    e = load_table(spark, SF001, "embeddings")
    mm = {
        r["vec_id"]: (r["cluster"], r["__d2c"])
        for r in _assign_matmul(
            e, A209_CENTROIDS, "vec_id", "embedding"
        ).collect()
    }
    fold = {
        r["vec_id"]: (r["cluster"], r["__d2c"])
        for r in e.select(
            "vec_id",
            _l2_min_struct("embedding", A209_CENTROIDS).alias("__mc"),
        )
        .select(
            "vec_id",
            F.col("__mc.cid").cast("int").alias("cluster"),
            F.col("__mc.d").alias("__d2c"),
        )
        .collect()
    }
    assert len(mm) == 500
    assert mm == fold  # exact doubles, no rounding


def test_a209_remediation_requires_threshold_recalibration(spark):
    """VERDICT r14 task #4 asked to exercise the claimed remediation
    ("retrain + refreeze at the new SF restores the keep floor").
    Exercising it DISPROVED the claim, and this test pins the corrected
    story (SCALE.md round-15):

    1. Retraining k = isqrt(n) at sf0.1 does NOT restore the floor --
       keep_rate drops to ~0.187, BELOW the stale quantizer's 0.203,
       because a finer quantizer co-locates MORE of the chance-level
       pairs.  The collapse is not quantizer staleness: at a fixed
       tau = 0.3 the chance pair degree P(cos >= tau) * (n - 1) grows
       linearly with the corpus (measured: the exact all-pairs keep
       rate at sf0.1 is 0.0005 -- full percolation).
    2. The real remediation is corpus-calibrated thresholding
       (``calibrate_cosine_threshold``): retrain + recalibrated tau
       restores the floor.
    """
    import math

    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        calibrate_cosine_threshold,
        semdedup,
        train_ivf_centroids,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.round13 import (
        _A209_KEEP_FLOOR,
        _SD_COS,
    )

    if not os.path.exists(f"{SF01}/embeddings.parquet"):
        pytest.skip("testdata not present")
    e = load_table(spark, SF01, "embeddings")
    k = max(4, math.isqrt(e.count()))  # 44 = isqrt(2000)
    cents = train_ivf_centroids(
        e, n_clusters=k, sample_size=2048, seed=42, order_col="vec_id"
    )

    def keep_rate(tau):
        out = semdedup(e, cents, threshold=tau)
        return out.agg(
            F.avg(F.col("is_kept").cast("double")).alias("r")
        ).collect()[0]["r"]

    # the disproof: retrain alone still trips the alarm
    assert keep_rate(_SD_COS) < _A209_KEEP_FLOOR
    # the remediation: calibrated tau must exceed the percolating 0.3
    # and restore the floor
    tau = calibrate_cosine_threshold(e, sample_size=2048)
    assert tau > _SD_COS, tau
    assert keep_rate(tau) >= _A209_KEEP_FLOOR


def test_c71_serve_after_erase_equals_full_recompute(spark):
    """The DELETE verb's contract: build + absorb + tombstone-erase +
    serve must equal the full pair pipeline recomputed WITHOUT the
    erased documents, restricted to delta-involved pairs -- and the
    erase must be differentially visible (some pair involving an erased
    doc existed before)."""
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        minhash_dedup_pairs,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.analytics import (
        _MH_BANDS,
        _MH_N,
        _MH_SHINGLE,
        _MH_THRESHOLD,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round15 import (
        _C71_DELTA_REM,
        _C71_ERASE_REM,
        _C71_MOD,
        c71_minhash_index_erase,
    )

    if not os.path.exists(f"{SF0001}/documents.parquet"):
        pytest.skip("testdata not present")
    served = sorted(
        (r["a"], r["b"], r["jaccard"])
        for r in c71_minhash_index_erase(spark, SF0001).collect()
    )
    d = load_table(spark, SF0001, "documents")
    all_pairs = [
        (r["a"], r["b"], r["jaccard"])
        for r in minhash_dedup_pairs(
            d, shingle_n=_MH_SHINGLE, num_hashes=_MH_N,
            bands=_MH_BANDS, threshold=_MH_THRESHOLD,
        ).collect()
    ]
    is_delta = lambda x: x % _C71_MOD == _C71_DELTA_REM  # noqa: E731
    is_erased = lambda x: x % _C71_MOD == _C71_ERASE_REM  # noqa: E731
    want = sorted(
        p
        for p in all_pairs
        if (is_delta(p[0]) or is_delta(p[1]))
        and not (is_erased(p[0]) or is_erased(p[1]))
    )
    removed = [
        p
        for p in all_pairs
        if (is_delta(p[0]) or is_delta(p[1]))
        and (is_erased(p[0]) or is_erased(p[1]))
    ]
    assert served == want and len(served) > 0
    assert len(removed) > 0  # the erase actually changed the answer


def test_erase_antijoin_keeps_index_side_exchange_free(spark, tmp_path):
    """Merge-on-read erase must not cost the bucket spec: joining the
    LIVE view (bucketed scan -> broadcast anti-join on tombstones)
    against an un-bucketed delta on the bucket key still plans exactly
    ONE Exchange -- the delta side -- and a LeftAnti broadcast above the
    index scan."""
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    bands = spark.range(0, 4000).selectExpr(
        "id AS doc_id",
        "CAST(id % 8 AS INT) AS band_id",
        "md5(CAST(id % 500 AS STRING)) AS band_sig",
    )
    delta = spark.range(4000, 4400).selectExpr(
        "id AS d_id",
        "CAST(id % 8 AS INT) AS band_id",
        "md5(CAST(id % 500 AS STRING)) AS band_sig",
    )
    wh.write_bucketed(
        bands, "dwd", "t71_idx", ["band_id", "band_sig"], buckets=8,
        sort_cols=["band_id", "band_sig"],
    )
    try:
        wh.append_tombstones(
            spark.range(0, 100).selectExpr("id AS doc_id"), "dwd", "t71_idx"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        live = wh.read_bucketed_live("dwd", "t71_idx")
        joined = live.join(delta, ["band_id", "band_sig"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # exactly one SHUFFLE on the band key (the delta side); the only
        # other exchange anywhere is the tombstones' BroadcastExchange
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Exchange hashpartitioning(band_id") == 1
        assert plan.count("BroadcastExchange") == 1
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        # and the tombstones actually filter: erased ids never join out
        assert live.where(F.col("doc_id") < 100).count() == 0
        assert live.count() == 3900
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS dwd_t71_idx")


def test_compaction_preserves_serve_and_restores_file_layout(spark, tmp_path):
    """VERDICT r14 task #2: after N absorbs (+ pending tombstones) the
    table is N file generations per bucket; the threshold-triggered
    compaction must leave the LIVE row set identical, physically drop
    tombstoned rows, clear the tombstone table, restore ONE file per
    bucket, and keep the bucket spec (post-compaction joins still plan
    zero index-side exchanges)."""
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = dict(
        bucket_cols=["band_id", "band_sig"], buckets=8,
        sort_cols=["band_id", "band_sig"],
    )

    def gen_rows(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id",
            "CAST(id % 8 AS INT) AS band_id",
            "md5(CAST(id % 97 AS STRING)) AS band_sig",
        )

    try:
        wh.write_bucketed(gen_rows(0, 1000), "dwd", "t72_idx", **spec)
        for day in range(1, 4):  # three absorbed generations
            wh.write_bucketed(
                gen_rows(1000 * day, 1000 * (day + 1)),
                "dwd", "t72_idx", **spec, mode="append",
            )
        wh.append_tombstones(
            spark.range(0, 4000, 10).selectExpr("id AS doc_id"),
            "dwd", "t72_idx",
        )
        live_before = sorted(
            map(tuple, wh.read_bucketed_live("dwd", "t72_idx").collect())
        )
        files_before = wh.data_file_count("dwd", "t72_idx")
        assert files_before > 8  # absorb generations accumulated
        # below the file threshold but tombstones pending -> triggers
        compacted, before, after = wh.maybe_compact_bucketed(
            "dwd", "t72_idx", **spec, max_files_per_bucket=1000
        )
        assert compacted and before == files_before
        assert after == 8  # one file per bucket
        assert wh.tombstones("dwd", "t72_idx") is None  # applied+cleared
        back = wh.bucketed_table("dwd", "t72_idx")
        assert sorted(map(tuple, back.collect())) == live_before
        assert len(live_before) == 4000 - 400
        # bucket spec intact: the join still plans one (probe-side) shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = gen_rows(4000, 4100).withColumnRenamed("doc_id", "d_id")
            plan = (
                back.join(probe, ["band_id", "band_sig"])
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert plan.count("Exchange") == 1
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # idle steady state: neither threshold nor tombstones -> no-op
        again = wh.maybe_compact_bucketed(
            "dwd", "t72_idx", **spec, max_files_per_bucket=4
        )
        assert again == (False, 8, 8)
    finally:
        spark.sql("DROP TABLE IF EXISTS dwd_t72_idx")


def test_erase_partition_rows_touches_only_affected_cells(spark, tmp_path):
    """The cell-partitioned (c69 IVF) physical erase: only partitions
    containing erased rows are rewritten -- untouched cells keep their
    exact files -- and a cell whose every row is erased disappears
    entirely instead of serving stale data."""
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = spark.range(80).selectExpr(
        "id AS n_id", "CAST(id % 8 AS INT) AS cell"
    )
    path = wh.path("dwd", "t73_ivf")
    base.write.partitionBy("cell").parquet(path)

    def listing(cell):
        d = os.path.join(path, f"cell={cell}")
        if not os.path.isdir(d):
            return None
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before = {c: listing(c) for c in range(8)}
    # erase: every row of cell 1 (ids = 1 mod 8) + two rows of cell 3
    erase = spark.createDataFrame(
        [(i,) for i in range(1, 80, 8)] + [(3,), (11,)], "n_id bigint"
    )
    affected = wh.erase_partition_rows("dwd", "t73_ivf", "cell", erase, "n_id")
    assert affected == [1, 3]
    # untouched cells: byte-identical file listing (names, sizes, mtimes)
    for c in (0, 2, 4, 5, 6, 7):
        assert listing(c) == before[c], c
    # fully-erased cell is GONE, partially-erased cell rewritten
    assert listing(1) is None
    assert listing(3) is not None and listing(3) != before[3]
    back = spark.read.parquet(path)
    got = sorted(r["n_id"] for r in back.collect())
    want = sorted(
        i for i in range(80)
        if i % 8 != 1 and i not in (3, 11)
    )
    assert got == want


def test_c72_serve_equals_full_corpus_pairs_restricted(spark):
    """Build-then-serve on the perceptual index must be ALGEBRAICALLY
    the full-corpus a213 pipeline restricted to delta-involved pairs:
    fingerprints are deterministic in the content, so persisting the
    corpus band rows early changes nothing."""
    from bigdata_scala_offline_data_clean_spark.queries.round14 import (
        a213_phash_image_dedup,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round15 import (
        _C72_DELTA_REM,
        _C72_MOD,
        c72_phash_index_serve,
    )

    if not os.path.exists(f"{SF0001}/documents.parquet"):
        pytest.skip("testdata not present")
    served = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in c72_phash_index_serve(spark, SF0001).collect()
    )
    full = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in a213_phash_image_dedup(spark, SF0001).collect()
        if r["a"] % _C72_MOD == _C72_DELTA_REM
        or r["b"] % _C72_MOD == _C72_DELTA_REM
    )
    assert served == full and len(served) > 0


def test_c72_index_side_joins_without_exchange(spark, tmp_path):
    """The perceptual index rides its bucket spec exactly like c70's
    band index: serve-time joins against an un-bucketed delta on
    (band, val) plan ONE exchange (delta side), none above the index."""
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        hash64_band_rows,
    )
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    hashes = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "substr(md5(CAST(id % 300 AS STRING)), 1, 16) AS ahash"
    )
    delta = spark.range(2000, 2200).selectExpr(
        "id AS doc_id", "substr(md5(CAST(id % 300 AS STRING)), 1, 16) AS ahash"
    )
    wh.write_bucketed(
        hash64_band_rows(hashes), "dwd", "t72_ph", ["band", "val"],
        buckets=8, sort_cols=["band", "val"],
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = wh.bucketed_table("dwd", "t72_ph").join(
            hash64_band_rows(delta).withColumnRenamed("doc_id", "d_id")
            .withColumnRenamed("ahash", "d_ahash"),
            ["band", "val"],
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1  # delta side only
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS dwd_t72_ph")


def test_c73_physical_erase_changes_and_matches_live_recompute(spark):
    """c73's physical erase must actually change the ANN answer vs c69
    (the erased vectors held top-k slots), and the served result must
    equal the a16 algebra recomputed over the LIVE corpus -- i.e. no
    stale cell serves an erased vector and no live neighbor was lost in
    the partition rewrite."""
    from bigdata_scala_offline_data_clean_spark.queries.round13 import (
        c69_ivf_index_serve,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round15 import (
        _C73_ERASE_MOD,
        _C73_ERASE_REM,
        c73_ivf_index_erase_serve,
    )

    if not os.path.exists(f"{SF0001}/embeddings.parquet"):
        pytest.skip("testdata not present")
    erased = sorted(map(tuple, c73_ivf_index_erase_serve(spark, SF0001).collect()))
    base = sorted(map(tuple, c69_ivf_index_serve(spark, SF0001).collect()))
    assert erased != base  # the delete held top-k slots
    assert len(erased) > 0
    is_erased = (
        lambda r: r[1] % _C73_ERASE_MOD == _C73_ERASE_REM
    )  # noqa: E731  (n_id is column 2)
    assert not any(is_erased(r) for r in erased)  # nothing stale served
    assert any(is_erased(r) for r in base)  # ...and they were being served


def test_s17_output_invariant_to_batch_split(spark, monkeypatch):
    """The streaming absorb's correctness argument is batch-order/split
    INDEPENDENCE (serve-before-absorb emits each pair exactly once, at
    its later endpoint's batch).  Pin it: one giant batch and three
    micro-batches must produce the identical pair set."""
    import bigdata_scala_offline_data_clean_spark.queries.round15 as r15

    if not os.path.exists(f"{SF0001}/documents.parquet"):
        pytest.skip("testdata not present")

    def run():
        return sorted(
            (r["a"], r["b"], r["jaccard"])
            for r in r15.s17_stream_index_absorb(spark, SF0001).collect()
        )

    monkeypatch.setattr(r15, "_S17_SLICES", 1)
    one = run()
    monkeypatch.setattr(r15, "_S17_SLICES", 3)
    three = run()
    assert one == three and len(one) > 0


@pytest.mark.parametrize("slices", [1, 3])
def test_s17_pairs_delta_docs_across_micro_batches(
    spark, tmp_path, monkeypatch, slices
):
    """Two identical-text delta documents, ids 5 and 15: one micro-batch
    at 1 slice (the serve's delta self-join pairs them), two different
    micro-batches at 3 slices (batch 1's serve must see doc 5, which
    batch 0 absorbed into the index).  Every other document is random
    text, so (5, 15) is the only pair."""
    import random
    import string

    import pyarrow as pa
    import pyarrow.parquet as pq

    import bigdata_scala_offline_data_clean_spark.queries.round15 as r15

    rng = random.Random(17)
    texts = [
        " ".join(
            "".join(rng.choices(string.ascii_lowercase, k=6))
            for _ in range(30)
        )
        for _ in range(20)
    ]
    texts[15] = texts[5]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(20), pa.int64()), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    monkeypatch.setattr(r15, "_S17_SLICES", slices)
    got = [
        tuple(r)
        for r in r15.s17_stream_index_absorb(spark, str(tmp_path)).collect()
    ]
    assert got == [(5, 15, 1.0)]


def test_phash_index_absorb_two_day_lifecycle(spark, tmp_path):
    """c72's daily loop must close like c70's (the minhash twin of
    test_minhash_index_absorb_two_day_lifecycle): build the perceptual
    index on day-0 history, serve day 1, ABSORB day 1 (append its band
    rows under the same bucket spec), serve day 2 -- and day 2's answer
    must equal the full-corpus a213 pipeline restricted to
    day-2-involved pairs."""
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        hash64_band_pairs,
        hash64_band_rows,
        serve_hash64_band_index,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.round14 import (
        _A213_MAX_HAMMING,
        _a213_hashes,
    )
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    if not os.path.exists(f"{SF0001}/documents.parquet"):
        pytest.skip("testdata not present")
    d = load_table(spark, SF0001, "documents")
    mod = F.pmod(F.col("doc_id"), F.lit(10))
    day0, day1, day2 = (
        d.where(~mod.isin(8, 9)),
        d.where(mod == 9),
        d.where(mod == 8),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = dict(
        bucket_cols=["band", "val"], buckets=8, sort_cols=["band", "val"]
    )
    try:
        wh.write_bucketed(
            hash64_band_rows(_a213_hashes(day0)), "dwd", "t72_life", **spec
        )
        idx = wh.bucketed_table("dwd", "t72_life")
        serve_hash64_band_index(
            idx, _a213_hashes(day1), _A213_MAX_HAMMING
        ).count()  # day-1 serve runs; its pairs are not under test here
        # ABSORB day 1 under the same bucket spec
        wh.write_bucketed(
            hash64_band_rows(_a213_hashes(day1)),
            "dwd", "t72_life", **spec, mode="append",
        )
        served2 = sorted(
            (r["a"], r["b"], r["hamming"])
            for r in serve_hash64_band_index(
                idx, _a213_hashes(day2), _A213_MAX_HAMMING
            ).collect()
        )
        full = sorted(
            (r["a"], r["b"], r["hamming"])
            for r in hash64_band_pairs(
                _a213_hashes(d), _A213_MAX_HAMMING
            ).collect()
            if r["a"] % 10 == 8 or r["b"] % 10 == 8
        )
        assert served2 == full and len(served2) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS dwd_t72_life")
