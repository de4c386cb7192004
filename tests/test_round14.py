"""Round-14 pins: a209's frozen-quantizer contract (runtime-trained ==
shipped literals at the driver's correctness SF), the a210 shard-census
row-set alignment (ADVICE r13), and the single-pass argmin fold parity
(struct fold == array_position first-min under exact ties).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.01"


def test_a209_frozen_centroids_match_runtime_training(spark):
    """a209 trains at runtime (k scales with the corpus) while its DuckDB
    twin folds the FROZEN literals -- the two are only exchangeable if
    training at the driver's correctness SF reproduces the shipped
    artifact exactly.  Regenerate via tools/freeze_quantizers.py when
    this fails after an intentional training change."""
    import math

    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        train_ivf_centroids,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.quantizers import (
        A209_CENTROIDS,
    )

    if not os.path.exists(f"{SF001}/embeddings.parquet"):
        pytest.skip("testdata not present")
    e = load_table(spark, SF001, "embeddings")
    k = max(4, math.isqrt(e.count()))
    assert k == len(A209_CENTROIDS)  # 22 = isqrt(500)
    cents = train_ivf_centroids(
        e, n_clusters=k, sample_size=2048, seed=42, order_col="vec_id"
    )
    assert cents == A209_CENTROIDS


def test_a209_frozen_artifact_shape():
    import math

    from bigdata_scala_offline_data_clean_spark.queries.quantizers import (
        A209_CENTROIDS,
    )

    assert len(A209_CENTROIDS) == 22
    assert all(len(c) == 64 for c in A209_CENTROIDS)
    assert all(math.isfinite(x) for c in A209_CENTROIDS for x in c)


def test_argmin_struct_fold_matches_array_position_under_ties(spark):
    """The single-pass struct argmin (ADVICE r13) must keep the exact
    first-min rule of array_position(darr, array_min(darr)) -- including
    EXACT ties, where the lowest cid must win."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        argmin_struct_sql,
    )

    cases = [
        ([3.0, 1.0, 2.0], 2),
        ([1.0, 1.0, 2.0], 1),  # exact tie -> first
        ([2.0, 1.5, 1.5], 2),  # tie not at the head
        ([5.0], 1),
    ]
    for vals, want in cases:
        dists = [repr(v) + "D" for v in vals]
        got = spark.range(1).select(
            F.expr(argmin_struct_sql(dists) + ".cid").alias("cid"),
            F.expr(
                "array_position(array("
                + ", ".join(dists)
                + "), array_min(array("
                + ", ".join(dists)
                + ")))"
            ).alias("ap"),
        ).collect()[0]
        assert got["cid"] == got["ap"] == want, vals


def test_c69_reliable_pins_identical(spark, tmp_path):
    """Composite pipelines pin through replicated checkpoints when the
    session has a checkpoint dir: c69 with a dir set returns the
    identical answer to the localCheckpoint path with none."""
    from bigdata_scala_offline_data_clean_spark.queries.round13 import (
        c69_ivf_index_serve,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("testdata not present")
    key = lambda r: tuple(r)  # noqa: E731
    sc = spark.sparkContext
    prior = sc.getCheckpointDir()  # other tests may have set one
    try:
        sc._jsc.setCheckpointDir(None)
        local = sorted(map(key, c69_ivf_index_serve(spark, sf).collect()))
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        rel = sorted(map(key, c69_ivf_index_serve(spark, sf).collect()))
    finally:
        # restore the session-global (ADVICE r14): the installed dir
        # points into this test's tmp_path, which pytest may delete --
        # later pins in the shared session must not write into a
        # dangling directory.  None -> Scala null -> unset.
        if prior is None:
            sc._jsc.setCheckpointDir(None)
        else:
            sc.setCheckpointDir(prior)
    assert rel == local


def test_c70_serve_equals_full_corpus_pairs_restricted(spark):
    """Build-then-serve must be ALGEBRAICALLY the full-corpus a07 pair
    pipeline restricted to delta-involved pairs: signatures are
    deterministic in the text, so persisting the corpus half early must
    change nothing."""
    from bigdata_scala_offline_data_clean_spark.queries.analytics import (
        a07_minhash_lsh_dedup,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round14 import (
        _C70_DELTA_MOD,
        _C70_DELTA_REM,
        c70_minhash_index_serve,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("testdata not present")
    served = sorted(
        (r["a"], r["b"], r["jaccard"])
        for r in c70_minhash_index_serve(spark, sf).collect()
    )
    full = sorted(
        (r["a"], r["b"], r["jaccard"])
        for r in a07_minhash_lsh_dedup(spark, sf).collect()
        if r["a"] % _C70_DELTA_MOD == _C70_DELTA_REM
        or r["b"] % _C70_DELTA_MOD == _C70_DELTA_REM
    )
    assert served == full and len(served) > 0


def test_c70_index_side_joins_without_exchange(spark, tmp_path):
    """The serve join's INDEX side must ride its bucket spec (shuffle
    paid once at build time): joining the bucketed band table against an
    un-bucketed delta frame on the bucket key plans exactly ONE Exchange
    -- the delta side -- and none above the index scan."""
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
        "id AS doc_id",
        "CAST(id % 8 AS INT) AS band_id",
        "md5(CAST(id % 500 AS STRING)) AS band_sig",
    )
    wh.write_bucketed(
        bands, "dwd", "t70_idx", ["band_id", "band_sig"], buckets=8,
        sort_cols=["band_id", "band_sig"],
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = wh.bucketed_table("dwd", "t70_idx").join(
            delta.withColumnRenamed("doc_id", "d_id"),
            ["band_id", "band_sig"],
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1  # delta side only
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS dwd_t70_idx")


def test_minhash_index_absorb_two_day_lifecycle(spark, tmp_path):
    """The daily loop must close: build the index on day-0 history,
    serve day 1, ABSORB day 1 (append its band rows under the same
    bucket spec), serve day 2 -- and day 2's answer must equal the
    full-corpus a07 pipeline over history+day1+day2 restricted to
    day-2-involved pairs.  An absorb that lost rows, double-wrote, or
    broke the bucket spec would miss or duplicate pairs."""
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_pairs,
        serve_minhash_band_index,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.analytics import (
        _MH_BANDS,
        _MH_N,
        _MH_SHINGLE,
        _MH_THRESHOLD,
    )
    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("testdata not present")
    d = load_table(spark, sf, "documents")
    mod = F.pmod(F.col("doc_id"), F.lit(10))
    day0, day1, day2 = (
        d.where(~mod.isin(5, 6)),
        d.where(mod == 5),
        d.where(mod == 6),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    kw = dict(shingle_n=_MH_SHINGLE, num_hashes=_MH_N, bands=_MH_BANDS)
    try:
        wh.write_bucketed(
            minhash_band_index(day0, **kw),
            "dwd", "t70_life", ["band_id", "band_sig"], buckets=8,
            sort_cols=["band_id", "band_sig"],
        )
        idx = wh.bucketed_table("dwd", "t70_life")
        serve_minhash_band_index(
            idx, day1, day0, threshold=_MH_THRESHOLD, **kw
        ).count()  # day-1 serve runs; its pairs are not under test here
        # ABSORB day 1: append its band rows under the same bucket spec
        wh.write_bucketed(
            minhash_band_index(day1, **kw),
            "dwd", "t70_life", ["band_id", "band_sig"], buckets=8,
            sort_cols=["band_id", "band_sig"], mode="append",
        )
        corpus01 = day0.unionByName(day1)
        served2 = sorted(
            (r["a"], r["b"], r["jaccard"])
            for r in serve_minhash_band_index(
                idx, day2, corpus01, threshold=_MH_THRESHOLD, **kw
            ).collect()
        )
        full = sorted(
            (r["a"], r["b"], r["jaccard"])
            for r in minhash_dedup_pairs(
                d, shingle_n=_MH_SHINGLE, num_hashes=_MH_N,
                bands=_MH_BANDS, threshold=_MH_THRESHOLD,
            ).collect()
            if r["a"] % 10 == 6 or r["b"] % 10 == 6
        )
        assert served2 == full and len(served2) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS dwd_t70_life")


def test_ivf_index_absorb_appends_into_cells(spark, tmp_path):
    """c69's index absorbs like c70's: appending a new day's vectors
    into the cell-partitioned parquet layout (dynamic partition append)
    must leave the serve path intact -- probed-cell reads still prune
    at planning time and see ALL generations of each cell."""
    import re

    base = spark.range(100).select(
        F.col("id").alias("n_id"), (F.col("id") % 8).cast("int").alias("cell")
    )
    delta = spark.range(100, 140).select(
        F.col("id").alias("n_id"), (F.col("id") % 8).cast("int").alias("cell")
    )
    path = str(tmp_path / "ivf_idx")
    base.write.partitionBy("cell").parquet(path)
    delta.write.mode("append").partitionBy("cell").parquet(path)
    back = spark.read.parquet(path).withColumn(
        "cell", F.col("cell").cast("int")
    )
    pruned = back.where(F.col("cell").isin([1, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert pf is not None and "IN (1,3)" in pf.group(0)
    # both generations visible: 13 + 13 base rows, 5 + 5 delta rows
    assert pruned.count() == 26 + 10
    assert back.count() == 140


def test_a213_phash_shuffle_invariant_and_selective(spark, monkeypatch):
    """The perceptual hash must be invariant to word ORDER (the image
    derives from the canonically-sorted word stream, so re-encodes of
    the same content collide at hamming 0) and selective (an unrelated
    doc pairs with nothing at the threshold)."""
    import bigdata_scala_offline_data_clean_spark.queries.round14 as r14

    words = [f"w{i}" for i in range(40)]
    shuffled = list(reversed(words))
    other = [f"zz{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(shuffled)),  # same multiset, different order
            (3, " ".join(other)),  # unrelated content
        ],
        "doc_id bigint, text string",
    )
    monkeypatch.setattr(r14, "load_table", lambda s, d, n: docs)
    rows = r14.a213_phash_image_dedup(spark, "unused").collect()
    got = {(r["a"], r["b"]): r["hamming"] for r in rows}
    assert got == {(1, 2): 0}


def test_a214_audio_fingerprint_invariant_and_selective(spark, monkeypatch):
    """The audio fingerprint derives from the canonically-sorted word
    stream through the REAL RIFF decode: word-order shuffles collide at
    hamming 0; unrelated content pairs with nothing at the threshold."""
    import bigdata_scala_offline_data_clean_spark.queries.round14 as r14

    words = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(reversed(words))),
            (3, " ".join(f"zz{i}" for i in range(40))),
        ],
        "doc_id bigint, text string",
    )
    monkeypatch.setattr(r14, "load_table", lambda s, d, n: docs)
    rows = r14.a214_audio_fingerprint_dedup(spark, "unused").collect()
    got = {(r["a"], r["b"]): r["hamming"] for r in rows}
    assert got == {(1, 2): 0}


def test_a210_shard_census_ignores_null_user_rows(spark, monkeypatch):
    """A (event_type, day) shard reachable ONLY through NULL user_id rows
    must not count toward n_shards (ADVICE r13): hll_registers drops
    NULLs, so the oracle's NULL-filtered shard census is the contract."""
    import bigdata_scala_offline_data_clean_spark.queries.round13 as r13

    ev = spark.createDataFrame(
        [
            ("click", "2024-01-01 10:00:00", "u1"),
            ("click", "2024-01-01 11:00:00", "u2"),
            # day 2 exists only via a NULL user -> must NOT be a shard
            ("click", "2024-01-02 10:00:00", None),
        ],
        "event_type string, ts string, user_id string",
    ).withColumn("ts", F.to_timestamp("ts"))
    monkeypatch.setattr(
        r13, "load_table", lambda spark, sf_dir, name: ev
    )
    out = r13.a210_hll_merge(spark, "unused").collect()
    assert len(out) == 1
    assert out[0]["n_shards"] == 1
    assert out[0]["merge_exact"]
