"""Round-17 pins: the adaptive calibration sample size fixes the k=0
boundary at the 10x replica, the ADVICE-r16 edge cases fail safe
(stale-count calibration, empty bloom filter), and the percolation
guard estimates on the calibration's own sample."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def replica_dir(tmp_path_factory):
    """The 10x embeddings replica (the SCALE.md protocol: sf0.1 rows
    replicated with shifted ids and a per-copy first-component epsilon),
    built fresh so the k=0-boundary pin does not depend on an ephemeral
    /tmp/sf10x from a measurement session."""
    import duckdb

    dst = tmp_path_factory.mktemp("sf10x_replica")
    con = duckdb.connect()
    con.sql(
        """COPY (
          SELECT vec_id + c.copy * 1000000 AS vec_id,
                 CAST(list_prepend(
                   CAST(embedding[1] + c.copy * 0.001 AS FLOAT),
                   embedding[2:]) AS FLOAT[]) AS embedding
          FROM '/root/testdata/sf0.1/embeddings.parquet',
               (SELECT unnest(generate_series(0, 9)) AS copy) c
        ) TO '{}' (FORMAT PARQUET)""".format(dst / "embeddings.parquet")
    )
    con.sql(
        """COPY (
          SELECT doc_id + c.copy * 1000000 AS doc_id,
                 text || ' copytok' || c.copy AS text,
                 lang, source, n_chars + 9 AS n_chars
          FROM '/root/testdata/sf0.1/documents.parquet',
               (SELECT unnest(generate_series(0, 9)) AS copy) c
        ) TO '{}' (FORMAT PARQUET)""".format(dst / "documents.parquet")
    )
    return str(dst)


def test_adaptive_sample_fixes_k0_boundary_at_replica(spark, replica_dir):
    """VERDICT r16 task #2: at n = 50k the fixed S = 512 floored the
    budget rank to k = 0 and tau degenerated to sample-max + 1e-6
    (SCALE.md r16).  With S = clamp(8 * isqrt(n), 512, 2048) the rank
    stays >= 1, tau is a real tail quantile, and the budget still
    holds."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        calibration_sample_size,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round16 import (
        a217_tau_calibration,
    )

    row = a217_tau_calibration(spark, replica_dir).collect()[0]
    assert row["n_vecs"] == 20000
    assert row["n_sample"] == calibration_sample_size(20000) == 1128
    assert row["k_allowed"] >= 1  # the round-16 boundary, gone
    assert row["within_budget"] is True
    assert row["tau_calibrated"] < 1.0  # not the degenerate sample-max


def test_calibration_sample_size_clamps():
    """S(n) is integer-exact and clamped: small corpora keep the
    round-16 S = 512 (their taus are unchanged), the cap bounds the
    O(S*dim) driver collect and O(S^2) pair work."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        CALIBRATION_SAMPLE_MAX,
        CALIBRATION_SAMPLE_MIN,
        calibration_sample_size,
    )

    assert calibration_sample_size(0) == CALIBRATION_SAMPLE_MIN
    assert calibration_sample_size(500) == CALIBRATION_SAMPLE_MIN
    assert calibration_sample_size(5000) == 560  # 8 * isqrt(5000)
    assert calibration_sample_size(10**9) == CALIBRATION_SAMPLE_MAX


def test_calibrate_stale_count_over_empty_corpus_returns_min_tau(spark):
    """ADVICE r16: a caller-supplied stale n_total >= 2 over a corpus
    with < 2 rows used to raise IndexError on the empty pair array; it
    must degrade to min_tau like the n_total < 2 guard."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        calibrate_cosine_threshold,
    )

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    assert calibrate_cosine_threshold(empty, n_total=100, min_tau=0.25) == 0.25


def test_bloom_candidate_expr_empty_filter_matches_nothing(spark):
    """ADVICE r16: an empty blocklist's filter has no occupied
    positions, so the screen must select zero candidates -- not fail
    analysis on an array<null> literal."""
    from bigdata_scala_offline_data_clean_spark.operators.sketches import (
        bloom_candidate_expr,
        bloom_setbits,
    )

    d = spark.range(100).selectExpr("id AS doc_id")
    setbits = bloom_setbits(d.where(F.lit(False)), "doc_id")
    assert setbits == []
    assert d.where(bloom_candidate_expr(setbits, "doc_id")).count() == 0


def test_a220_registry_matches_live_training_at_every_sf(spark):
    """The a220 artifact registry IS the runtime training path frozen:
    at every test corpus, training k = max(4, isqrt(n)) on the
    canonical sample reproduces the registry's doubles exactly -- so
    the registry-hit and live-retrain branches of
    _a220_trained_centroids are the same quantizer where they overlap
    (the a209 frozen-artifact contract, now corpus-keyed)."""
    import math

    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        corpus_fingerprint,
        train_ivf_centroids,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.quantizers import (
        A220_CENTROIDS_BY_CORPUS,
    )

    seen = set()
    for sf in (SF_SMALL, SF_MID, "/root/testdata/sf0.1"):
        e = load_table(spark, sf, "embeddings")
        key = corpus_fingerprint(e)
        seen.add(key)
        live = train_ivf_centroids(
            e, n_clusters=max(4, math.isqrt(key[0])), sample_size=2048,
            iters=10, seed=42, order_col="vec_id",
        )
        assert A220_CENTROIDS_BY_CORPUS[key] == live
    # the three test corpora are distinct identities (two share n=500;
    # the checksum is what disambiguates them)
    assert len(seen) == 3 == len(A220_CENTROIDS_BY_CORPUS)


def test_a220_replica_retrains_and_keeps_the_distinct_count(
    spark, replica_dir
):
    """The production claim, end to end at 10x: the replica's corpus is
    OUTSIDE the registry, so a220 retrains live (k = isqrt(20000) =
    141) and recalibrates tau -- and the keep census lands at ~the
    distinct count (each vector has 10 epsilon-shifted copies), where
    round 15 measured retrain-alone and fixed-tau both collapse."""
    from bigdata_scala_offline_data_clean_spark.queries.round17 import (
        a220_semdedup_production,
    )

    row = a220_semdedup_production(spark, replica_dir).collect()[0]
    assert row["n_vecs"] == 20000
    assert row["k_trained"] == 141  # isqrt(20000): the live retrain ran
    assert row["merged_any"] is True
    assert 0.08 <= row["keep_rate"] <= 0.2  # ~0.1 = the distinct share


def test_a222_sized_m_holds_fpr_where_fixed_m_saturates(
    spark, replica_dir
):
    """VERDICT r16 task #3's done-condition: at the 10x replica the
    fixed-m a219 filter saturates (FPR 1.0, SCALE.md r16) while the
    sized-m screen must hold measured FPR <= 2 * target -- the filter
    grew with the blocklist instead of drowning in it."""
    from bigdata_scala_offline_data_clean_spark.operators.sketches import (
        bloom_sized_m,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round17 import (
        a222_bloom_sized,
    )

    row = a222_bloom_sized(spark, replica_dir).collect()[0]
    assert row["no_false_negatives"] is True
    assert row["m_sized"] == bloom_sized_m(row["n_blocklist"]) == 32768
    assert row["fpr_ok"] is True
    assert row["fpr_measured"] <= 0.02
    assert row["n_kept"] == row["n_corpus"] - row["n_blocklist"]


def test_a222_screen_matches_native_bloom_plan_twin(spark):
    """The c65 machinery as a plan-level twin of the a222 screen:
    Spark's own InjectRuntimeFilter builds a bloom over the blocklist
    side and pushes might_contain() onto the corpus scan -- same
    superset-filter + exact-verify semantics, engine-native.  The
    blocked set must be identical, and the native plan must actually
    carry the bloom probe."""
    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.round17 import (
        _A222_BLOCK_MOD,
        _A222_BLOCK_REM,
        a222_bloom_sized,
    )

    row = a222_bloom_sized(spark, SF_MID).collect()[0]

    s2 = spark.newSession()  # conf knobs isolated, the c65 pattern
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "1GB",
    )
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    d = load_table(s2, SF_MID, "documents").select("doc_id")
    block = d.where(
        F.pmod(F.col("doc_id"), F.lit(_A222_BLOCK_MOD)) == _A222_BLOCK_REM
    ).select(F.col("doc_id").alias("b_id"))
    native = d.join(block, d.doc_id == block.b_id)
    plan = native._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan  # the native bloom screen is live
    assert native.count() == row["n_blocked"]
    assert row["n_kept"] == row["n_corpus"] - native.count()


def test_decode_y4m_parses_header_grammar_and_planes():
    """The real-codec contract (a201/a202 pattern, video edition): full
    stream-header grammar -- tagged params in any order, comments,
    multiple spaces -- and FRAME chunks with per-colorspace plane
    sizes."""
    from bigdata_scala_offline_data_clean_spark.operators.multimodal import (
        decode_video,
        decode_y4m,
    )

    y = bytes(range(16))  # 4x4 luma
    u, v = bytes([100, 101, 102, 103]), bytes([200, 201, 202, 203])
    payload = (
        b"YUV4MPEG2 W4 H4  F30000:1001 Ip A1:1 C420jpeg Xcomment\x0a"
        + b"FRAME\x0a" + y + u + v
        + b"FRAME Xtag\x0a" + y + u + v
    )
    video = decode_y4m(payload)
    assert (video["width"], video["height"]) == (4, 4)
    assert (video["fps_num"], video["fps_den"]) == (30000, 1001)
    assert video["colorspace"] == "420jpeg"
    assert video["n_frames"] == 2
    assert video["frames"][0] == {"y": y, "u": u, "v": v}
    assert video["frames"][1]["v"] == v  # frame params skipped cleanly
    # decode_video dispatches the magic; mono = luma only
    mono = decode_video(b"YUV4MPEG2 W2 H2 Cmono\x0aFRAME\x0a\x01\x02\x03\x04")
    assert mono["frames"][0] == {"y": b"\x01\x02\x03\x04", "u": b"",
                                 "v": b""}


def test_decode_y4m_fails_loudly_on_malformed_streams():
    """Corrupt streams must error, never return a shifted raster: the
    decode_ppm/decode_wav discipline applied to video."""
    from bigdata_scala_offline_data_clean_spark.operators.multimodal import (
        decode_video,
        decode_y4m,
    )

    ok_hdr = b"YUV4MPEG2 W2 H2 Cmono\x0a"
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        decode_y4m(b"RIFF....")
    with pytest.raises(ValueError, match="unterminated"):
        decode_y4m(b"YUV4MPEG2 W2 H2 Cmono")
    with pytest.raises(ValueError, match="missing W/H"):
        decode_y4m(b"YUV4MPEG2 Cmono\x0a")
    with pytest.raises(ValueError, match="unknown Y4M header"):
        decode_y4m(b"YUV4MPEG2 W2 H2 Q9\x0a")
    with pytest.raises(ValueError, match="odd dimensions"):
        decode_y4m(b"YUV4MPEG2 W3 H2 C420\x0a")
    with pytest.raises(ValueError, match="unsupported Y4M colorspace"):
        decode_y4m(b"YUV4MPEG2 W2 H2 C411\x0a")
    with pytest.raises(ValueError, match="expected FRAME"):
        decode_y4m(ok_hdr + b"FRAMX\x0a\x01\x02\x03\x04")
    with pytest.raises(ValueError, match="malformed FRAME"):
        decode_y4m(ok_hdr + b"FRAMEx\x0a\x01\x02\x03\x04")
    with pytest.raises(ValueError, match="truncated Y4M frame"):
        decode_y4m(ok_hdr + b"FRAME\x0a\x01\x02\x03")
    # compressed formats stay an injection point
    with pytest.raises(NotImplementedError, match="inject a decoder"):
        decode_video(b"\x00\x00\x00\x20ftypisom....")
    assert decode_video(b"anything", decoder=len) == 8  # injection works


def test_a221_majority_rule_finds_partial_clip_overlap(spark):
    """The match semantic, pinned where all-frames fails: at sf0.01 the
    near-dup tail has pairs matching on 2 of 3 frames but not all 3
    (an edited frame must not hide a duplicated clip).  Majority finds
    them; every reported pair carries >= 2 matched frames by
    construction."""
    from bigdata_scala_offline_data_clean_spark.queries.round17 import (
        a221_video_phash_dedup,
    )

    rows = a221_video_phash_dedup(spark, SF_MID).collect()
    assert len(rows) >= 3  # non-vacuous at the driver's correctness SF
    assert all(r["n_frames_matched"] >= 2 for r in rows)
    # at least one pair is a PARTIAL overlap (2 of 3): the case the
    # all-frames rule cannot represent
    assert any(r["n_frames_matched"] == 2 for r in rows)


def test_erase_partition_rows_rewrites_each_cell_to_one_file(
    spark, tmp_path
):
    """Round-17 guarantee: the physical erase must not fragment the
    cells it rewrites -- each surviving affected partition lands as
    exactly ONE file (the pre-fix write scattered a cell across the
    anti-join's task layout).  c77's derived file census rests on
    this."""
    import os

    from bigdata_scala_offline_data_clean_spark.sources.catalog import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    path = wh.path("dwd", "t_cells")
    # many input partitions -> the old write left many files per cell
    spark.range(400).selectExpr(
        "id AS n_id", "CAST(id % 4 AS INT) AS cell"
    ).repartition(16).write.partitionBy("cell").parquet(path)

    def files_in(c):
        d = os.path.join(path, f"cell={c}")
        if not os.path.isdir(d):
            return 0
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    assert files_in(1) > 1  # fragmented before
    erase = spark.range(1, 400, 8).selectExpr("id AS n_id")  # cells 1,3(?)
    affected = wh.erase_partition_rows("dwd", "t_cells", "cell", erase,
                                       "n_id")
    for c in affected:
        assert files_in(c) == 1, c  # the one-file rewrite guarantee


def test_c77_audit_frame_invariants(spark):
    """The nightly composition's cross-row invariants at the driver SF
    (the oracle already checks exact equality; this pins the semantics
    a reader of the audit frame relies on): every verb actually fired
    -- rows were erased and physically dropped, generations collapsed,
    each serve is non-vacuous -- and the vector gate ran at the
    calibrated tau."""
    from bigdata_scala_offline_data_clean_spark.queries.round17 import (
        c77_nightly_index_lifecycle,
    )

    rows = {
        r["index_name"]: r
        for r in c77_nightly_index_lifecycle(spark, SF_MID).collect()
    }
    assert set(rows) == {"minhash_bands", "phash_bands", "ivf_cells"}
    for r in rows.values():
        assert r["rows_erased"] > 0
        assert r["rows_live"] == r["rows_built"] - r["rows_erased"]
        assert r["files_after"] < r["files_before"]  # defragmented
        assert r["served_pairs"] > 0  # every serve non-vacuous
    t, p, v = (rows["minhash_bands"], rows["phash_bands"],
               rows["ivf_cells"])
    assert t.compacted and p.compacted
    assert (t["files_before"], t["files_after"]) == (8, 4)
    assert t["rows_built"] // 8 == p["rows_built"] // 4  # same doc set
    assert v["tau"] is not None and v["tau"] > 0.3  # calibrated, not fixed
    assert t["tau"] is None and p["tau"] is None


def test_guard_runs_on_the_calibration_sample(spark):
    """ADVICE r16: a tau calibrated on S rows must be judged on the
    same S rows -- the guarded operators accept the calibrated tau when
    the calibration's S is passed through ``guard_sample_size``."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        calibrate_cosine_threshold,
        calibration_sample_size,
        estimate_chance_pair_degree,
        semdedup,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table
    from bigdata_scala_offline_data_clean_spark.queries.quantizers import (
        A209_CENTROIDS,
    )

    e = load_table(spark, SF_MID, "embeddings")
    n = e.count()
    s = calibration_sample_size(n)
    tau = calibrate_cosine_threshold(e, sample_size=s, n_total=n)
    # on the calibration's own sample the budget holds by construction
    assert (
        estimate_chance_pair_degree(
            e, threshold=tau, sample_size=s, n_total=n
        )
        <= 0.05
    )
    out = semdedup(
        e,
        A209_CENTROIDS,
        threshold=tau,
        guard_max_chance_degree=1.0,
        guard_sample_size=s,
    )
    assert out.count() == n  # guard passed; plan ran
