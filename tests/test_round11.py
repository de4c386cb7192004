"""Round-11 pins: ADVICE r10 fixes (WAV malformed-chunk contracts, flush-dir
grace period, bench_compare banding) and VERDICT r10 tasks #6 (bench bands)
and #7 (trained-ANN recall floors on the sf0.01 fixture).
"""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F


def _wav(fmt_chunks: list[bytes], data_chunks: list[bytes]) -> bytes:
    body = b"".join(fmt_chunks + data_chunks)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


_FMT16 = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)


def test_wav_duplicate_data_chunk_raises():
    """ADVICE r10: a later data chunk must not silently overwrite the
    first -- duplicate data chunks are malformed and fail loudly."""
    from bigdata_scala_offline_data_clean_spark.operators.multimodal import (
        decode_wav,
    )

    d1 = b"data" + struct.pack("<I", 4) + struct.pack("<2h", 1, 2)
    d2 = b"data" + struct.pack("<I", 4) + struct.pack("<2h", 9, 9)
    with pytest.raises(ValueError, match="duplicate data"):
        decode_wav(_wav([_FMT16], [d1, d2]))
    # single data chunk still decodes
    assert decode_wav(_wav([_FMT16], [d1]))["samples"] == [1, 2]


def test_wav_odd_data_length_raises():
    """ADVICE r10: an odd byte count cannot hold whole 16-bit samples --
    raise instead of silently truncating the final byte."""
    from bigdata_scala_offline_data_clean_spark.operators.multimodal import (
        decode_wav,
    )

    # clen=3: one full sample plus a dangling byte (word-aligned pad after)
    bad = b"data" + struct.pack("<I", 3) + b"\x07\x00\xff" + b"\x00"
    with pytest.raises(ValueError, match="odd data"):
        decode_wav(_wav([_FMT16], [bad]))


def test_flush_dir_grace_period(spark, tmp_path):
    """ADVICE r10: the legacy stream_flush_* sweep must not reap a dir a
    concurrent session may still be writing -- only dirs idle past the
    grace period go."""
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("testdata not present")
    from bigdata_scala_offline_data_clean_spark.queries.round9f import (
        _s16_source_dir,
    )

    tdir = tempfile.gettempdir()
    fresh = os.path.join(tdir, "stream_flush_" + "a" * 12)  # legacy naming
    stale = os.path.join(tdir, "stream_flush_" + "b" * 12)
    os.makedirs(fresh, exist_ok=True)
    os.makedirs(stale, exist_ok=True)
    old = 7200.0
    os.utime(stale, (os.stat(stale).st_atime - old, os.stat(stale).st_mtime - old))
    try:
        _s16_source_dir(spark, sf_dir)
        assert os.path.isdir(fresh)  # recently active: survives the sweep
        assert not os.path.exists(stale)  # idle past grace: reaped
    finally:
        import shutil

        shutil.rmtree(fresh, ignore_errors=True)
        shutil.rmtree(stale, ignore_errors=True)


def test_bench_compare_band_overlap():
    """VERDICT r10 task #6: movers whose [min, min+spread] bands overlap
    are jitter, not regressions."""
    from tools.bench_compare import _bands_overlap

    assert _bands_overlap({"min": 1.0, "spread": 0.5}, {"min": 1.4, "spread": 0.1})
    assert not _bands_overlap({"min": 1.0, "spread": 0.1}, {"min": 1.4, "spread": 0.1})
    # missing band data -> fall back to ratio-only flagging (not noise)
    assert not _bands_overlap(None, {"min": 1.0, "spread": 0.1})


# ---------------------------------------------------------------------------
# VERDICT r10 task #7: trained-path recall floor.  a16 stays rows-only in
# the driver (k-means centroids are float-iterative, no SQL twin), so a
# silent trainer regression could otherwise hide behind "rows-only by
# design".  This pin runs the EXACT query parameters (n_clusters=8,
# n_probes=4) on the sf0.01 fixture with the fixed default seed and
# asserts recall@5 against the exact top-k.  Measured on 2026-08-15:
# 0.68 -- the 0.6 floor leaves noise margin while sitting well above the
# in-query floor (0.5).
# ---------------------------------------------------------------------------


def _sf001_embeddings(spark):
    path = "/root/testdata/sf0.01/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("sf0.01 testdata not present")
    return spark.read.parquet(path)


def test_trained_ivf_recall_floor_sf001(spark):
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )

    e = _sf001_embeddings(spark)
    q = e.where(F.col("vec_id") < 5)
    exact = {(r.q_id, r.n_id) for r in cosine_topk(e, q, k=5).collect()}
    approx = {
        (r.q_id, r.n_id)
        for r in ivf_ann_topk(e, q, k=5, n_clusters=8, n_probes=4).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.6


def test_reliable_checkpoint_percentiles_identical(spark, tmp_path):
    """The same grouped percentile query pinned via localCheckpoint (no
    checkpoint dir) and via replicated checkpoint() (a dir set, which is
    what switches every pin_frame) must produce identical rows."""
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        grouped_exact_percentiles,
    )

    df = spark.createDataFrame(
        [(k % 3, float(k * k % 97)) for k in range(500)], ["g", "v"]
    )
    qs = [0.25, 0.5, 0.9]

    def rows():
        return sorted(
            map(tuple, grouped_exact_percentiles(df, ["g"], "v", qs).collect())
        )

    sc = spark.sparkContext
    prior = sc.getCheckpointDir()  # other tests may have set one
    try:
        sc._jsc.setCheckpointDir(None)
        local = rows()
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        rel = rows()
    finally:
        if prior is None:
            sc._jsc.setCheckpointDir(None)
        else:
            sc.setCheckpointDir(prior)
    assert rel == local


def test_build_session_checkpoint_dir_env(spark, tmp_path, monkeypatch):
    """build_session wires SPARK_GRAFT_CHECKPOINT_DIR into the context
    (getOrCreate returns the shared session; setCheckpointDir still runs)."""
    import os

    from bigdata_scala_offline_data_clean_spark.session import build_session

    d = str(tmp_path / "env_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", d)
    s = build_session(app_name="ckpt-env")
    got = s.sparkContext.getCheckpointDir()
    assert got is not None and os.path.basename(d) in got


# ---------------------------------------------------------------------------
# VERDICT r10 task #2: duplicated-span removal.  The winnowing guarantee
# must hold END TO END through the transform: a shared substring of
# >= w + k - 1 characters is FULLY removed from every non-keeper document.
# ---------------------------------------------------------------------------


def test_span_dedup_removes_planted_paragraph(spark):
    from bigdata_scala_offline_data_clean_spark.operators.text import (
        winnow_span_dedup,
    )

    k, w = 5, 4
    para = "the quick brown fox jumps over the lazy dog again and again"
    assert len(para) >= w + k - 1
    rows = [
        (1, "unique opening words here. " + para + " unique closing alpha."),
        (2, "totally different start!! " + para + " different ending beta."),
        (3, "third context entirely;; " + para + " third epilogue gamma."),
        (4, "no duplication in this one at all, completely original text."),
        (5, "tiny"),  # shorter than k: no grams, passes through untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in winnow_span_dedup(df, k=k, w=w).collect()}

    # keeper (min doc_id) retains the canonical copy
    assert para in out[1].clean_text and out[1].removed_chars == 0
    # the >= w+k-1 guarantee: fully removed from EVERY non-keeper
    assert para not in out[2].clean_text and out[2].removed_chars >= len(para)
    assert para not in out[3].clean_text and out[3].removed_chars >= len(para)
    # boundary spillage is bounded by w + k - 2 per edge
    for d in (2, 3):
        assert out[d].removed_chars <= len(para) + 2 * (w + k - 2)
        assert out[d].n_spans == 1
        assert out[d].kept_len == out[d].orig_len - out[d].removed_chars
    # untouched docs pass through exactly
    assert out[4].clean_text == rows[3][1] and out[4].removed_chars == 0
    assert out[5].clean_text == "tiny" and out[5].n_spans == 0


def test_span_dedup_keep_none_and_full_coverage(spark):
    """keep='none' removes every occurrence; a document that is entirely
    duplicated text cleans to the empty string (not NULL)."""
    from bigdata_scala_offline_data_clean_spark.operators.text import (
        winnow_span_dedup,
    )

    para = "completely shared body of text with nothing else around it"
    df = spark.createDataFrame(
        [(1, para), (2, para), (3, "standalone original content here")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in winnow_span_dedup(df, k=5, w=4, keep="none").collect()
    }
    assert out[1].clean_text == "" and out[2].clean_text == ""
    assert out[1].kept_len == 0 and out[1].n_spans == 1
    assert out[3].clean_text == "standalone original content here"
    # keep='first': doc 1 is the canonical holder, doc 2 cleans to empty
    kept = {
        r.doc_id: r for r in winnow_span_dedup(df, k=5, w=4).collect()
    }
    assert kept[1].clean_text == para and kept[2].clean_text == ""

    with pytest.raises(ValueError, match="keep"):
        winnow_span_dedup(df, keep="all")


def test_semdedup_groups_and_keeper(spark):
    """SemDeDup differential on a hand graph: two clusters, one near-dup
    group spanning 3 vectors (transitively -- v1~v2, v2~v3), keeper = the
    member closest to its centroid; singletons keep themselves."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        semdedup,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [10.0, 0.1]),    # cluster 1, near-dup with 2 (cos ~1)
        (2, [10.0, 0.2]),    # cluster 1, near-dup with 1 and 3
        (3, [10.0, 0.35]),   # cluster 1, transitively grouped
        (4, [0.1, 5.0]),     # cluster 2, singleton
        (5, [-8.0, 4.0]),    # cluster 2 (closer to [0,1]), anti-correlated
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in semdedup(df, cents, threshold=0.9).collect()}

    assert out[1].cluster == 1 and out[4].cluster == 2 and out[5].cluster == 2
    # transitive group 1-2-3 collapses to group_id 1
    assert out[1].group_id == out[2].group_id == out[3].group_id == 1
    # keeper = closest to centroid [1, 0]: vec 1 (smallest y component)
    assert out[1].is_kept and not out[2].is_kept and not out[3].is_kept
    # singletons keep themselves
    assert out[4].is_kept and out[5].is_kept
    assert out[4].group_id == 4 and out[5].group_id == 5


def test_hll_accuracy_and_merge(spark):
    """Portable HLL: (1) estimate within the ~2-sigma HLL error band at a
    cardinality well past the linear-counting range; (2) register tables
    from disjoint shards max-merge to EXACTLY the global register table
    (the mergeable-partials contract)."""
    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    n = 20000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    est = hll_estimate(hll_registers(df, ["g"], "v"), ["g"]).collect()[0]
    # sigma ~ 1.04/sqrt(256) = 6.5%; 3 sigma = 19.5%
    assert abs(est["hll_estimate"] - n) / n < 0.2

    left = df.where(F.col("v") % 2 == 0)
    right = df.where(F.col("v") % 2 == 1)
    merged = (
        hll_registers(left, ["g"], "v")
        .unionByName(hll_registers(right, ["g"], "v"))
        .groupBy("g", "reg")
        .agg(F.max("r").alias("r"))
    )
    full = hll_registers(df, ["g"], "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    # and therefore identical estimates
    e2 = hll_estimate(merged, ["g"]).collect()[0]["hll_estimate"]
    assert e2 == est["hll_estimate"]


def test_semdedup_matmul_matches_fold(spark):
    """The BLAS path (vectorized nearest-centroid assignment + blocked
    per-cluster pairwise cosine) must agree with the sequential-fold
    reference model on clusters, groups, and keeper choice."""
    import os

    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        semdedup,
    )
    from reference_models import semdedup_model

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("testdata not present")
    from bigdata_scala_offline_data_clean_spark.queries.round10 import (
        _seed_vectors,
    )

    e = spark.read.parquet(path)
    cents = _seed_vectors(spark, "/root/testdata/sf0.001")
    model = semdedup_model(
        [(r.vec_id, r.embedding) for r in e.collect()], cents, 0.3
    )
    got = {
        r.vec_id: (r.cluster, r.group_id, r.is_kept)
        for r in semdedup(e, cents).collect()
    }
    assert got == model
