"""Round-17 queries: the production SemDeDup recipe as ONE driver-checked
run (VERDICT r16 order sheet).

- a220 PRODUCTION SemDeDup: round 15 proved the two remediations must
  ship TOGETHER -- retraining k ~ sqrt(n) alone makes keep rate worse
  (a finer quantizer recovers more chance pairs) and the threshold must
  track n -- yet until now they ran split across a209 (trained k,
  fixed tau) and a218 (calibrated tau, frozen sf0.01 quantizer).  a220
  is the combined nightly: fingerprint the corpus, calibrate tau on the
  adaptive canonical sample, pass the percolation guard at that tau,
  load the corpus' trained quantizer from the artifact registry
  (retraining live for corpora outside it -- the 10x replica path),
  run semdedup at trained-k + calibrated-tau, report the keep census.
  Exactness across BOTH data-dependent parameters: tau is recomputed
  inside SQL (a217's shared CTE chain) and the quantizer is selected
  inside SQL by the same (count, checksum) corpus identity the Spark
  side keys the registry with -- so each engine independently derives
  the full parameterization from the data and the pair algebra matches
  bit-for-bit.

Reference parity note: the reference suite (873 lines,
src/main/scala/com/kanseiu/spark/handler -- warehouse ETL only) has no
index/calibration surface; this extends the engine per the brief.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame, run_concurrently
from . import QuerySpec
from ._util import load_table

QUERIES: dict[str, QuerySpec] = {}

# ---------------------------------------------------------------------------
# a220 -- SemDeDup with the FULL production parameterization: k tracks
# sqrt(n) (the a209 knob that bounds per-cluster pair work) AND tau
# tracks the corpus' chance-cosine tail (the a217 knob that stops the
# merge graph percolating).  SCALE.md round 15 measured both failure
# directions; this query is the remediated nightly.
#
# Scale: calibration + guard are bounded probes (O(S^2 + count), S
# capped at 2048); training is a bounded canonical-sample k-means
# (top-2048 rows, never the corpus); the dedup is the audited a209
# shape -- BLAS assignment, per-cluster block-pair search with k ~
# sqrt(n) keeping mean cluster size ~ sqrt(n), O(log n)-round closure.
# No stage touches the full pair space.
# ---------------------------------------------------------------------------


def _a220_trained_centroids(e: DataFrame, n: int, chk: int):
    """The corpus' trained quantizer: registry hit for the frozen test
    corpora (the shipped-artifact pattern -- BOTH engines then fold
    identical doubles), live retrain for anything else (the production
    redeploy path; pytest pins registry == live training at every test
    SF, so the two paths are the same doubles where they overlap)."""
    from ..operators.similarity import train_ivf_centroids
    from .quantizers import A220_CENTROIDS_BY_CORPUS

    cents = A220_CENTROIDS_BY_CORPUS.get((n, chk))
    if cents is None:
        cents = train_ivf_centroids(
            e, n_clusters=max(4, math.isqrt(n)), sample_size=2048,
            iters=10, seed=42, order_col="vec_id",
        )
    return cents


def a220_semdedup_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        _percolation_guard,
        calibrate_cosine_threshold,
        calibration_sample_size,
        corpus_fingerprint,
        semdedup,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # ONE bounded fingerprint aggregate feeds the registry key, the
    # adaptive sample size, and the calibration/guard counts
    n, chk = corpus_fingerprint(e)
    s_cap = calibration_sample_size(n)
    tau = calibrate_cosine_threshold(e, sample_size=s_cap, n_total=n)
    _percolation_guard(
        e, "embedding", "vec_id", tau, 1.0, "a220_semdedup_production",
        n_total=n, sample_size=s_cap,
    )
    cents = _a220_trained_centroids(e, n, chk)
    sd = semdedup(e, cents, threshold=tau)
    return (
        sd.agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("is_kept").cast("long")).alias("n_kept"),
        )
        .select(
            "n_vecs",
            F.lit(len(cents)).cast("bigint").alias("k_trained"),
            F.lit(tau).alias("tau_calibrated"),
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_vecs"), 4).alias("keep_rate"),
            (F.col("n_kept") < F.col("n_vecs")).alias("merged_any"),
        )
    )


def _a220_seeds_sql() -> str:
    """The artifact registry as a SQL VALUES table: (count, checksum,
    cid, centroid) for every frozen corpus, selected by the corpus'
    OWN identity -- the SQL side of the registry lookup."""
    from .quantizers import A220_CENTROIDS_BY_CORPUS

    rows = []
    for (nk, ck), cents in A220_CENTROIDS_BY_CORPUS.items():
        for i, c in enumerate(cents):
            vec = ", ".join(repr(float(x)) for x in c)
            rows.append(f"({nk}, {ck}, {i + 1}, [{vec}])")
    return (
        "(VALUES\n    "
        + ",\n    ".join(rows)
        + ") AS t(nk, ck, cid, cv)"
    )


def _a220_sql() -> str:
    from ..operators.similarity import CORPUS_CHK_SQL, DOT_SQL as dot

    from .quantizers import A220_CENTROIDS_BY_CORPUS
    from .round10 import _l2_seg_sql
    from .round16 import _sample_cos_cte_sql, _tau_cte_sql

    dim = len(next(iter(A220_CENTROIDS_BY_CORPUS.values()))[0])
    l2 = _l2_seg_sql("e.embedding", "s.cv", "0", dim)
    ab = dot.format(a="x.embedding", b="y.embedding")
    aa = dot.format(a="x.embedding", b="x.embedding")
    bb = dot.format(a="y.embedding", b="y.embedding")
    chk = CORPUS_CHK_SQL.format(t="embeddings")
    # tau from a217's shared emitters; seeds from the registry selected
    # by the corpus' (count, checksum) identity -- both data-dependent
    # parameters derived inside SQL, then a209's pair algebra
    return f"""
WITH RECURSIVE {_sample_cos_cte_sql("samp", "scos")},
{_tau_cte_sql("samp", "scos")}, ident AS (
  SELECT count(*) AS n, {chk} AS chk FROM embeddings
), seeds AS MATERIALIZED (
  SELECT cid, cv FROM {_a220_seeds_sql()}, ident
  WHERE t.nk = ident.n AND t.ck = ident.chk
), assign AS MATERIALIZED (
  SELECT vec_id, cid AS cluster, d AS d2c FROM (
    SELECT e.vec_id, s.cid, {l2} AS d,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {l2} ASC, s.cid ASC) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rn = 1
), v AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, a.d2c, e.embedding
  FROM assign a JOIN embeddings e USING (vec_id)
), pairs AS MATERIALIZED (
  SELECT x.vec_id AS a, y.vec_id AS b
  FROM v x JOIN v y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE round({ab} / (sqrt({aa}) * sqrt({bb})), 6)
          >= (SELECT tau_calibrated FROM tau)
), sym AS (
  SELECT a AS u, b AS w FROM pairs
  UNION
  SELECT b AS u, a AS w FROM pairs
), reach(node, r) AS (
  SELECT vec_id, vec_id FROM v
  UNION
  SELECT s.u, reach.r FROM sym s JOIN reach ON s.w = reach.node
), comp AS (
  SELECT node AS vec_id, min(r) AS group_id FROM reach GROUP BY node
), kept AS (
  SELECT row_number() OVER (
           PARTITION BY c.group_id ORDER BY v.d2c ASC, v.vec_id ASC) = 1
           AS is_kept
  FROM v JOIN comp c USING (vec_id)
)
SELECT (SELECT count(*) FROM kept) AS n_vecs,
       (SELECT count(*) FROM seeds) AS k_trained,
       (SELECT tau_calibrated FROM tau) AS tau_calibrated,
       (SELECT count(*) FROM kept WHERE is_kept) AS n_kept,
       round((SELECT count(*) FROM kept WHERE is_kept)
             / (SELECT count(*) FROM kept), 4) AS keep_rate,
       (SELECT count(*) FROM kept WHERE is_kept)
         < (SELECT count(*) FROM kept) AS merged_any
"""


QUERIES["a220_semdedup_production"] = QuerySpec(
    a220_semdedup_production, _a220_sql()
)


# ---------------------------------------------------------------------------
# a222 -- the SIZED bloom blocklist screen (VERDICT r16 task #3).  a219
# deliberately fixes m = 1024 so its census shows the FPR saturating as
# the blocklist grows (0.002 -> 0.197 -> 1.0 at 10x) -- the alarm.
# a222 is the response: m is COMPUTED IN-QUERY from the blocklist count
# at the 1% FPR target -- m = next_pow2(ceil(nb * 9.59)) bits, the
# standard -n ln p / ln^2 2 sizing with the bits/key precomputed as an
# integer constant so both engines derive the identical m -- and the
# census now carries the bound check: measured FPR <= 2 * target at
# every scale instead of saturating.  Same zero-join screen shape as
# a219 (occupied-position set folded into the scan as literal probes,
# exact verify over candidates only); a219 stays registered as the
# fixed-m comparison row.  Scale: the filter artifact is <= k * nb
# positions -- it grows LINEARLY with the blocklist like any bloom
# bitmap (1e9 ids -> ~1.2 GB at 1%), while the corpus side still pays
# zero shuffle for the screen; tests pin the native
# bloom_filter_agg/might_contain path (the c65 machinery) as a
# plan-level twin of the same screen.
# ---------------------------------------------------------------------------

_A222_BLOCK_MOD, _A222_BLOCK_REM = 17, 3  # a219's simulated blocklist
_A222_K = 3
_A222_TARGET_P = 0.01


def a222_bloom_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        bloom_candidate_expr,
        bloom_setbits,
        bloom_sized_m,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    blocked = (
        F.pmod(F.col("doc_id"), F.lit(_A222_BLOCK_MOD)) == _A222_BLOCK_REM
    )
    block = d.where(blocked)
    # SIZE: m from the blocklist count -- one bounded aggregate (the
    # S12 pattern); m becomes a plan literal like a219's fixed 1024
    nb = block.count()
    m = bloom_sized_m(nb)
    setbits = bloom_setbits(block, "doc_id", m=m, k=_A222_K)
    cands = d.where(
        bloom_candidate_expr(setbits, "doc_id", m=m, k=_A222_K)
    )
    n_corpus = d.agg(F.count(F.lit(1)).alias("n_corpus"))
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_ver = cands.join(F.broadcast(block), "doc_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_blocked")
    )
    fp = F.col("n_candidates") - F.col("n_blocked")
    fpr = fp / (F.col("n_corpus") - F.lit(nb))
    return (
        n_corpus.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_ver))
        .select(
            "n_corpus",
            F.lit(nb).cast("bigint").alias("n_blocklist"),
            F.lit(m).cast("bigint").alias("m_sized"),
            F.lit(len(setbits)).cast("bigint").alias("n_bits_set"),
            "n_candidates",
            "n_blocked",
            fp.alias("n_false_positives"),
            F.round(fpr, 6).alias("fpr_measured"),
            # unrounded comparison, the a216 rule; 2p absorbs the
            # fixed-k-3-vs-optimal-k gap (see bloom_sized_m)
            (fpr <= F.lit(2 * _A222_TARGET_P)).alias("fpr_ok"),
            (F.col("n_corpus") - F.col("n_blocked")).alias("n_kept"),
            (F.col("n_blocked") == F.lit(nb)).alias("no_false_negatives"),
        )
    )


def _a222_sql() -> str:
    from ..operators.sketches import BLOOM_BITS_PER_KEY_X100

    msel = "(SELECT m FROM msz)"

    def pos(i: int, src: str = "doc_id") -> str:
        return (
            f"CAST(('0x' || substr(md5(CAST({src} AS VARCHAR) || ':{i}'), "
            f"1, 12)) AS BIGINT) % {msel}"
        )

    probes = "\n  UNION\n".join(
        f"  SELECT {pos(i)} AS p FROM block" for i in range(_A222_K)
    )
    cand = " AND ".join(
        f"({pos(i)}) IN (SELECT p FROM setbits)" for i in range(_A222_K)
    )
    return f"""
WITH block AS (
  SELECT doc_id FROM documents
  WHERE doc_id % {_A222_BLOCK_MOD} = {_A222_BLOCK_REM}
), msz AS (
  SELECT min(p) AS m FROM (
    SELECT CAST(power(2, g.generate_series) AS BIGINT) AS p
    FROM generate_series(0, 40) g
  ), (
    SELECT greatest(
      (count(*) * {BLOOM_BITS_PER_KEY_X100} + 99) // 100, 1
    ) AS target FROM block
  ) WHERE p >= target
), setbits AS (
{probes}
), flags AS (
  SELECT doc_id,
         {cand} AS is_cand,
         doc_id % {_A222_BLOCK_MOD} = {_A222_BLOCK_REM} AS is_block
  FROM documents
), agg AS (
  SELECT count(*) AS n_corpus,
         sum(CASE WHEN is_block THEN 1 ELSE 0 END) AS n_blocklist,
         sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS n_candidates,
         sum(CASE WHEN is_cand AND is_block THEN 1 ELSE 0 END) AS n_blocked
  FROM flags
)
SELECT CAST(n_corpus AS BIGINT) AS n_corpus,
       CAST(n_blocklist AS BIGINT) AS n_blocklist,
       (SELECT m FROM msz) AS m_sized,
       (SELECT count(*) FROM setbits) AS n_bits_set,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_blocked AS BIGINT) AS n_blocked,
       CAST(n_candidates - n_blocked AS BIGINT) AS n_false_positives,
       round(CAST(n_candidates - n_blocked AS BIGINT)
             / CAST(n_corpus - n_blocklist AS BIGINT), 6) AS fpr_measured,
       CAST(n_candidates - n_blocked AS BIGINT)
         / CAST(n_corpus - n_blocklist AS BIGINT)
         <= CAST({2 * _A222_TARGET_P!r} AS DOUBLE) AS fpr_ok,
       CAST(n_corpus - n_blocked AS BIGINT) AS n_kept,
       n_blocked = n_blocklist AS no_false_negatives
FROM agg
"""


QUERIES["a222_bloom_sized"] = QuerySpec(a222_bloom_sized, _a222_sql())


# ---------------------------------------------------------------------------
# a221 -- perceptual VIDEO near-dup dedup (VERDICT r16 task #4): the
# a213/a214 scheme on the last modality, end to end on the REAL stdlib
# Y4M codec.  A deterministic 3-frame 8x8 Cmono YUV4MPEG2 stream is
# synthesized per document JVM-side (frame f's cell i = first md5 byte
# of the canonically-sorted word stream salted with the frame index, so
# near-dup documents yield near-identical streams), decode_video's REAL
# stream-header + FRAME-chunk walk parses it back inside Arrow
# ``mapInPandas``, and each frame's 64-bit average-hash uses INTEGER
# arithmetic only (bit i set iff 64*y_i > sum(y) -- a213's rule on the
# luma plane).  Two videos match when a MAJORITY of frame pairs (>= 2
# of 3) are within hamming <= 3 -- the partial-overlap semantic video
# dedup actually needs (one edited/replaced frame must not hide a
# duplicated clip; the testdata's near-dup tail confirms it: all-frames
# is vacuous at sf0.01 while majority finds the true pairs).
# Candidates come from the Manku 4x16 band join keyed on (frame_idx,
# band) -- sound: >= 2 matching frames implies SOME frame at hamming
# <= 3 < 4 bands, which guarantees a shared band row on that frame --
# then every frame pair verifies by exact per-byte bit_count(xor).
#
# The DuckDB twin recomputes every raster from the GENERATING
# arithmetic (never the decoder) -- a mis-parse of the stream header,
# a FRAME boundary off by one, or a wrong plane slice breaks the exact
# match.  Scale: synthesis + decode is one Arrow pass, no shuffle; the
# pair stage joins 4 narrow band keys on frame 0 and the per-frame
# verify joins only surviving candidates (never all-pairs; the oracle
# brute-forces because DuckDB is the small-scale referee).
# ---------------------------------------------------------------------------

_A221_MAX_HAMMING = 3
_A221_N_FRAMES = 3
_A221_MIN_FRAMES = 2  # majority of the 3 sampled frames must match
_A221_HEADER = "YUV4MPEG2 W8 H8 F25:1 Ip A1:1 Cmono\n"


def _a221_frame_hashes(docs: DataFrame) -> DataFrame:
    """The per-frame fingerprint pass: ``(doc_id, frame_idx, ahash)``
    from the synthesized Y4M payload through the REAL stdlib decode.

    Optimization round 17 (guide §4.2): synthesis moved INTO the same
    Arrow pass as the decode -- the former Catalyst form evaluated
    64 x 3 interpreted ``transform`` md5 lambdas per document and
    shipped the assembled payload through Arrow; the Python form runs
    the identical generating arithmetic (sorted word stream -- Spark's
    ``array_sort`` UTF8 byte order == Python code-point order for valid
    UTF-8 -- then cell i of frame f = first md5 byte of
    ``word[(i*nw)//64] + ':f{f}'``), so the payload bytes are unchanged
    and the REAL ``decode_video`` stream walk still parses them back.
    The DuckDB twin keeps recomputing rasters from the same arithmetic.
    """
    import pandas as pd

    from ..operators.etl import spread_narrow_scan
    from ..operators.multimodal import decode_video

    docs = spread_narrow_scan(docs, "doc_id")  # the a213 synthesis rule
    pdf_in = docs.select("doc_id", "text")
    header = _A221_HEADER.encode("utf-8")
    n_frames = _A221_N_FRAMES

    def gen(batches):
        from hashlib import md5

        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [],
                                    "ahash": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                ws = sorted(text.split(" "))
                nw = len(ws)
                parts = [header]
                for f in range(n_frames):
                    salt = f":f{f}".encode("utf-8")
                    parts.append(b"FRAME\n")
                    parts.append(
                        b"".join(
                            md5(
                                ws[(i * nw) // 64].encode("utf-8") + salt
                            ).digest()[:1]
                            for i in range(64)
                        )
                    )
                video = decode_video(b"".join(parts))  # REAL Y4M parse
                for f, frame in enumerate(video["frames"]):
                    y = frame["y"]  # 64-byte luma raster (Cmono)
                    s = sum(y)
                    bits = [1 if 64 * p > s else 0 for p in y]
                    byts = [
                        sum(bits[8 * j + k] << k for k in range(8))
                        for j in range(8)
                    ]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(f)
                    out["ahash"].append("".join(f"{v:02x}" for v in byts))
            yield pd.DataFrame(out)

    return pdf_in.mapInPandas(
        gen, schema="doc_id bigint, frame_idx int, ahash string"
    )


def a221_video_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import hamming64_sql

    fh = pin_frame(  # feeds the band join AND the per-frame verify
        _a221_frame_hashes(load_table(spark, sf_dir, "documents"))
    )
    # band rows PER FRAME: the Manku quarters keyed on (frame_idx,
    # band, val), so only same-frame fingerprints can collide
    rows = fh.select(
        "doc_id",
        "frame_idx",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                "j -> struct(j as band, substr(ahash, 4*j + 1, 4)"
                " as val))"
            )
        ).alias("__b"),
    ).select("doc_id", "frame_idx", "__b.band", "__b.val")
    cands = (
        rows.select(
            F.col("doc_id").alias("__l"), "frame_idx", "band", "val"
        )
        .join(
            rows.select(
                F.col("doc_id").alias("__r"), "frame_idx", "band", "val"
            ),
            ["frame_idx", "band", "val"],
        )
        .where(F.col("__l") != F.col("__r"))
        .select(
            F.least("__l", "__r").alias("a"),
            F.greatest("__l", "__r").alias("b"),
        )
        .distinct()
    )
    ha = fh.select(
        F.col("doc_id").alias("a"), "frame_idx",
        F.col("ahash").alias("__fa"),
    )
    hb = fh.select(
        F.col("doc_id").alias("b"), "frame_idx",
        F.col("ahash").alias("__fb"),
    )
    per = (
        cands.join(ha, "a")
        .join(hb, ["b", "frame_idx"])
        .withColumn(
            "__hf", F.expr(hamming64_sql("__fa", "__fb")).cast("int")
        )
    )
    matched = (
        F.col("__hf") <= F.lit(_A221_MAX_HAMMING)
    ).cast("int")
    return (
        per.groupBy("a", "b")
        .agg(
            F.sum(matched).alias("__nm"),
            F.sum("__hf").alias("__tot"),
        )
        .where(F.col("__nm") >= _A221_MIN_FRAMES)
        .select(
            "a",
            "b",
            F.col("__nm").cast("int").alias("n_frames_matched"),
            F.col("__tot").cast("int").alias("hamming_total"),
        )
    )


def _a221_sql() -> str:
    hexd = "0123456789abcdef"
    md5 = "md5(ws[1 + ((i * nw) // 64)] || ':f' || fr.f)"
    cell = (
        f"(16 * (strpos('{hexd}', substr({md5}, 1, 1)) - 1)"
        f" + (strpos('{hexd}', substr({md5}, 2, 1)) - 1))"
    )
    ham = (
        "list_reduce(list_transform(range(1, 9), "
        "j -> bit_count(CAST(xor(x.by[j], y.by[j]) AS BIGINT))), "
        "(p, q) -> p + q)"
    )
    return f"""
WITH cells AS (
  SELECT doc_id, fr.f,
         list_transform(range(0, 64), i -> {cell}) AS c
  FROM (SELECT doc_id, list_sort(string_split(text, ' ')) AS ws,
               len(string_split(text, ' ')) AS nw
        FROM documents),
       (SELECT unnest(range(0, {_A221_N_FRAMES})) AS f) fr
), hashes AS (
  SELECT doc_id, f,
         list_transform(range(0, 64),
           i -> CASE WHEN 64 * c[i + 1] > list_reduce(c, (a, b) -> a + b)
                THEN 1 ELSE 0 END) AS bits
  FROM cells
), bytes AS (
  SELECT doc_id, f,
         list_transform(range(0, 8),
           j -> list_reduce(list_transform(range(0, 8),
                  k -> bits[8*j + k + 1] * (1 << k)), (a, b) -> a + b)) AS by
  FROM hashes
), ham AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.f, {ham} AS hf
  FROM bytes x JOIN bytes y ON x.doc_id < y.doc_id AND x.f = y.f
)
SELECT a, b,
       CAST(sum(CASE WHEN hf <= {_A221_MAX_HAMMING} THEN 1 ELSE 0 END)
            AS INT) AS n_frames_matched,
       CAST(sum(hf) AS INT) AS hamming_total
FROM ham GROUP BY a, b
HAVING sum(CASE WHEN hf <= {_A221_MAX_HAMMING} THEN 1 ELSE 0 END)
         >= {_A221_MIN_FRAMES}
"""


QUERIES["a221_video_phash_dedup"] = QuerySpec(
    a221_video_phash_dedup, _a221_sql()
)


# ---------------------------------------------------------------------------
# c77 -- the GRAND NIGHTLY LIFECYCLE (VERDICT r16 task #5): every index
# verb, across all three index modalities, composed in the order a
# 100 TB corpus actually runs them each night, emitting a per-index
# audit frame.  Round 16 left each PAIR of verbs pinned (c70-c76); c77
# is the full composition:
#
#   calibrate  (a217's playbook -- tau for the vector dedup gate)
#   build+absorb (day-0 index + day-1 generation, each modality)
#   erase      (tombstones for the bucketed band indexes, physical
#               partition rewrite for the cell-partitioned vector index)
#   compact    (threshold-triggered: maybe_compact_bucketed folds
#               generations+tombstones; compact_partitions defragments
#               the cells the absorb left fragmented)
#   serve      (day-2 delta against each LIVE index -- the end state a
#               morning ingest gate actually reads)
#
# The audit row per index reports rows/files/serve counts FROM THE REAL
# STORAGE (c74/c76's counted-vs-derived pattern) while the DuckDB twin
# derives every number from first principles: band-row multiplicities
# (8 text / 4 phash rows per doc), the one-file-per-bucket write
# discipline (2 generations x 4 buckets before, 4 after), the vector
# index's per-cell file arithmetic over the SAME quantizer-assignment
# algebra the serve identity uses (cells touched per generation; an
# erase-rewritten cell collapses to one file -- the round-17
# erase_partition_rows guarantee; compaction triggers iff some
# non-rewritten cell still holds both generations), and the serve
# identities (a07 / a213 / the a209 pair algebra over LIVE rows
# restricted to delta-involved pairs, the vector gate at the
# SQL-recomputed calibrated tau).  A verb that drops live rows,
# resurrects erased ones, misses a fragmented cell, or serves stale
# data breaks the exact match somewhere in the frame.
#
# Scale: three index builds (each the already-audited amortized shape),
# O(|erased|)/O(affected-cells) erase verbs, metadata-sized censuses,
# and serves that are O(delta) -- the nightly composition adds no new
# asymptotics, which is exactly what this query certifies.
# ---------------------------------------------------------------------------

_C77_MOD = 10
_C77_DELTA_REM = 5   # day-2 delta: served, never indexed
_C77_ABSORB_REM = 9  # day-1 generation: absorbed after the build
_C77_ERASE_REM = 7   # erasure subjects: tombstoned / physically erased
_C77_BUCKETS = 4


def c77_nightly_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.dedup import (
        hash64_band_rows,
        minhash_band_index,
        serve_hash64_band_index,
        serve_minhash_band_index,
    )
    from ..operators.similarity import (
        _norm,
        argmin_struct_sql,
        calibrate_cosine_threshold,
        calibration_sample_size,
        dot_product,
        l2_fold_sql,
    )
    from ..sources.catalog import Warehouse
    from .analytics import _MH_BANDS, _MH_N, _MH_SHINGLE, _MH_THRESHOLD
    from .quantizers import A209_CENTROIDS
    from .round14 import _A213_MAX_HAMMING, _a213_hashes

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    drem = F.pmod(F.col("doc_id"), F.lit(_C77_MOD))
    vrem = F.pmod(F.col("vec_id"), F.lit(_C77_MOD))
    d_day0 = d.where(~drem.isin(_C77_DELTA_REM, _C77_ABSORB_REM))
    d_abs = d.where(drem == _C77_ABSORB_REM)
    d_delta = d.where(drem == _C77_DELTA_REM)
    d_erase = d.where(drem == _C77_ERASE_REM).select("doc_id")
    d_live = d.where(~drem.isin(_C77_DELTA_REM, _C77_ERASE_REM))

    scratch = tempfile.mkdtemp(prefix="ods_spark_c77_")
    try:
        wh = Warehouse(spark, scratch)

        def one_file_per_bucket(df: DataFrame, cols: list[str]) -> DataFrame:
            # the c76 write discipline: repartition hashes exactly like
            # the bucket spec -> one file per non-empty bucket per
            # generation, which is what makes the file census derivable
            return df.repartition(
                _C77_BUCKETS, *[F.col(c) for c in cols]
            )

        def bucketed_lifecycle(name, build_rows, absorb_rows, cols):
            spec = dict(
                bucket_cols=cols, buckets=_C77_BUCKETS, sort_cols=cols
            )
            wh.write_bucketed(
                one_file_per_bucket(build_rows, cols), "dwd", name, **spec
            )
            wh.write_bucketed(
                one_file_per_bucket(absorb_rows, cols),
                "dwd", name, **spec, mode="append",
            )
            t = wh.bucketed_table("dwd", name)

            # one pass for built + erased (r17, guide §1.2): the former
            # count() + semi-join count() scanned the fresh table twice;
            # a broadcast-marked left join counts both in one aggregate.
            # Round 18 (guide §2.6): that census, the tombstone append
            # and the file count touch disjoint targets (table scan /
            # side table write / filesystem metadata), so they overlap
            # as concurrent jobs inside the leg -- the compaction below
            # is the only step that must see the tombstones.
            def census():
                return t.select("doc_id").join(
                    F.broadcast(d_erase.withColumn("__er", F.lit(1))),
                    "doc_id",
                    "left",
                ).agg(
                    F.count(F.lit(1)).alias("b"), F.count("__er").alias("e")
                ).collect()[0]

            built_erased, _, files_before = run_concurrently(
                census,
                lambda: wh.append_tombstones(d_erase, "dwd", name),
                lambda: wh.data_file_count("dwd", name),
            )
            rows_built, rows_erased = built_erased["b"], built_erased["e"]
            compacted, _, files_after = wh.maybe_compact_bucketed(
                "dwd", name, **spec, max_files_per_bucket=1
            )
            rows_live = wh.bucketed_table("dwd", name).count()
            return (rows_built, rows_erased, rows_live, files_before,
                    files_after, compacted)

        # The three index legs below touch disjoint tables/paths and
        # share only read-only inputs, so they run as CONCURRENT driver
        # jobs (guide §2.6 "overlap independent jobs"): each leg is a
        # chain of small actions whose tails would otherwise leave
        # local[32] (or a cluster) mostly idle.  Results are collected
        # in a fixed order, so the output frame is unchanged.
        def text_leg() -> tuple:
            kw = dict(
                shingle_n=_MH_SHINGLE, num_hashes=_MH_N, bands=_MH_BANDS
            )
            stats = bucketed_lifecycle(
                "c77_text",
                minhash_band_index(d_day0, **kw),
                minhash_band_index(d_abs, **kw),
                ["band_id", "band_sig"],
            )
            served = serve_minhash_band_index(
                wh.read_bucketed_live("dwd", "c77_text"),
                d_delta,
                d_live,
                threshold=_MH_THRESHOLD,
                **kw,
            ).count()
            return (
                "minhash_bands", "bucketed(band_id,band_sig)",
                *stats, served, None,
            )

        def phash_leg() -> tuple:
            stats = bucketed_lifecycle(
                "c77_phash",
                hash64_band_rows(_a213_hashes(d_day0)),
                hash64_band_rows(_a213_hashes(d_abs)),
                ["band", "val"],
            )
            served = serve_hash64_band_index(
                wh.read_bucketed_live("dwd", "c77_phash"),
                _a213_hashes(d_delta),
                _A213_MAX_HAMMING,
            ).count()
            return (
                "phash_bands", "bucketed(band,val)", *stats, served, None,
            )

        # --- VECTOR: cell-partitioned semantic index (physical erase,
        # c73/c75's verbs, the gate at the CALIBRATED tau) -------------
        def vector_leg() -> tuple:
            # CALIBRATE: the a217 playbook feeds the vector gate's tau
            # (only this leg consumes it, so it calibrates in-leg and
            # overlaps the text/phash builds)
            n_vec = e.count()
            tau = calibrate_cosine_threshold(
                e, sample_size=calibration_sample_size(n_vec),
                n_total=n_vec,
            )
            cell = F.expr(
                argmin_struct_sql(
                    [l2_fold_sql("embedding", c) for c in A209_CENTROIDS]
                )
                + ".cid"
            ).cast("int")
            ipath = f"{scratch}/c77_ivf"

            def vec_rows(src: DataFrame) -> DataFrame:
                return src.select(
                    F.col("vec_id").alias("c_id"),
                    F.col("embedding").alias("__c_vec"),
                    _norm(F.col("embedding")).alias("__c_norm"),
                    cell.alias("cell"),
                )

            # build + absorb: repartition by cell -> one file per touched
            # cell per generation (the census derivation's invariant)
            vec_rows(e.where(~vrem.isin(_C77_DELTA_REM, _C77_ABSORB_REM))
                     ).repartition(F.col("cell")).write.partitionBy(
                "cell"
            ).parquet(ipath)
            vec_rows(e.where(vrem == _C77_ABSORB_REM)).repartition(
                F.col("cell")
            ).write.mode("append").partitionBy("cell").parquet(ipath)
            v_erase = e.where(vrem == _C77_ERASE_REM).select(
                F.col("vec_id").alias("c_id")
            )

            # r18 (guide §2.6): the three pre-erase censuses are
            # independent reads -- overlap them before the erase rewrite
            rows_built, files_before, rows_erased = run_concurrently(
                lambda: spark.read.parquet(ipath).count(),
                lambda: sum(
                    wh.partition_file_census("", "c77_ivf", "cell").values()
                ),
                v_erase.count,
            )
            wh.erase_partition_rows("", "c77_ivf", "cell", v_erase, "c_id")
            compacted_cells = wh.compact_partitions("", "c77_ivf", "cell")
            files_after = sum(
                wh.partition_file_census("", "c77_ivf", "cell").values()
            )
            rows_live = spark.read.parquet(ipath).count()
            # SERVE: the delta assigns itself, reads only its probed
            # cells (planning-time pruning), pairs gate at the
            # calibrated tau
            dv = pin_frame(
                e.where(vrem == _C77_DELTA_REM).select(
                    F.col("vec_id").alias("d_id"),
                    F.col("embedding").alias("__d_vec"),
                    _norm(F.col("embedding")).alias("__d_norm"),
                    cell.alias("cell"),
                )
            )
            cells = sorted({r["cell"] for r in dv.select("cell").collect()})
            idx = (
                spark.read.parquet(ipath)
                .withColumn("cell", F.col("cell").cast("int"))
                .where(F.col("cell").isin(cells))
            )
            cos_ci = F.round(
                dot_product(F.col("__d_vec"), F.col("__c_vec"))
                / (F.col("__d_norm") * F.col("__c_norm")),
                6,
            )
            cross = dv.join(idx, "cell").where(cos_ci >= tau)
            d2 = dv.select(
                F.col("d_id").alias("e_id"),
                F.col("__d_vec").alias("__e_vec"),
                F.col("__d_norm").alias("__e_norm"),
                "cell",
            )
            cos_dd = F.round(
                dot_product(F.col("__d_vec"), F.col("__e_vec"))
                / (F.col("__d_norm") * F.col("__e_norm")),
                6,
            )
            within = dv.join(d2, "cell").where(
                (F.col("d_id") < F.col("e_id")) & (cos_dd >= tau)
            )
            # one job for both pair counts: count(union) == the sum
            served = (
                cross.select(F.lit(1).alias("__one"))
                .unionAll(within.select(F.lit(1).alias("__one")))
                .count()
            )
            return (
                "ivf_cells", "partitioned(cell)", rows_built, rows_erased,
                rows_live, files_before, files_after,
                len(compacted_cells) > 0, served, tau,
            )

        rows = run_concurrently(text_leg, phash_leg, vector_leg)

        return spark.createDataFrame(
            rows,
            "index_name string, layout string, rows_built bigint, "
            "rows_erased bigint, rows_live bigint, files_before bigint, "
            "files_after bigint, compacted boolean, served_pairs bigint, "
            "tau double",
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS dwd_c77_text")
        spark.sql("DROP TABLE IF EXISTS dwd_c77_phash")
        shutil.rmtree(scratch, ignore_errors=True)


def _c77_sql() -> str:
    from ..operators.similarity import DOT_SQL as dot

    from .analytics import _MH_BANDS, _a07_sql, _quantizer_values_sql
    from .quantizers import A209_CENTROIDS
    from .round10 import _l2_seg_sql
    from .round14 import _a213_sql
    from .round16 import _sample_cos_cte_sql, _tau_cte_sql

    M, DR, AR, ER = (
        _C77_MOD, _C77_DELTA_REM, _C77_ABSORB_REM, _C77_ERASE_REM
    )
    B, G = _C77_BUCKETS, 2  # buckets x generations (build + absorb)
    dim = len(A209_CENTROIDS[0])
    seeds = _quantizer_values_sql(
        [(i + 1, c) for i, c in enumerate(A209_CENTROIDS)], "t(cid, cv)"
    )
    l2 = _l2_seg_sql("e.embedding", "s.cv", "0", dim)
    ab = dot.format(a="x.embedding", b="y.embedding")
    aa = dot.format(a="x.embedding", b="x.embedding")
    bb = dot.format(a="y.embedding", b="y.embedding")
    return f"""
WITH {_sample_cos_cte_sql("samp", "scos")}, {_tau_cte_sql("samp", "scos")},
nd AS (
  SELECT count(*) FILTER (WHERE doc_id % {M} <> {DR}) AS built,
         count(*) FILTER (WHERE doc_id % {M} = {ER}) AS erased,
         count(*) FILTER (WHERE doc_id % {M} NOT IN ({DR}, {ER})) AS live
  FROM documents
), doc_live AS (
  SELECT * FROM documents WHERE doc_id % {M} <> {ER}
), text_served AS (
  SELECT count(*) AS c FROM (
    SELECT a, b FROM ({_a07_sql("doc_live")})
    WHERE a % {M} = {DR} OR b % {M} = {DR}
  )
), phash_served AS (
  SELECT count(*) AS c FROM ({_a213_sql()})
  WHERE (a % {M} = {DR} OR b % {M} = {DR})
    AND a % {M} <> {ER} AND b % {M} <> {ER}
), seeds AS (SELECT * FROM {seeds}),
assign AS MATERIALIZED (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, s.cid,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {l2} ASC, s.cid ASC) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rn = 1
), nv AS (
  SELECT count(*) FILTER (WHERE vec_id % {M} <> {DR}) AS built,
         count(*) FILTER (WHERE vec_id % {M} = {ER}) AS erased,
         count(*) FILTER (WHERE vec_id % {M} NOT IN ({DR}, {ER})) AS live
  FROM embeddings
), cellsum AS (
  -- per-cell generation/erase membership: the file-census algebra.
  -- one file per touched cell per generation (the repartition-by-cell
  -- write); an erase-affected cell collapses to 1 file (round-17
  -- erase_partition_rows) or disappears; compaction triggers iff some
  -- cell still holds > 1 file after the erase.
  SELECT cluster,
         max(CASE WHEN vec_id % {M} NOT IN ({DR}, {AR}) THEN 1 ELSE 0 END)
           AS g0,
         max(CASE WHEN vec_id % {M} = {AR} THEN 1 ELSE 0 END) AS g1,
         max(CASE WHEN vec_id % {M} = {ER} THEN 1 ELSE 0 END) AS hit,
         max(CASE WHEN vec_id % {M} NOT IN ({DR}, {ER}) THEN 1 ELSE 0 END)
           AS survives
  FROM assign WHERE vec_id % {M} <> {DR}
  GROUP BY cluster
), vfiles AS (
  SELECT CAST(sum(g0 + g1) AS BIGINT) AS files_before,
         CAST(sum(survives) AS BIGINT) AS files_after,
         bool_or(hit = 0 AND g0 + g1 > 1) AS compacted
  FROM cellsum
), v AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, e.embedding
  FROM assign a JOIN embeddings e USING (vec_id)
  WHERE a.vec_id % {M} <> {ER}
), vec_served AS (
  SELECT count(*) AS c
  FROM v x JOIN v y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE (x.vec_id % {M} = {DR} OR y.vec_id % {M} = {DR})
    AND round({ab} / (sqrt({aa}) * sqrt({bb})), 6)
          >= (SELECT tau_calibrated FROM tau)
)
SELECT 'minhash_bands' AS index_name,
       'bucketed(band_id,band_sig)' AS layout,
       CAST({_MH_BANDS} * built AS BIGINT) AS rows_built,
       CAST({_MH_BANDS} * erased AS BIGINT) AS rows_erased,
       CAST({_MH_BANDS} * live AS BIGINT) AS rows_live,
       CAST({G * B} AS BIGINT) AS files_before,
       CAST({B} AS BIGINT) AS files_after,
       TRUE AS compacted,
       (SELECT c FROM text_served) AS served_pairs,
       CAST(NULL AS DOUBLE) AS tau
FROM nd
UNION ALL
SELECT 'phash_bands', 'bucketed(band,val)',
       CAST(4 * built AS BIGINT), CAST(4 * erased AS BIGINT),
       CAST(4 * live AS BIGINT),
       CAST({G * B} AS BIGINT), CAST({B} AS BIGINT), TRUE,
       (SELECT c FROM phash_served), CAST(NULL AS DOUBLE)
FROM nd
UNION ALL
SELECT 'ivf_cells', 'partitioned(cell)',
       CAST(built AS BIGINT), CAST(erased AS BIGINT),
       CAST(live AS BIGINT),
       (SELECT files_before FROM vfiles),
       (SELECT files_after FROM vfiles),
       (SELECT compacted FROM vfiles),
       (SELECT c FROM vec_served),
       (SELECT tau_calibrated FROM tau)
FROM nv
"""


QUERIES["c77_nightly_index_lifecycle"] = QuerySpec(
    c77_nightly_index_lifecycle, _c77_sql()
)
