"""Round-16 queries: round-15's operational knowledge made
driver-checkable (VERDICT r15 tasks #1-#2).

- a217 THRESHOLD CALIBRATION as a registered query: the
  ``calibrate_cosine_threshold`` playbook (fixed tau percolates as the
  corpus grows; recalibrate tau, never retrain the quantizer alone --
  the round-15 falsification) computed in Spark algebra over the
  canonical top-S sample and exact-match checked against DuckDB.
  tests/test_round16.py pins the query's tau bit-equal to the numpy
  operator's at every test SF.
- c76 the threshold-triggered COMPACTION lifecycle as a registered
  query: build -> absorb two generations -> tombstone-erase ->
  ``maybe_compact_bucketed`` -> serve, emitting a one-row audit whose
  file counts come from the REAL filesystem census while the oracle
  derives them from first principles (3 generations x 4 one-bucket
  write tasks before; one file per bucket after), c74's
  counted-vs-derived pattern applied to the maintenance verb.
- a218 SELF-CALIBRATING SemDeDup: the loop closed -- calibrate (a217's
  playbook), pass the percolation guard, run the production semdedup
  at the calibrated tau, report the keep census.  Keep rate 0.996 at
  sf0.1 where the fixed tau keeps 0.0005, with genuine near-dups still
  merging; the DuckDB twin recomputes tau INSIDE SQL and threads it
  into the a209 pair algebra as a scalar subquery, keeping the whole
  data-dependent-threshold pipeline exact-match.
- a219 BLOOM-FILTER blocklist screening: broadcast-bitmap prefilter +
  exact-verify semi-join over candidates only -- the shape that removes
  a too-big-to-broadcast blocklist from a 100 TB corpus without a
  corpus shuffle.  No false negatives by construction; the fixed-m
  census (FPR 0.002 -> 0.197 -> 1.0 as occupancy grows) is the
  production m-sizing signal.
- s18 STREAMING threshold calibration: a217's two inputs (canonical
  top-S sample, corpus count) maintained as mergeable foreachBatch
  state -- recalibration without ever re-scanning the corpus; oracle =
  a217's SQL verbatim via the maintained-state identity, split
  invariance pytest-pinned.  Completes the calibration deployment
  matrix: batch (a217), enforced (guard), composed (a218), streaming
  (s18).

Reference parity note: the reference suite (873 lines,
src/main/scala/com/kanseiu/spark/handler -- warehouse ETL only) has no
index or calibration surface; these extend the engine per the brief.
a217 is the engine's answer to the reference's hardcoded constants
block (Constants.scala:6-12 pins dates/paths as frozen literals):
thresholds are CALIBRATED parameters that track the corpus, not
folklore constants.
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
# a217 -- corpus-calibrated near-dup threshold as a driver-checked row.
# Round 15 measured (SCALE.md) that a FIXED cosine threshold stops
# meaning "near-duplicate" as n grows: the chance pair degree
# P(cos >= tau) * (n - 1) rises linearly until the merge graph
# percolates, and retraining the quantizer makes it WORSE.  a215/a216
# monitor that failure; a217 is the remediation as a query -- the
# smallest 6dp tau whose estimated chance degree stays under budget,
# derived from the canonical top-S sample (the a216 /
# train_ivf_centroids convention, so both engines draw identical rows
# and every output value is deterministic -> exact-match oracle).
#
# The Spark side computes the SAME algebra as
# operators.similarity.calibrate_cosine_threshold but distributed: the
# sample's all-pairs 6dp cosines (the a21 matmul contract), the
# (k+1)-th largest via TakeOrdered (never a full sort), tau one 6dp
# step above it, and the achieved exceedance re-counted at tau.
# tests/test_round16.py pins query-tau == operator-tau bit-exactly.
# Scale: n enters only through count() and the plan literals; the pair
# stage is O(S^2) on a FIXED S while the corpus grows -- the same
# bounded-probe shape as a216.
# ---------------------------------------------------------------------------

_A217_CHANCE_DEGREE = 0.05
_A217_MIN_TAU = 0.0


def a217_tau_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import calibration_sample_size

    e = load_table(spark, sf_dir, "embeddings")
    # bounded driver scalar (the S12 pattern): the budget rank k and
    # the sample limit must be PLAN LITERALS, and both derive from one
    # corpus count.  S is ADAPTIVE since round 17 (VERDICT r16 task
    # #2): S = clamp(8 * isqrt(n), 512, 2048), so the budget rank k
    # stays >= 1 as n grows instead of flooring to 0 (the round-16 k=0
    # boundary where tau degenerated to sample-max + 1e-6 at the 10x
    # replica); integer-exact in both engines, so S stays a derivable
    # plan literal and the oracle stays FULL exact-match.
    n = e.count()
    s_cap = calibration_sample_size(n)
    sample = e.orderBy(F.col("vec_id").asc()).limit(s_cap)
    return _calibration_row(sample, n, s_cap)


def _calibration_row(sample: DataFrame, n: int, s_cap: int) -> DataFrame:
    """The a217 tail shared with s18: the calibration report row from a
    CANONICAL top-S sample frame and the corpus count -- the only two
    inputs the playbook needs (which is exactly why s18 can maintain
    them as streaming state)."""
    from ..operators.similarity import embedding_neardup_pairs

    if n < 2:
        # mirror calibrate_cosine_threshold's n_total < 2 guard (the
        # bit-parity contract; review r16 -- the bare arithmetic would
        # raise ZeroDivisionError): no pair space, tau = min_tau.  The
        # SQL twin is undefined here, like the operator's own guard.
        return sample.sparkSession.range(1).select(
            F.lit(n).cast("bigint").alias("n_vecs"),
            F.lit(n).cast("bigint").alias("n_sample"),
            F.lit(0).cast("bigint").alias("n_sample_pairs"),
            F.lit(0).cast("bigint").alias("k_allowed"),
            F.lit(_A217_MIN_TAU).alias("tau_calibrated"),
            F.lit(0.0).alias("est_chance_degree_at_tau"),
            F.lit(_A217_CHANCE_DEGREE).alias("chance_degree_budget"),
            F.lit(True).alias("within_budget"),
        )
    s_n = min(s_cap, n)
    npairs = s_n * (s_n - 1) // 2
    # identical double arithmetic to the oracle's
    # floor(0.05 / (n - 1) * npairs): divide first, then scale
    k = min(
        math.floor(_A217_CHANCE_DEGREE / (n - 1) * npairs), npairs - 1
    )
    # ALL sample pairs: threshold -2 < min cosine, matmul path (6dp
    # values identical to the fold/DuckDB contract per a21/a216)
    cos = embedding_neardup_pairs(sample, threshold=-2.0)
    kth = (
        cos.orderBy(F.col("cosine").desc())
        .limit(k + 1)
        .agg(F.min("cosine").alias("__kth"))
    )
    # tau = one 6dp step above the (k+1)-th largest sampled cosine,
    # floored at min_tau -- calibrate_cosine_threshold's exact rule
    tau = F.round(
        F.greatest(F.col("__kth") + F.lit(1e-6), F.lit(_A217_MIN_TAU)), 6
    )
    exceed = (
        cos.crossJoin(F.broadcast(kth))
        .where(F.col("cosine") >= tau)
        .agg(F.count(F.lit(1)).alias("__n_exceed"))
    )
    # the achieved chance-degree estimate at tau; the within_budget
    # flag compares UNROUNDED like the SQL twin (the a216 rule)
    est = F.col("__n_exceed") / F.lit(npairs) * F.lit(n - 1)
    return kth.crossJoin(F.broadcast(exceed)).select(
        F.lit(n).cast("bigint").alias("n_vecs"),
        F.lit(s_n).cast("bigint").alias("n_sample"),
        F.lit(npairs).cast("bigint").alias("n_sample_pairs"),
        F.lit(k).cast("bigint").alias("k_allowed"),
        tau.alias("tau_calibrated"),
        F.round(est, 6).alias("est_chance_degree_at_tau"),
        F.lit(_A217_CHANCE_DEGREE).alias("chance_degree_budget"),
        (est <= F.lit(_A217_CHANCE_DEGREE)).alias("within_budget"),
    )


def _sample_cos_cte_sql(sample_cte: str, cos_cte: str) -> str:
    """The canonical-sample + pair-cosine CTE pair, parameterized on
    CTE names (a218 needs non-colliding names inside its larger
    chain).  The sample cap is the ADAPTIVE S(n) = clamp(8 * isqrt(n),
    512, 2048) recomputed in SQL (``floor(sqrt(n))`` == ``isqrt(n)``
    exactly for n < 2^52: integer squares are exact doubles and sqrt is
    correctly rounded), interpolating the SAME constants the Spark side
    uses -- one source of truth per the review-r16 one-emitter rule."""
    from ..operators.similarity import (
        CALIBRATION_SAMPLE_MAX,
        CALIBRATION_SAMPLE_MIN,
        CALIBRATION_SAMPLE_PER_SQRT,
        DOT_SQL,
    )

    dot = DOT_SQL.replace("{a}", "{x}").replace("{b}", "{y}")
    ab = dot.format(x="a.embedding", y="b.embedding")
    aa = dot.format(x="a.embedding", y="a.embedding")
    bb = dot.format(x="b.embedding", y="b.embedding")
    s_of_n = (
        f"least(greatest({CALIBRATION_SAMPLE_PER_SQRT} * "
        f"CAST(floor(sqrt(CAST((SELECT count(*) FROM embeddings) "
        f"AS DOUBLE))) AS BIGINT), {CALIBRATION_SAMPLE_MIN}), "
        f"{CALIBRATION_SAMPLE_MAX})"
    )
    return f"""{sample_cte} AS (
  SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding,
           row_number() OVER (ORDER BY vec_id ASC) AS rn
    FROM embeddings)
  WHERE rn <= {s_of_n}
), {cos_cte} AS (
  SELECT round({ab} / (sqrt({aa}) * sqrt({bb})), 6) AS cosine
  FROM {sample_cte} a JOIN {sample_cte} b ON a.vec_id < b.vec_id
)"""


def _tau_cte_sql(sample_cte: str, cos_cte: str) -> str:
    """The calibration CTE chain (base/kcalc/kth/tau) shared VERBATIM
    by _a217_sql and _a218_sql -- one emitter on purpose (review r16):
    both oracles' exactness rests on this arithmetic staying identical,
    so it must not exist twice.  The budget and min-tau literals are
    INTERPOLATED from the module constants (ADVICE r16: hardcoded
    copies would silently desync the oracle if a constant changed).
    CAST(... AS DOUBLE): a bare numeric literal parses as DECIMAL in
    DuckDB and the budget arithmetic would run in decimal, not the
    double ops the Spark side uses."""
    return f"""base AS (
  SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
         (SELECT count(*) FROM {sample_cte}) AS n_sample,
         (SELECT count(*) FROM {cos_cte}) AS n_sample_pairs
), kcalc AS (
  SELECT n_vecs, n_sample, n_sample_pairs,
         least(CAST(floor(CAST({_A217_CHANCE_DEGREE} AS DOUBLE)
                          / (n_vecs - 1)
                          * n_sample_pairs) AS BIGINT),
               n_sample_pairs - 1) AS k_allowed
  FROM base
), kth AS (
  SELECT min(cosine) AS kth FROM (
    SELECT cosine, row_number() OVER (ORDER BY cosine DESC) AS rn
    FROM {cos_cte}
  ), kcalc WHERE rn <= k_allowed + 1
), tau AS (
  SELECT round(greatest(kth + 1e-6, CAST({_A217_MIN_TAU} AS DOUBLE)), 6)
           AS tau_calibrated
  FROM kth
)"""


def _a217_sql() -> str:
    return f"""
WITH {_sample_cos_cte_sql("s", "cos")}, {_tau_cte_sql("s", "cos")}, exc AS (
  SELECT count(*) AS n_exceed FROM cos, tau
  WHERE cosine >= tau_calibrated
)
SELECT k.n_vecs, k.n_sample, k.n_sample_pairs, k.k_allowed,
       t.tau_calibrated,
       round(e.n_exceed / k.n_sample_pairs * (k.n_vecs - 1), 6)
         AS est_chance_degree_at_tau,
       CAST({_A217_CHANCE_DEGREE} AS DOUBLE) AS chance_degree_budget,
       e.n_exceed / k.n_sample_pairs * (k.n_vecs - 1)
         <= CAST({_A217_CHANCE_DEGREE} AS DOUBLE) AS within_budget
FROM kcalc k, tau t, exc e
"""


QUERIES["a217_tau_calibration"] = QuerySpec(a217_tau_calibration, _a217_sql())


# ---------------------------------------------------------------------------
# c76 -- the COMPACTION lifecycle as a driver-checked row.  Round 15
# shipped the maintenance verb (Warehouse.maybe_compact_bucketed) with
# pytest pins only; c76 registers the full loop: build the band index,
# absorb TWO delta generations, tombstone-erase a doc set, run the
# threshold-triggered compaction, then serve a day's delta off the
# compacted index.  The one-row audit reports the REAL filesystem
# census (files before/after via Warehouse.data_file_count, tombstone
# counts read back from the side table) while the DuckDB twin derives
# the same numbers from FIRST PRINCIPLES -- c74's counted-vs-derived
# pattern applied to the maintenance verb:
#
#   files_before = 3 generations x 4 files  (every write is
#     repartition(buckets, bucket_cols) -> each task holds exactly one
#     bucket -> one file per non-empty bucket per generation; all 4
#     buckets are non-empty at every test SF -- hundreds of distinct
#     band keys per generation hash across 4 buckets)
#   files_after  = 4                        (the compaction rewrite is
#     the same repartition-into-bucket-layout: one file per bucket)
#   compacted    = true                     (pending tombstones force
#     it; 12 files > buckets * max_files_per_bucket = 8 also would)
#   tombstones   = |erase set| before, 0 after (applied + cleared)
#   served_pairs = |c71's serve identity|   (pairs over the LIVE docs
#     restricted to delta-involved -- compaction must not change WHAT
#     serves, only the file layout under it)
#
# A compaction that drops live rows, resurrects erased ones, fails to
# collapse the generations, or leaves tombstones pending breaks the
# exact match.  Scale: the rewrite is executor-side (eager pin_frame
# freeze -> repartition -> bucketed overwrite), never a driver
# materialization; erase stays O(|erased|); the serve is c70's
# zero-index-side-exchange shape (pytest-pinned in test_round15.py).
# ---------------------------------------------------------------------------

_C76_MOD = 10
_C76_DELTA_REM = 5   # served delta (c71's rems: differential at all SFs)
_C76_ABSORB_REM = 9  # absorbed set, split into two generations
_C76_ERASE_REM = 7   # tombstoned subset of the day-0 build
_C76_BUCKETS = 4
_C76_GENERATIONS = 3  # build + two absorbs


def c76_compaction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.dedup import minhash_band_index, serve_minhash_band_index
    from ..sources.catalog import Warehouse
    from .analytics import _MH_BANDS, _MH_N, _MH_SHINGLE, _MH_THRESHOLD

    d = load_table(spark, sf_dir, "documents")
    rem = F.pmod(F.col("doc_id"), F.lit(_C76_MOD))
    day0 = d.where(~rem.isin(_C76_DELTA_REM, _C76_ABSORB_REM))
    absorb = d.where(rem == _C76_ABSORB_REM)
    # two absorb generations: halves of the absorb set by decade parity
    gen_a = absorb.where(
        F.pmod(F.floor(F.col("doc_id") / _C76_MOD), F.lit(2)) == 0
    )
    gen_b = absorb.where(
        F.pmod(F.floor(F.col("doc_id") / _C76_MOD), F.lit(2)) == 1
    )
    delta = d.where(rem == _C76_DELTA_REM)
    erased = d.where(rem == _C76_ERASE_REM)
    live_corpus = d.where(~rem.isin(_C76_DELTA_REM, _C76_ERASE_REM))
    kw = dict(shingle_n=_MH_SHINGLE, num_hashes=_MH_N, bands=_MH_BANDS)
    cols = ["band_id", "band_sig"]
    spec = dict(bucket_cols=cols, buckets=_C76_BUCKETS, sort_cols=cols)

    def one_file_per_bucket(df: DataFrame) -> DataFrame:
        # repartition hashes exactly like the bucket spec, so each
        # write task holds one bucket -> one file per generation+bucket
        # (what makes files_before derivable from first principles)
        return df.repartition(_C76_BUCKETS, *[F.col(c) for c in cols])

    scratch = tempfile.mkdtemp(prefix="ods_spark_c76_")
    try:
        wh = Warehouse(spark, scratch)
        def build_and_absorb() -> None:
            wh.write_bucketed(
                one_file_per_bucket(minhash_band_index(day0, **kw)),
                "dwd", "c76_idx", **spec,
            )
            for gen in (gen_a, gen_b):
                wh.write_bucketed(
                    one_file_per_bucket(minhash_band_index(gen, **kw)),
                    "dwd", "c76_idx", **spec, mode="append",
                )

        # the tombstone append writes only the side table -- overlap it
        # with the build + absorb chain (r18, guide §2.6; the c71/c77
        # pattern), then take the two pre-compaction censuses
        run_concurrently(
            lambda: wh.append_tombstones(
                erased.select("doc_id"), "dwd", "c76_idx"
            ),
            build_and_absorb,
        )
        files_before = wh.data_file_count("dwd", "c76_idx")
        tomb_before = wh.tombstones("dwd", "c76_idx").count()
        compacted, _, files_after = wh.maybe_compact_bucketed(
            "dwd", "c76_idx", **spec, max_files_per_bucket=2
        )
        tomb_pending = wh.tombstones("dwd", "c76_idx")
        tomb_after = 0 if tomb_pending is None else tomb_pending.count()
        served = serve_minhash_band_index(
            wh.read_bucketed_live("dwd", "c76_idx"),
            delta,
            live_corpus,
            threshold=_MH_THRESHOLD,
            **kw,
        )
        out = served.agg(F.count(F.lit(1)).alias("served_pairs")).select(
            F.lit(files_before).cast("bigint").alias("files_before"),
            F.lit(files_after).cast("bigint").alias("files_after"),
            F.lit(compacted).alias("compacted"),
            F.lit(tomb_before).cast("bigint").alias("tombstones_before"),
            F.lit(tomb_after).cast("bigint").alias("tombstones_after"),
            F.col("served_pairs"),
        )
        return pin_frame(out, eager=True)  # pre-DROP/rmtree, executor-side
    finally:
        spark.sql("DROP TABLE IF EXISTS dwd_c76_idx")
        shutil.rmtree(scratch, ignore_errors=True)


def _c76_sql() -> str:
    from .analytics import _a07_sql

    return f"""
WITH live AS (
  SELECT * FROM documents WHERE doc_id % {_C76_MOD} <> {_C76_ERASE_REM}
), served AS (
  SELECT a, b FROM ({_a07_sql("live")})
  WHERE a % {_C76_MOD} = {_C76_DELTA_REM}
     OR b % {_C76_MOD} = {_C76_DELTA_REM}
)
SELECT CAST({_C76_GENERATIONS} * {_C76_BUCKETS} AS BIGINT) AS files_before,
       CAST({_C76_BUCKETS} AS BIGINT) AS files_after,
       TRUE AS compacted,
       (SELECT count(*) FROM documents
        WHERE doc_id % {_C76_MOD} = {_C76_ERASE_REM}) AS tombstones_before,
       CAST(0 AS BIGINT) AS tombstones_after,
       (SELECT count(*) FROM served) AS served_pairs
"""


QUERIES["c76_compaction_lifecycle"] = QuerySpec(
    c76_compaction_lifecycle, _c76_sql()
)


# ---------------------------------------------------------------------------
# a218 -- SELF-CALIBRATING SemDeDup: the round's loop closed.  a215/a216
# MONITOR percolation, a217 CALIBRATES the threshold, the operator guard
# ENFORCES it -- a218 RUNS the production dedup at the calibrated tau:
# calibrate over the canonical sample, pass the percolation guard, run
# SemDeDup (frozen production quantizer, BLAS assignment, block-pair
# sub-split) at that tau, and report the keep census.  This is the
# pipeline a 100 TB curation run executes nightly, where the fixed-tau
# variant provably collapses (keep 0.0005 at sf0.1/tau=0.3, SCALE.md
# round 15) -- at the calibrated tau the keep rate stays healthy at
# every SF while REAL near-dups still merge (n_kept < n_vecs).
#
# Exactness across a data-dependent threshold: the Spark side computes
# tau with operators.similarity.calibrate_cosine_threshold (pinned
# bit-equal to the a217 query by test_a217_tau_matches_operator_bitwise,
# and a217 is exact-match vs DuckDB), while the DuckDB twin recomputes
# tau INSIDE SQL -- a217's CTE chain feeding the a209 pair algebra as a
# scalar subquery.  Both engines threshold bit-identical 6dp cosines
# against bit-identical taus, so the pair sets -- and the closure, the
# keepers, the census -- match exactly.
# Scale: calibration + guard are bounded probes (O(S^2 + count));
# semdedup is the audited a209 shape (k ~ sqrt(n) quantizer bounds the
# within-cluster pair work; whale sub-split bounds per-task memory).
# ---------------------------------------------------------------------------


def a218_semdedup_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        _percolation_guard,
        calibrate_cosine_threshold,
        calibration_sample_size,
        semdedup,
    )
    from .quantizers import A209_CENTROIDS

    e = load_table(spark, sf_dir, "embeddings")
    # the a217 playbook as the production step: ONE corpus count and
    # one bounded canonical-sample collect feed BOTH the calibration
    # and the guard (review r16: the guard previously re-counted and
    # re-collected inside semdedup); tau comes back as a plan literal
    # (bit-equal to the a217 query's tau -- pytest-pinned)
    n = e.count()
    s_cap = calibration_sample_size(n)
    tau = calibrate_cosine_threshold(e, sample_size=s_cap, n_total=n)
    # the enforcement path, live: same function semdedup's opt-in
    # guard calls, fed the already-known count AND the calibration's
    # own S (ADVICE r16: a smaller guard subsample's exceedance rate
    # can exceed the budget a tau legitimately met on the full sample)
    _percolation_guard(
        e, "embedding", "vec_id", tau, 1.0, "a218_semdedup_calibrated",
        n_total=n, sample_size=s_cap,
    )
    sd = semdedup(e, A209_CENTROIDS, threshold=tau)
    return (
        sd.agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("is_kept").cast("long")).alias("n_kept"),
        )
        .select(
            "n_vecs",
            F.lit(tau).alias("tau_calibrated"),
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_vecs"), 4).alias("keep_rate"),
            (F.col("n_kept") < F.col("n_vecs")).alias("merged_any"),
        )
    )


def _a218_sql() -> str:
    from ..operators.similarity import DOT_SQL as dot

    from .analytics import _quantizer_values_sql
    from .quantizers import A209_CENTROIDS
    from .round10 import _l2_seg_sql

    dim = len(A209_CENTROIDS[0])
    seeds = _quantizer_values_sql(
        [(i + 1, c) for i, c in enumerate(A209_CENTROIDS)], "t(cid, cv)"
    )
    l2 = _l2_seg_sql("e.embedding", "s.cv", "0", dim)
    ab = dot.format(a="x.embedding", b="y.embedding")
    aa = dot.format(a="x.embedding", b="x.embedding")
    bb = dot.format(a="y.embedding", b="y.embedding")
    # tau recomputed in SQL: a217's CTE chain via the SHARED emitters
    # (identical arithmetic by construction), then threaded into a209's
    # pair algebra as a scalar subquery
    return f"""
WITH RECURSIVE {_sample_cos_cte_sql("samp", "scos")},
{_tau_cte_sql("samp", "scos")}, seeds AS (SELECT * FROM {seeds}),
assign AS MATERIALIZED (
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
       (SELECT tau_calibrated FROM tau) AS tau_calibrated,
       (SELECT count(*) FROM kept WHERE is_kept) AS n_kept,
       round((SELECT count(*) FROM kept WHERE is_kept)
             / (SELECT count(*) FROM kept), 4) AS keep_rate,
       (SELECT count(*) FROM kept WHERE is_kept)
         < (SELECT count(*) FROM kept) AS merged_any
"""


QUERIES["a218_semdedup_calibrated"] = QuerySpec(
    a218_semdedup_calibrated, _a218_sql()
)


# ---------------------------------------------------------------------------
# a219 -- BLOOM-FILTER blocklist screening: the canonical "remove a
# billion blocklisted ids from a 100 TB corpus" shape.  At that scale
# the blocklist's raw ids are too big to broadcast (1e9 x 8 B = 8 GB)
# but its Bloom bitmap fits (~1.2 GB at 1% FPR), so the corpus-side
# scan tests k hash positions against the broadcast bitmap and ONLY the
# candidates (true members + the FPR sliver) pay the exact-verify
# semi-join -- no corpus shuffle, no false negatives by construction,
# false positives rescued by the verify.  Here the filter is the SET of
# occupied positions (distinct over k x |blocklist| md5-derived ints,
# <= m rows -- the m-bit bitmap's semantic content), folded into the
# corpus scan as a literal array per the expr-text fold rule; the
# membership probes are pure expressions, so the bloom stage adds ZERO
# plan nodes beyond the scan.
#
# Exactness: positions derive from md5 arithmetic both engines compute
# bit-identically (the a208 HLL idiom), the Spark side's literal
# position set is a bounded driver fetch of the same distinct the SQL
# twin recomputes from first principles (n_bits_set cross-checks it),
# and every census value -- candidates, verified blocks, false
# positives, measured FPR -- is an integer-exact aggregate.  The m is
# deliberately FIXED across SFs so the row shows FPR growing with
# blocklist occupancy (near 0 at sf0.01, ~0.2 at sf0.1): production
# sizes m to the blocklist, and this census is exactly the signal that
# says when.
# ---------------------------------------------------------------------------

_A219_M = 1024  # filter positions (the bitmap width)
_A219_K = 3  # hash probes per id
_A219_BLOCK_MOD, _A219_BLOCK_REM = 17, 3  # the simulated blocklist


def a219_bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_candidate_expr, bloom_setbits

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    blocked = F.pmod(F.col("doc_id"), F.lit(_A219_BLOCK_MOD)) == _A219_BLOCK_REM
    block = d.where(blocked)
    # BUILD: the occupied-position set -- k probes per blocklisted id,
    # distinct, then a BOUNDED driver fetch (<= m ints): this IS the
    # broadcast bloom artifact, like a16's frozen centroids or a218's
    # calibrated tau a plan literal derived from a bounded probe
    setbits = bloom_setbits(block, "doc_id", m=_A219_M, k=_A219_K)
    # SCREEN: candidate iff ALL k positions are occupied -- one parsed
    # expr (the literal-fold rule), zero joins, zero exchanges
    cands = d.where(
        bloom_candidate_expr(setbits, "doc_id", m=_A219_M, k=_A219_K)
    )
    # VERIFY: only candidates pay the exact membership join (broadcast
    # left-semi -- at 100 TB this is the FPR-sized shuffle, not a
    # corpus-sized one)
    n_corpus = d.agg(F.count(F.lit(1)).alias("n_corpus"))
    n_block = block.agg(F.count(F.lit(1)).alias("n_blocklist"))
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_ver = (
        cands.join(F.broadcast(block), "doc_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_blocked"))
    )
    fp = F.col("n_candidates") - F.col("n_blocked")
    return (
        n_corpus.crossJoin(F.broadcast(n_block))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_ver))
        .select(
            "n_corpus",
            "n_blocklist",
            F.lit(len(setbits)).cast("bigint").alias("n_bits_set"),
            "n_candidates",
            "n_blocked",
            fp.alias("n_false_positives"),
            F.round(
                fp / (F.col("n_corpus") - F.col("n_blocklist")), 6
            ).alias("fpr_measured"),
            (F.col("n_corpus") - F.col("n_blocked")).alias("n_kept"),
            (F.col("n_blocked") == F.col("n_blocklist")).alias(
                "no_false_negatives"
            ),
        )
    )


def _a219_sql() -> str:
    def pos(i: int, src: str = "doc_id") -> str:
        return (
            f"CAST(('0x' || substr(md5(CAST({src} AS VARCHAR) || ':{i}'), "
            f"1, 12)) AS BIGINT) % {_A219_M}"
        )

    probes = "\n  UNION\n".join(
        f"  SELECT {pos(i)} AS p FROM block" for i in range(_A219_K)
    )
    cand = " AND ".join(
        f"({pos(i)}) IN (SELECT p FROM setbits)" for i in range(_A219_K)
    )
    return f"""
WITH block AS (
  SELECT doc_id FROM documents
  WHERE doc_id % {_A219_BLOCK_MOD} = {_A219_BLOCK_REM}
), setbits AS (
{probes}
), flags AS (
  SELECT doc_id,
         {cand} AS is_cand,
         doc_id % {_A219_BLOCK_MOD} = {_A219_BLOCK_REM} AS is_block
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
       (SELECT count(*) FROM setbits) AS n_bits_set,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_blocked AS BIGINT) AS n_blocked,
       CAST(n_candidates - n_blocked AS BIGINT) AS n_false_positives,
       round(CAST(n_candidates - n_blocked AS BIGINT)
             / CAST(n_corpus - n_blocklist AS BIGINT), 6) AS fpr_measured,
       CAST(n_corpus - n_blocked AS BIGINT) AS n_kept,
       n_blocked = n_blocklist AS no_false_negatives
FROM agg
"""


QUERIES["a219_bloom_blocklist"] = QuerySpec(a219_bloom_blocklist, _a219_sql())


# ---------------------------------------------------------------------------
# s18 -- STREAMING threshold calibration: a217's playbook maintained
# incrementally as the corpus arrives.  The calibration needs exactly
# two inputs -- the canonical top-S sample and the corpus count -- and
# BOTH are mergeable O(S)/O(1) state: top-S of a union is the top-S of
# the maintained top-S plus the batch (monotone, order- and
# split-independent, idempotent under batch retries), and the count is
# a per-batch partial keyed by batch_id (exactly-once by overwrite).
# So a 100 TB corpus NEVER re-scans to recalibrate: each micro-batch
# folds into bounded state, and the report row reads only that state.
# The maintained-state identity makes the oracle exact: after ANY batch
# schedule the state equals the batch computation over the whole
# corpus, so the DuckDB twin is a217's SQL verbatim (the s17/c70
# relationship applied to calibration).
# ---------------------------------------------------------------------------

_S18_SLICES = 2  # smallest SF-visible split (the bench budget rule);
# split-invariance is pinned independently in tests/test_round16.py


def _s18_merge_sample(cur: DataFrame | None, batch: DataFrame) -> DataFrame:
    """The maintained-sample merge: top-S_MAX by vec_id of (state UNION
    batch), deduped on vec_id.  The dropDuplicates is what makes the
    merge IDEMPOTENT under foreachBatch's at-least-once delivery
    (review r16): a batch retried after the state overwrite re-unions
    rows already absorbed, and without the dedup the top-S would hold
    duplicate vec_ids whose self-pairs (cosine 1.0) corrupt the
    calibration.  Module-level so the idempotency is unit-pinned.

    The maintained cap is CALIBRATION_SAMPLE_MAX, not the adaptive
    S(n): S(n) depends on the FINAL corpus count, unknown mid-stream,
    but S(n) <= S_MAX always, and the top-S(n) prefix of the maintained
    top-S_MAX equals the corpus' top-S(n) -- so the report step cuts
    the state to S(n) after the count state settles the n."""
    from ..operators.similarity import CALIBRATION_SAMPLE_MAX

    rows = batch.select("vec_id", "embedding")
    merged = rows if cur is None else cur.unionByName(rows)
    return (
        merged.dropDuplicates(["vec_id"])
        .orderBy(F.col("vec_id").asc())
        .limit(CALIBRATION_SAMPLE_MAX)
    )


def s18_stream_tau_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    scratch = tempfile.mkdtemp(prefix="ods_spark_s18_")
    try:  # owns the scratch from mkdtemp on -- a failed slice write or
        # a StreamingQueryException must not leak it (review r16)
        src = f"{scratch}/arrivals"
        for i in range(_S18_SLICES):
            e.where(
                F.pmod(F.col("vec_id"), F.lit(_S18_SLICES)) == i
            ).coalesce(1).write.mode("append").parquet(src)
        sample_dir = f"{scratch}/state_sample"
        counts_dir = f"{scratch}/state_counts"

        def absorb(batch: DataFrame, batch_id: int) -> None:
            # count partial keyed by batch_id: overwrite-per-directory
            # makes a retried batch land on the same file -- once
            batch.agg(F.count(F.lit(1)).alias("c")).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{counts_dir}/bid={batch_id}")
            # sample state: idempotent top-S merge, frozen executor-side
            # before overwriting its own source
            cur = (
                spark.read.parquet(sample_dir)
                if os.path.isdir(sample_dir)
                else None
            )
            top = pin_frame(_s18_merge_sample(cur, batch), eager=True)
            top.coalesce(1).write.mode("overwrite").parquet(sample_dir)

        q = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(absorb)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .start()
        )
        q.awaitTermination()
        n = int(
            spark.read.parquet(counts_dir)
            .agg(F.sum("c"))
            .collect()[0][0]
        )
        from ..operators.similarity import calibration_sample_size

        # the maintained state holds top-S_MAX; the report cuts it to
        # the adaptive S(n) (a prefix of the state -- see
        # _s18_merge_sample), so s18 == a217 under any batch schedule
        s_cap = calibration_sample_size(n)
        sample = (
            spark.read.parquet(sample_dir)
            .orderBy(F.col("vec_id").asc())
            .limit(s_cap)
        )
        out = _calibration_row(sample, n, s_cap)
        return pin_frame(out, eager=True)  # pre-rmtree, executor-side
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# maintained state == batch computation, so the twin is a217's verbatim
QUERIES["s18_stream_tau_calibration"] = QuerySpec(
    s18_stream_tau_calibration, _a217_sql()
)
