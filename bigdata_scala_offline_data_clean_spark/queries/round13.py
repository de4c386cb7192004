"""Round-13 queries: trained-quantizer SemDeDup at production k (the BLAS
scale path as a gated surface), the mergeable-HLL shard rollup, the
curation+packing funnel (c68, the round-11 transforms composed end to
end in production order), and the rule-distillation quality classifier
(a211, frozen linear model over engineered + hashed-BoW features).

a209 (VERDICT r11/r12 task #1): round 11 measured that SemDeDup at a
FIXED k is quadratic in the corpus (126x at 10x) while k ~ sqrt(n) with
the BLAS assignment restores linearity -- but that scale path existed
only as a SCALE.md prose claim.  This registers it: deterministic
trained centroids (canonical-order bounded sample, k = isqrt(n)) +
``semdedup`` -- vectorized nearest-centroid assignment
and tiled per-cluster BLAS pair search, whale-cluster capped.
ORACLE-EXACT since round 14 (VERDICT r13 task #1): training is
deterministic, so the sf0.01-trained centroids are frozen literals
(``quantizers.A209_CENTROIDS``) and the DuckDB twin recomputes the full
algebra over them; the quality pin travels IN the result (keep_rate +
keep_ok floor, the a16 recall_ok pattern) and pytests pin
runtime-trained == frozen plus matmul == fold (tests/test_round13.py,
tests/test_round14.py).

a210 (VERDICT r11/r12 task #6): the a208 docstring claims the HLL
register table is a mergeable partial -- this query EXERCISES the claim
end to end and oracle-checks it: per-day shard register tables fold by
max(r) into a merged table whose estimate must equal the global
single-pass estimate BIT-EXACTLY (max is associative over any shard
split).  This is the 100 TB rollup shape: daily register tables persist
(256 rows per key per day), and any date-range distinct-count is a
max-merge + fold over sketches, never a rescan of the raw data.

Reference parity note: the reference ETL suite (873 lines,
src/main/scala/com/kanseiu/spark/handler -- warehouse jobs only) has no
ANN/dedup/sketch surface; this family extends the engine into the
training-data domain per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import load_table

QUERIES: dict[str, QuerySpec] = {}

_SD_COS = 0.3  # near-dup threshold on the 6dp cosine (a207/a21's tau)
_A209_KEEP_FLOOR = 0.5  # >= half the corpus must survive (paper regime
# removes a minority at tau this high; going under means the quantizer
# or threshold regressed)


def a209_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at production k over the TRAINED quantizer: BLAS
    assignment + tiled per-cluster pair search.

    Oracle-exact since round 14 (VERDICT r13 task #1) via the full a16
    shipped-artifact pattern: training is deterministic (canonical-order
    bounded sample, fixed seed/iters), so the sf0.01-trained
    k = isqrt(n) = 22 quantizer is FROZEN as literals
    (``quantizers.A209_CENTROIDS``, regenerated by
    ``tools/freeze_quantizers.py``) and BOTH engines fold the same
    doubles -- the DuckDB twin recomputes assignment + pair search +
    closure + keeper choice over them, at every SF.  The runtime
    TRAINING path stays pinned by
    ``test_a209_frozen_centroids_match_runtime_training`` (training at
    the artifact's SF reproduces the shipped literals exactly) and
    ``test_a209_trained_semdedup_matmul_matches_fold`` (freshly trained
    k = isqrt(n) centroids, matmul == fold); production redeploys
    retrain so k keeps tracking sqrt(corpus) -- the knob SCALE.md's 10x
    row measures.

    The ``keep_ok`` floor is the drift ALARM of this deployment model
    (a16 recall_ok / a211 acc_ok pattern): at the artifact's own SF the
    keep rate clears the floor; on a corpus that has outgrown the
    configuration (e.g. 4x at sf0.1) keep_rate collapses and the flag
    trips.  Round 15 CORRECTED the remediation playbook: exercising the
    "retrain + refreeze restores the floor" claim DISPROVED it (a finer
    quantizer recovers more of the chance-level pairs -- keep_rate
    0.203 -> 0.187), because the real cause is threshold percolation:
    at fixed tau the chance pair degree P(cos >= tau) * (n - 1) grows
    with the corpus until the merge graph collapses into a giant
    component.  The alarm's cue is ``calibrate_cosine_threshold`` (+ a
    retrain so k keeps tracking sqrt(n)), and the a215/a216 percolation
    probes are its monitoring form; see SCALE.md round-15 and
    tests/test_round15.py::
    test_a209_remediation_requires_threshold_recalibration.
    """
    from ..operators.similarity import semdedup
    from .quantizers import A209_CENTROIDS

    e = load_table(spark, sf_dir, "embeddings")
    out = pin_frame(  # consumed by the stat agg AND the final select
        semdedup(e, A209_CENTROIDS, threshold=_SD_COS)
    )
    stats = out.agg(
        F.round(F.avg(F.col("is_kept").cast("double")), 4).alias("keep_rate"),
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("cluster").alias("n_clusters_used"),
    )
    return (
        out.crossJoin(F.broadcast(stats))
        .withColumn("keep_ok", F.col("keep_rate") >= F.lit(_A209_KEEP_FLOOR))
        .select(
            "vec_id",
            "cluster",
            "group_id",
            "d2c",
            "is_kept",
            "keep_rate",
            "n_total",
            "n_clusters_used",
            "keep_ok",
        )
    )


def _a209_sql() -> str:
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
    return f"""
WITH RECURSIVE seeds AS (SELECT * FROM {seeds}),
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
  WHERE round({ab} / (sqrt({aa}) * sqrt({bb})), 6) >= {_SD_COS}
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
), kept AS MATERIALIZED (
  SELECT v.vec_id, CAST(v.cluster AS INT) AS cluster, c.group_id,
         round(v.d2c, 6) AS d2c,
         row_number() OVER (
           PARTITION BY c.group_id ORDER BY v.d2c ASC, v.vec_id ASC) = 1
           AS is_kept
  FROM v JOIN comp c USING (vec_id)
), stats AS (
  SELECT round(avg(CASE WHEN is_kept THEN 1.0 ELSE 0.0 END), 4)
           AS keep_rate,
         count(*) AS n_total,
         count(DISTINCT cluster) AS n_clusters_used
  FROM kept
)
SELECT k.vec_id, k.cluster, k.group_id, k.d2c, k.is_kept,
       s.keep_rate, s.n_total, s.n_clusters_used,
       s.keep_rate >= {_A209_KEEP_FLOOR} AS keep_ok
FROM kept k CROSS JOIN stats s
"""


QUERIES["a209_semdedup_trained"] = QuerySpec(
    a209_semdedup_trained, _a209_sql()
)


def a210_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HLL rollup: per-day shard register tables max-merge into
    the global register table; merged estimate == global estimate."""
    from ..operators.sketches import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    sharded = ev.withColumn("__shard", F.date_format("ts", "yyyy-MM-dd"))
    shard_regs = hll_registers(
        sharded, ["event_type", "__shard"], "user_id"
    )
    merged = shard_regs.groupBy("event_type", "reg").agg(
        F.max("r").alias("r")
    )
    est_m = hll_estimate(merged, ["event_type"]).select(
        "event_type", F.col("hll_estimate").alias("__m")
    )
    est_g = hll_estimate(
        hll_registers(ev, ["event_type"], "user_id"), ["event_type"]
    ).select("event_type", F.col("hll_estimate").alias("__g"))
    # shard census over the SAME row set the registers hash (ADVICE r13:
    # hll_registers drops NULL user_id rows, and a (event_type, day)
    # reachable only through NULL ids must not count as a shard here
    # while the oracle's NULL-filtered CTE excludes it)
    shards = (
        sharded.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("__shard").alias("n_shards"))
    )
    return (
        est_m.join(est_g, "event_type")
        .join(shards, "event_type")
        .select(
            "event_type",
            "n_shards",
            F.round("__m", 6).alias("hll_merged"),
            F.round("__g", 6).alias("hll_global"),
            (F.col("__m") == F.col("__g")).alias("merge_exact"),
        )
    )


def _a210_sql() -> str:
    from ..operators.sketches import HLL_ALPHA_C, HLL_M

    def est(regs: str) -> str:
        return f"""
  SELECT event_type, count(*) AS filled,
         sum(CAST(1 AS BIGINT) << (49 - r)) AS s_filled
  FROM {regs} GROUP BY event_type
"""

    def fold(per: str) -> str:
        return f"""
  SELECT event_type,
         CASE WHEN ({HLL_M} - filled) > 0
                   AND ({HLL_ALPHA_C!r} /
                        CAST(s_filled + ({HLL_M} - filled)
                             * (CAST(1 AS BIGINT) << 49) AS DOUBLE))
                       <= {2.5 * HLL_M}
              THEN CAST({HLL_M} AS DOUBLE)
                   * ln(CAST({HLL_M} AS DOUBLE)
                        / CAST({HLL_M} - filled AS DOUBLE))
              ELSE {HLL_ALPHA_C!r} /
                   CAST(s_filled + ({HLL_M} - filled)
                        * (CAST(1 AS BIGINT) << 49) AS DOUBLE)
         END AS e
  FROM {per}
"""

    return f"""
WITH hashed AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS shard,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
              AS INTEGER) AS reg,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 12))
              AS BIGINT) AS x
  FROM events
  WHERE user_id IS NOT NULL  -- mirrors hll_registers' NULL drop
), rhod AS (
  SELECT event_type, shard, reg,
         CASE WHEN x = 0 THEN 49 ELSE 49 - length(bin(x)) END AS rho
  FROM hashed
), shard_regs AS (
  SELECT event_type, shard, reg, max(rho) AS r
  FROM rhod GROUP BY event_type, shard, reg
), merged_regs AS (
  SELECT event_type, reg, max(r) AS r
  FROM shard_regs GROUP BY event_type, reg
), global_regs AS (
  SELECT event_type, reg, max(rho) AS r
  FROM rhod GROUP BY event_type, reg
), per_m AS ({est("merged_regs")}), per_g AS ({est("global_regs")}),
est_m AS ({fold("per_m")}), est_g AS ({fold("per_g")}),
shards AS (
  SELECT event_type, count(DISTINCT shard) AS n_shards
  FROM hashed GROUP BY event_type
)
SELECT m.event_type, CAST(s.n_shards AS BIGINT) AS n_shards,
       round(m.e, 6) AS hll_merged, round(g.e, 6) AS hll_global,
       m.e = g.e AS merge_exact
FROM est_m m JOIN est_g g ON m.event_type = g.event_type
JOIN shards s ON s.event_type = m.event_type
"""


QUERIES["a210_hll_merge"] = QuerySpec(a210_hll_merge, _a210_sql())


# ---------------------------------------------------------------------------
# c68 -- curation + packing funnel (VERDICT r11/r12 task #8): the round-11
# training-data transforms COMPOSED end to end in production order, each
# stage consuming the previous stage's output -- doc-level near-dup prune
# (MinHash-LSH + connected components) first, span-level dedup + length
# floor over the survivors, DSIR importance selection over the cleaned
# survivors, and the selected documents packed into fixed 512-token
# context windows.  Output is the audit table every production curation
# run publishes: per-stage survivor counts, drops, and token totals,
# plus the packed-chunk count -- all integer-exact and fully
# oracle-checked (the DuckDB twin chains the a07/a25, a204, a205, and
# a43 SQL as nested CTEs over the same stage outputs).
#
# Stage order note: running span dedup FIRST makes the doc-level prune a
# no-op (the shared spans that made documents near-duplicates are
# already excised -- measured on the fixture: 24 near-dup drops -> 0),
# which is exactly why production curation dedups documents before
# substrings (Lee et al. 2022 do the same).
#
# Scale: each stage is the already-audited operator (banded-LSH +
# star contraction; fp-groupBy span dedup; one-explode DSIR; windowed
# packing per shard); the funnel adds only 1-row count aggregates that
# crossJoin-broadcast, exactly like c67.
# ---------------------------------------------------------------------------

_C68_MIN_CHARS = 100  # post-clean length floor (chars)
_C68_CTX = 512  # packing context length (a43's)
# coarser winnowing grain than a204 (k=5 on this tiny-vocabulary corpus
# would excise nearly every character): spans of >= 25 shared chars
_C68_K, _C68_W = 20, 6


def c68_curation_packing_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..operators.dedup import dedup_clusters, minhash_dedup_pairs
    from ..operators.text import token_count_bpe, winnow_span_dedup
    from .analytics import _MH_BANDS, _MH_N, _MH_SHINGLE, _MH_THRESHOLD
    from .round11 import _DSIR_B, _DSIR_TARGET_LANG, _LR_DEC, _TF_DEC

    d = load_table(spark, sf_dir, "documents")
    # stage 1: doc-level near-dup prune (keep each cluster's min-id rep)
    pairs = minhash_dedup_pairs(
        d,
        shingle_n=_MH_SHINGLE,
        num_hashes=_MH_N,
        bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
    )
    clusters = dedup_clusters(d, pairs)
    # optimization round 17 (guide §1.2 "don't compute things twice"):
    # the per-stage audit counts each ran token_count_bpe over the
    # stage's full text again -- 5 regex passes over near-corpus-sized
    # frames.  The token count is a pure function of the stage's text,
    # so computing it INTO the stage pin (one extra long per row) lets
    # every downstream count/sum read the materialized column: 3 passes
    # (raw, s1, s2), with s3/chunks riding s2's column via the semi-join.
    s1 = pin_frame(
        token_count_bpe(
            d.select("doc_id", "text", "lang").join(
                clusters.where(F.col("doc_id") == F.col("rep_id")).select(
                    "doc_id"
                ),
                "doc_id",
                "left_semi",
            )
        )
    )
    # stage 2: span-level dedup over the survivors + post-clean floor
    cleaned = winnow_span_dedup(
        s1, k=_C68_K, w=_C68_W, keep="first", min_doc_freq=2
    )
    s2 = pin_frame(
        token_count_bpe(
            cleaned.select("doc_id", F.col("clean_text").alias("text"))
            .join(s1.select("doc_id", "lang"), "doc_id")
            .where(F.length("text") >= _C68_MIN_CHARS)
        )
    )
    # stage 3: DSIR importance over the cleaned survivors (a205's exact
    # math -- hashed-ngram log-ratio, decimal-exact fold -- recomputed
    # on THIS stage's term distribution, not the raw corpus')
    tok = s2.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tb = tok.select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast(
                "int"
            ),
            F.lit(_DSIR_B),
        ).alias("b"),
    )
    dtf = pin_frame(
        tb.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("tf"))
    )
    is_t = F.when(
        F.col("lang") == _DSIR_TARGET_LANG, F.col("tf")
    ).otherwise(F.lit(0))
    cnts = dtf.groupBy("b").agg(
        F.sum(is_t).alias("ct"), F.sum("tf").alias("cs")
    )
    tot = cnts.agg(F.sum("ct").alias("nt"), F.sum("cs").alias("ns"))
    num = (F.col("ct") + 1).cast("double") * (
        F.col("ns") + _DSIR_B
    ).cast("double")
    den = (F.col("cs") + 1).cast("double") * (
        F.col("nt") + _DSIR_B
    ).cast("double")
    lr = F.broadcast(
        cnts.crossJoin(F.broadcast(tot)).select(
            "b", F.round(F.log(num / den), 9).cast(_LR_DEC).alias("lr")
        )
    )
    score = (
        dtf.join(lr, "b")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf").cast(_TF_DEC) * F.col("lr")).cast(
                    "double"
                ),
                6,
            ).alias("dsir_score")
        )
    )
    s3 = pin_frame(
        s2.join(
            score.where(F.col("dsir_score") > 0).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    )
    # stage 4: concat-and-chunk packing of the selected docs, 8 shards
    # (a43's layout); chunk count is integer ceil division per shard
    # (s3 inherited s2's materialized n_bpe_tokens -- no re-tokenize)
    chunks = (
        s3
        .groupBy((F.col("doc_id") % 8).alias("__shard"))
        .agg(F.sum("n_bpe_tokens").alias("__t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.expr(f"(__t + {_C68_CTX - 1}) div {_C68_CTX}")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("__chunks")
        )
    )

    def cnt(df: DataFrame, i: int) -> DataFrame:
        # every stage frame already carries n_bpe_tokens (raw d gets it
        # here, inline on its single scan)
        return df.agg(
            F.count(F.lit(1)).alias(f"__c{i}"),
            F.coalesce(F.sum("n_bpe_tokens"), F.lit(0))
            .cast("long")
            .alias(f"__t{i}"),
        )

    row = reduce(
        lambda a, b: a.crossJoin(F.broadcast(b)),
        [cnt(token_count_bpe(d), 0), cnt(s1, 1), cnt(s2, 2), cnt(s3, 3),
         chunks],
    )
    names = ("raw", "neardup_prune", "span_dedup_minlen", "dsir_select")
    arms = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(names[i]).alias("rule"),
                F.col(f"__c{i}").alias("n_docs"),
                (
                    (F.col(f"__c{i - 1}") - F.col(f"__c{i}"))
                    if i
                    else F.lit(0).cast("bigint")
                ).alias("n_dropped"),
                F.col(f"__t{i}").alias("n_tokens"),
            )
            for i in range(4)
        ],
        F.struct(
            F.lit(4).alias("stage"),
            F.lit("packed_chunks").alias("rule"),
            F.col("__chunks").alias("n_docs"),
            F.lit(0).cast("bigint").alias("n_dropped"),
            F.col("__t3").alias("n_tokens"),
        ),
    )
    return (
        row.select(F.explode(arms).alias("__a"))
        .select("__a.*")
        .orderBy("stage")
    )


def _c68_sql() -> str:
    from .analytics import _a07_sql
    from .round11 import _DSIR_B, _DSIR_TARGET_LANG, _a204_sql

    b, lang = _DSIR_B, _DSIR_TARGET_LANG
    tok = "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))"
    a07 = _a07_sql().strip().rstrip("\n")
    a204 = _a204_sql(k=_C68_K, w=_C68_W, src="s1").strip().rstrip("\n")
    return f"""
WITH clusters AS MATERIALIZED (
  WITH RECURSIVE pairs AS MATERIALIZED (
{a07}
  ), sym AS (
    SELECT a AS u, b AS v FROM pairs
    UNION
    SELECT b AS u, a AS v FROM pairs
  ), reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.node
  )
  SELECT node AS doc_id, min(r) AS rep_id FROM reach GROUP BY node
), s1 AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.lang
  FROM documents d JOIN clusters USING (doc_id)
  WHERE doc_id = rep_id
), cleaned AS MATERIALIZED (
{a204}
), s2 AS MATERIALIZED (
  SELECT c.doc_id, c.clean_text AS text, s1.lang
  FROM cleaned c JOIN s1 USING (doc_id)
  WHERE length(c.clean_text) >= {_C68_MIN_CHARS}
), score AS (
  WITH tb AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) % {b} AS b
    FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
          FROM s2)
  ), dtf AS (
    SELECT doc_id, b, count(*) AS tf FROM tb GROUP BY doc_id, b
  ), cnts AS (
    SELECT b, sum(CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END) AS ct,
           count(*) AS cs
    FROM tb GROUP BY b
  ), tot AS (
    SELECT sum(CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END) AS nt,
           count(*) AS ns
    FROM tb
  ), lr AS (
    SELECT b,
           CAST(round(ln((CAST(ct + 1 AS DOUBLE) * CAST(ns + {b} AS DOUBLE))
                       / (CAST(cs + 1 AS DOUBLE)
                          * CAST(nt + {b} AS DOUBLE))),
                      9) AS DECIMAL(12,9)) AS lr
    FROM cnts, tot
  )
  SELECT doc_id,
         round(CAST(sum(CAST(tf AS DECIMAL(9,0)) * lr) AS DOUBLE), 6)
           AS dsir_score
  FROM dtf JOIN lr USING (b) GROUP BY doc_id
), s3 AS MATERIALIZED (
  SELECT s2.* FROM s2 JOIN score USING (doc_id) WHERE dsir_score > 0
), packed AS (
  SELECT CAST(COALESCE(sum((t + {_C68_CTX - 1}) // {_C68_CTX}), 0) AS BIGINT)
           AS n_chunks
  FROM (SELECT CAST(sum({tok}) AS BIGINT) AS t FROM s3
        GROUP BY doc_id % 8)
), funnel AS (
  SELECT 0 AS stage, 'raw' AS rule, count(*) AS n_docs,
         CAST(COALESCE(sum({tok}), 0) AS BIGINT) AS n_tokens
  FROM documents
  UNION ALL
  SELECT 1, 'neardup_prune', count(*),
         CAST(COALESCE(sum({tok}), 0) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, 'span_dedup_minlen', count(*),
         CAST(COALESCE(sum({tok}), 0) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'dsir_select', count(*),
         CAST(COALESCE(sum({tok}), 0) AS BIGINT) FROM s3
)
SELECT stage, rule,
       CASE WHEN stage = 4 THEN (SELECT n_chunks FROM packed)
            ELSE n_docs END AS n_docs,
       CASE WHEN stage IN (1, 2, 3)
            THEN lag(n_docs) OVER (ORDER BY stage) - n_docs
            ELSE 0 END AS n_dropped,
       n_tokens
FROM (
  SELECT * FROM funnel
  UNION ALL
  SELECT 4, 'packed_chunks', 0,
         (SELECT n_tokens FROM funnel WHERE stage = 3)
) ORDER BY stage
"""


QUERIES["c68_curation_packing_funnel"] = QuerySpec(
    c68_curation_packing_funnel, _c68_sql()
)


# ---------------------------------------------------------------------------
# a211 -- rule-distillation quality classifier (round 13): the
# classifier-based quality filter every production curation pipeline
# runs (C4 / Gopher / Llama-style: write rules, distill them -- plus
# human/LLM labels -- into a small linear model, score every document
# cheaply).  Spark-native and ORACLE-EXACT end to end: the FROZEN
# weights (queries/classifier_weights.py, trained offline by
# tools/freeze_quality_classifier.py -- the quantizers.py shipped-model
# pattern) score each document from 3 engineered features
# (n_chars/1000, round(ln(n_toks), 9), distinct/total word-3-gram
# ratio) + 64 hashed bag-of-words buckets (the a205 DSIR hash), and the
# in-result accuracy is measured against the recomputed c67 rule label.
# Distillation is real, not a parity toy: train acc 0.994 vs 0.926
# majority base on sf0.01 (frozen in A211_TRAIN_ACC).
#
# Float parity: bucket tf are exact integers; weights ship as 9dp
# decimal strings -> the BoW term is an exact DECIMAL fold (a205's
# sum(tf * lr) shape); the 4-term logit adds in one FIXED operand order
# and rounds to 9dp; sigmoid rounds to 6dp (the a110/a205 cross-engine
# transcendental rule).  Scale: one token explode + 64-row weight
# broadcast + per-doc joins -- a205's exact plan shape plus the c67
# gram aggregate; no self-joins, no windows.
# ---------------------------------------------------------------------------

_A211_ACC_FLOOR = 0.9  # distilled model must track its teacher rule


def _a211_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scoring core of a211/a212: every document scored by the
    frozen linear model, with the recomputed teacher-rule label and the
    per-doc correctness flag (un-pinned -- a211 pins for its
    multi-consumer crossJoin; a212 aggregates in one pass)."""
    from ..operators.text import repetition_stats
    from .classifier_weights import A211_BIAS, A211_BUCKETS, A211_WEIGHTS
    from .round11 import _TF_DEC

    d = load_table(spark, sf_dir, "documents")
    rep = repetition_stats(d).select(
        "doc_id", "n_grams", "n_distinct_grams"
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tb = tok.select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast(
                "int"
            ),
            F.lit(A211_BUCKETS),
        ).alias("b"),
    )
    dtf = tb.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("tf"))
    wdf = F.broadcast(
        spark.createDataFrame(
            [(b, f"{A211_WEIGHTS[3 + b]:.9f}") for b in range(A211_BUCKETS)],
            "b int, w string",
        ).select("b", F.col("w").cast("decimal(12,9)").alias("w"))
    )
    bow = (
        dtf.join(wdf, "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf").cast(_TF_DEC) * F.col("w")).alias("__bow"),
            F.sum("tf").cast("long").alias("n_toks"),
        )
    )
    w0, w1, w2 = (f"{A211_WEIGHTS[i]:.9f}" for i in range(3))
    z = F.expr(
        f"round({A211_BIAS:.9f}D + {w0}D * (n_chars / 1000.0D) "
        f"+ {w1}D * round(ln(cast(n_toks as double)), 9) "
        f"+ {w2}D * (cast(n_distinct_grams as double) / n_grams) "
        f"+ cast(__bow as double) / n_toks, 9)"
    )
    return (
        d.select("doc_id", "n_chars")
        .join(rep, "doc_id")
        .join(bow, "doc_id")
        .withColumn("logit", z)
        .withColumn(
            "prob",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))), 6),
        )
        .withColumn(
            "rule_pass",
            F.col("n_chars").between(100, 2000)
            & (
                F.lit(5) * (F.col("n_grams") - F.col("n_distinct_grams"))
                < F.col("n_grams")
            ),
        )
        .withColumn("predicted", F.col("prob") >= 0.5)
        .withColumn("correct", F.col("predicted") == F.col("rule_pass"))
    )


def a211_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:

    scored = pin_frame(  # consumed by the accuracy agg + output
        _a211_scored(spark, sf_dir)
    )
    acc = scored.agg(
        F.round(F.avg(F.col("correct").cast("double")), 4).alias("accuracy")
    )
    return (
        scored.crossJoin(F.broadcast(acc))
        .withColumn("acc_ok", F.col("accuracy") >= F.lit(_A211_ACC_FLOOR))
        .select(
            "doc_id",
            "n_toks",
            "rule_pass",
            "logit",
            "prob",
            "predicted",
            "correct",
            "accuracy",
            "acc_ok",
        )
    )


def _a211_sql() -> str:
    from .classifier_weights import A211_BIAS, A211_BUCKETS, A211_WEIGHTS

    b = A211_BUCKETS
    wvals = ",\n    ".join(
        f"({i}, CAST('{A211_WEIGHTS[3 + i]:.9f}' AS DECIMAL(12,9)))"
        for i in range(b)
    )
    w0, w1, w2 = (f"{A211_WEIGHTS[i]:.9f}" for i in range(3))
    return f"""
WITH wts(b, w) AS (VALUES
    {wvals}
), grams AS (
  SELECT doc_id, n_chars, len(g) AS n_grams,
         len(list_distinct(g)) AS n_distinct_grams
  FROM (
    SELECT doc_id, n_chars,
           [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
             AS g
    FROM (SELECT doc_id, n_chars,
                 list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
          FROM documents) q
  ) q2
), tb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) % {b} AS b
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
), dtf AS (
  SELECT doc_id, b, count(*) AS tf FROM tb GROUP BY doc_id, b
), bow AS (
  SELECT doc_id, sum(CAST(tf AS DECIMAL(9,0)) * w) AS bowsum,
         CAST(sum(tf) AS BIGINT) AS n_toks
  FROM dtf JOIN wts USING (b) GROUP BY doc_id
), scored AS (
  SELECT g.doc_id, bow.n_toks,
         (g.n_chars BETWEEN 100 AND 2000
          AND 5 * (g.n_grams - g.n_distinct_grams) < g.n_grams)
           AS rule_pass,
         round({A211_BIAS:.9f} + {w0} * (g.n_chars / 1000.0)
               + {w1} * round(ln(CAST(bow.n_toks AS DOUBLE)), 9)
               + {w2} * (CAST(g.n_distinct_grams AS DOUBLE) / g.n_grams)
               + CAST(bow.bowsum AS DOUBLE) / bow.n_toks, 9) AS logit
  FROM grams g JOIN bow USING (doc_id)
), probs AS (
  SELECT doc_id, n_toks, rule_pass, logit,
         round(1.0 / (1.0 + exp(-logit)), 6) AS prob
  FROM scored
), preds AS (
  SELECT *, prob >= 0.5 AS predicted,
         (prob >= 0.5) = rule_pass AS correct
  FROM probs
), acc AS (
  SELECT round(avg(CASE WHEN correct THEN 1.0 ELSE 0.0 END), 4)
           AS accuracy
  FROM preds
)
SELECT p.doc_id, p.n_toks, p.rule_pass, p.logit, p.prob, p.predicted,
       p.correct, a.accuracy, a.accuracy >= {_A211_ACC_FLOOR} AS acc_ok
FROM preds p CROSS JOIN acc a
"""


QUERIES["a211_quality_classifier"] = QuerySpec(
    a211_quality_classifier, _a211_sql()
)


# ---------------------------------------------------------------------------
# a212 -- held-out evaluation surface for the frozen classifier (round
# 14, VERDICT r13 task #7): the one-row model-health report a production
# scorer publishes per corpus.  The weights were trained at sf0.01, so
# running this at any OTHER sf measures held-out generalization (the
# 0.988-at-sf0.1 figure previously only claimed in SCALE.md prose
# becomes a driver-checkable number); at sf0.01 it reproduces the train
# accuracy.  Same frozen-weight scoring core as a211 (_a211_scored),
# collapsed to the aggregate -- so drift in EITHER the artifact or the
# scoring algebra breaks an exact-match oracle twice over.
# Scale: a211's plan minus the output crossJoin -- one explode, 64-row
# broadcast, per-doc joins, ONE row out.
# ---------------------------------------------------------------------------


def a212_quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _a211_scored(spark, sf_dir)
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("rule_pass").cast("double")), 4).alias(
            "rule_pass_rate"
        ),
        F.round(F.avg(F.col("correct").cast("double")), 4).alias("accuracy"),
    ).withColumn("acc_ok", F.col("accuracy") >= F.lit(_A211_ACC_FLOOR))


def _a212_sql() -> str:
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(CASE WHEN rule_pass THEN 1.0 ELSE 0.0 END), 4)
         AS rule_pass_rate,
       round(avg(CASE WHEN correct THEN 1.0 ELSE 0.0 END), 4) AS accuracy,
       round(avg(CASE WHEN correct THEN 1.0 ELSE 0.0 END), 4)
         >= {_A211_ACC_FLOOR} AS acc_ok
FROM ({_a211_sql()})
"""


QUERIES["a212_quality_classifier_eval"] = QuerySpec(
    a212_quality_classifier_eval, _a212_sql()
)


# ---------------------------------------------------------------------------
# c69 -- PERSISTED IVF index serving (round 13): the production shape of
# ANN at 100 TB.  a16 computes assignment inline per query; a real
# deployment builds the index ONCE -- corpus rows keyed by their coarse
# cell, stored as a cell-PARTITIONED table -- and every query then reads
# ONLY its probed cells, which Spark turns into planning-time PARTITION
# PRUNING (the scan lists probe-cell directories, never the corpus).
# This query runs that lifecycle end to end in a scratch warehouse:
# build (write partitionBy cell), serve (read back WHERE cell IN probes
# -- the pytest pins via inputFiles() that only probed-cell files are
# read), rank, and verify recall.  Results are BY CONSTRUCTION the a16
# candidate set (the cell filter only drops never-probed rows), so the
# oracle is the same frozen-quantizer SQL -- what changes is the
# EXECUTION: index cost amortized across queries, per-query read
# proportional to n_probes/n_cells of the corpus.  The c27 bucketed-join
# precedent, applied to ANN.
# ---------------------------------------------------------------------------


def _ivf_index_lifecycle(
    spark: SparkSession,
    sf_dir: str,
    *,
    erase_mod: int | None = None,
    erase_rem: int = 0,
) -> DataFrame:
    """Shared c69/c73 body: build the cell-partitioned IVF index,
    optionally PHYSICALLY erase ``vec_id % erase_mod == erase_rem``
    (``Warehouse.erase_partition_rows`` -- only affected cell
    partitions rewritten, round 15), then serve probed cells and verify
    recall against the exact reference over the LIVE corpus."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from ..operators.similarity import cosine_topk, dot_product
    from ..sources.catalog import Warehouse
    from .analytics import (
        _A16_PROBES,
        _A16_RECALL_FLOOR,
        _TOPK_K,
        _TOPK_NQ,
        _ann_with_recall,
        _argmin_cid_sql,
        _l2_lit_fold_sql,
        _norm_sql,
    )
    from .quantizers import A16_CENTROIDS

    e = load_table(spark, sf_dir, "embeddings")
    dists = [_l2_lit_fold_sql("embedding", c) for c in A16_CENTROIDS]
    bucket = F.expr(f"cast({_argmin_cid_sql(dists)} as int)")
    scratch = tempfile.mkdtemp(prefix="ods_spark_c69_")
    try:
        # BUILD: one assignment pass, stored cell-partitioned (at 100 TB
        # this is the amortized offline index build)
        par = spark.sparkContext.defaultParallelism
        e.repartition(par).select(
            F.col("vec_id").alias("n_id"),
            F.col("embedding").alias("__c_vec"),
            _norm_sql("embedding").alias("__c_norm"),
            bucket.alias("cell"),
        ).write.partitionBy("cell").parquet(f"{scratch}/ivf_index")
        if erase_mod is not None:
            # ERASE (c73): physical targeted-partition delete -- only
            # cells containing erased vectors are rewritten; the exact
            # reference below recomputes over the live corpus, so a
            # stale or over-deleted cell breaks the oracle match
            e = e.where(
                F.pmod(F.col("vec_id"), F.lit(erase_mod)) != erase_rem
            )
            Warehouse(spark, scratch).erase_partition_rows(
                "",
                "ivf_index",
                "cell",
                load_table(spark, sf_dir, "embeddings")
                .where(F.pmod(F.col("vec_id"), F.lit(erase_mod)) == erase_rem)
                .select(F.col("vec_id").alias("n_id")),
                "n_id",
            )
        index = spark.read.parquet(f"{scratch}/ivf_index").withColumn(
            "cell", F.col("cell").cast("int")
        )
        # probe selection for the query set (frozen-quantizer folds)
        pr = F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({i + 1} as cid, {d} as d)"
                    for i, d in enumerate(dists)
                )
                + ")"
            )
        )
        wq = Window.partitionBy("q_id").orderBy(
            F.col("d").asc(), F.col("cid").asc()
        )
        probes = (
            e.where(F.col("vec_id") < _TOPK_NQ)
            .select(
                F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("__q_vec"),
                _norm_sql("embedding").alias("__q_norm"),
                pr.alias("__p"),
            )
            .select("q_id", "__q_vec", "__q_norm", "__p.cid", "__p.d")
            .withColumn("__pr", F.row_number().over(wq))
            .where(F.col("__pr") <= _A16_PROBES)
            .select(
                "q_id", "__q_vec", "__q_norm", F.col("cid").alias("__probe")
            )
        )
        probes = pin_frame(probes)  # consumed for the cell list AND the join
        # SERVE: the probed-cell list is tiny (<= nq * n_probes ints) --
        # fetched to the driver so the IN-filter is a PLAN LITERAL the
        # scan prunes partitions with at planning time
        cells = sorted(
            {r["__probe"] for r in probes.select("__probe").collect()}
        )
        served = index.where(F.col("cell").isin(cells))
        scored = served.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("__probe"))
            & (F.col("q_id") != F.col("n_id")),
        ).withColumn(
            "cosine",
            F.round(
                dot_product(F.col("__q_vec"), F.col("__c_vec"))
                / (F.col("__q_norm") * F.col("__c_norm")),
                6,
            ),
        )
        wk = Window.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), F.col("n_id").asc()
        )
        ann = pin_frame(
            scored.withColumn("rank", F.row_number().over(wk))
            .where(F.col("rank") <= _TOPK_K)
            .select("q_id", "n_id", "cosine", "rank")
        )
        q = e.where(F.col("vec_id") < _TOPK_NQ)
        out = _ann_with_recall(
            ann,
            cosine_topk(e, q, k=_TOPK_K),
            _TOPK_K,
            floor=_A16_RECALL_FLOOR,
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def c69_ivf_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_index_lifecycle(spark, sf_dir)


def _c69_sql() -> str:
    # the persisted index is a pass-through of the a16 candidate algebra
    # (the cell filter drops only never-probed rows), so the oracle IS
    # the frozen-quantizer a16 SQL
    from .analytics import _a16_sql

    return _a16_sql()


QUERIES["c69_ivf_index_serve"] = QuerySpec(c69_ivf_index_serve, _c69_sql())
