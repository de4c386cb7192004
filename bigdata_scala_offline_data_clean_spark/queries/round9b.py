"""Round-9 extension queries: curation-pipeline health + contrastive mining.

Six operators a large-scale training-data pipeline runs between crawl and
training, each over the synthetic ``documents`` / ``embeddings`` tables:

a164 hard-negative mining (per query vector, the top-k most cosine-similar
vectors with a DIFFERENT label -- the standard mining step before
contrastive / metric-learning fine-tuning; ``operators/similarity.
hard_negative_topk`` broadcasts the labeled query batch and scans the
corpus once, exactly the a10 shape), a165 character-class census per
source (ASCII-letter / digit / space / other shares plus digit-heavy doc
counts -- the script/encoding health screen before tokenization;
integer-exact by construction), a166 tokenizer fertility by language
(BPE-ish tokens per whitespace word and chars per token -- the metric
that decides per-language token budgets; integer sums, one final
division), a167 source reputation (m-estimate-smoothed mean quality per
source, the shrinkage that stops tiny sources from winning the ranking on
three lucky docs -- the standard Bayesian-average fix), a168 cross-source
exact-dup leakage (share of each source's docs whose md5 digest also
appears in ANOTHER source -- mirror-site / syndication contamination, the
measurement before choosing a canonical source), a169 embedding-norm
outliers per label (median + MAD of the L2 norm, count of 3-MAD
outliers -- the vector-health screen before indexing; rides the same
``grouped_exact_percentiles`` machinery as a157 on a brand-new domain).

Scale notes: a164 broadcasts only the tiny query batch (corpus never
shuffles until the per-query top-k window, k rows per query after AQE
partial top-k); a165/a166 are single-projection aggregations (integer
counts, no float accumulation); a167's global prior is a 1-row broadcast
frame; a168 shuffles 16-byte digests + source strings, never document
bodies, and the digest->source join reuses the digest-group exchange;
a169's per-label stat frames are tiny broadcasts over the norm
projection.

Batch 2 (a170–a172): a170 waiting suppliers (TPC-H Q21 shape adapted to
this schema -- "late" := shipped > 60 days after order date; the
EXISTS / NOT EXISTS pair decorrelates to LeftSemi / LeftAnti hash joins
sharing the l_orderkey exchange, top-100 TakeOrdered-bounded), a171
embedding-level train/eval decontamination (max cross-split cosine vs a
shared-literal threshold -- the vector twin of a45's n-gram screen;
broadcast eval batch, corpus scans once), a172 kNN label-noise audit
(share of k nearest neighbors disagreeing with a vector's own label,
majority flagged by the integer rule ``2 * n_disagree >= k`` -- the
confident-learning data-quality screen).

Floats follow the repo rule (``_util`` docstring): per-term
``round(expr, 9)`` -> exact ``DECIMAL(28,9)`` sums -> final
``round(., 6)``; shares that can be one exact integer division are
computed that way instead (no accumulation at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import load_table

QUERIES: dict[str, QuerySpec] = {}

_DEC = "decimal(28,9)"


# ---------------------------------------------------------------------------
# a164 -- contrastive hard-negative mining: per query vector (a small
# deterministic batch), the k most-similar vectors with a different label.
# The query batch broadcasts with its labels; the label-mismatch predicate
# rides the broadcast join so same-label pairs never reach scoring.
# ---------------------------------------------------------------------------

_HN_NQ, _HN_K = 8, 5


def a164_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negative_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < _HN_NQ)
    return hard_negative_topk(e, q, k=_HN_K)


def _a164_sql() -> str:
    from ..operators.similarity import DOT_SQL as dot

    qq, cc = dot.format(a="qv", b="qv"), dot.format(a="cv", b="cv")
    qc = dot.format(a="qv", b="cv")
    return f"""
WITH q AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS qv
  FROM embeddings WHERE vec_id < {_HN_NQ}
), c AS (
  SELECT vec_id AS n_id, label AS n_label, embedding AS cv FROM embeddings
), scored AS (
  SELECT q_id, q_label, n_id, n_label,
         round({qc} / (sqrt({qq}) * sqrt({cc})), 6) AS cosine
  FROM c, q WHERE q_id <> n_id AND q_label <> n_label
), ranked AS (
  SELECT q_id, q_label, n_id, n_label, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC)
           AS rank
  FROM scored
)
SELECT q_id, q_label, n_id, n_label, cosine, rank
FROM ranked WHERE rank <= {_HN_K}
"""


QUERIES["a164_hard_negative_mining"] = QuerySpec(
    a164_hard_negative_mining, _a164_sql()
)


# ---------------------------------------------------------------------------
# a165 -- character-class census per source.  Per-doc integer counts from
# char_class_profile; corpus-level shares are ONE integer division each
# (exact, engine-portable); "digit-heavy" is the integer comparison
# 5 * n_digit > n_chars (i.e. digit share > 20%) -- no float thresholds.
# ---------------------------------------------------------------------------


def a165_char_class_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import char_class_profile

    d = load_table(spark, sf_dir, "documents")
    p = char_class_profile(d)
    return (
        p.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_cls").alias("total_chars"),
            F.sum("n_alpha").alias("__a"),
            F.sum("n_digit").alias("__d"),
            F.sum("n_space").alias("__s"),
            F.sum("n_other").alias("__o"),
            F.sum(
                F.when(5 * F.col("n_digit") > F.col("n_chars_cls"), 1)
                .otherwise(0)
            ).alias("n_digit_heavy"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.round(F.col("__a") / F.col("total_chars"), 6).alias("alpha_share"),
            F.round(F.col("__d") / F.col("total_chars"), 6).alias("digit_share"),
            F.round(F.col("__s") / F.col("total_chars"), 6).alias("space_share"),
            F.round(F.col("__o") / F.col("total_chars"), 6).alias("other_share"),
            "n_digit_heavy",
        )
    )


A165_SQL = """
WITH cls AS (
  SELECT source,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
           AS n_alpha,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS n_digit,
         length(text) - length(regexp_replace(text, ' ', '', 'g'))
           AS n_space
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       SUM(n_chars) AS total_chars,
       round(CAST(SUM(n_alpha) AS DOUBLE) / SUM(n_chars), 6) AS alpha_share,
       round(CAST(SUM(n_digit) AS DOUBLE) / SUM(n_chars), 6) AS digit_share,
       round(CAST(SUM(n_space) AS DOUBLE) / SUM(n_chars), 6) AS space_share,
       round(CAST(SUM(n_chars - n_alpha - n_digit - n_space) AS DOUBLE)
             / SUM(n_chars), 6) AS other_share,
       SUM(CASE WHEN 5 * n_digit > n_chars THEN 1 ELSE 0 END)
         AS n_digit_heavy
FROM cls
GROUP BY source
"""

QUERIES["a165_char_class_census"] = QuerySpec(a165_char_class_census, A165_SQL)


# ---------------------------------------------------------------------------
# a166 -- tokenizer fertility by language: BPE-ish tokens per whitespace
# word (the "fertility" a tokenizer team tracks per language) and chars
# per BPE token.  All sums are integers; each output metric is one IEEE
# division of exact operands.
# ---------------------------------------------------------------------------


def a166_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_count_bpe

    d = load_table(spark, sf_dir, "documents")
    t = token_count_bpe(d).select(
        "lang",
        "n_bpe_tokens",
        F.size(F.split(F.col("text"), " ")).alias("n_words"),
        F.length("text").alias("n_chars_f"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_chars_f").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_bpe_tokens",
            "total_words",
            F.round(
                F.col("total_bpe_tokens") / F.col("total_words"), 6
            ).alias("fertility"),
            F.round(
                F.col("total_chars") / F.col("total_bpe_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


A166_SQL = """
WITH t AS (
  SELECT lang,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
           AS n_bpe_tokens,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       SUM(n_bpe_tokens) AS total_bpe_tokens,
       SUM(n_words) AS total_words,
       round(CAST(SUM(n_bpe_tokens) AS DOUBLE) / SUM(n_words), 6)
         AS fertility,
       round(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe_tokens), 6)
         AS chars_per_token
FROM t
GROUP BY lang
"""

QUERIES["a166_token_fertility"] = QuerySpec(a166_token_fertility, A166_SQL)


# ---------------------------------------------------------------------------
# a167 -- source reputation: m-estimate-smoothed mean quality per source,
# smoothed = (sum_q + m * prior) / (n + m) with the global mean as prior.
# Per-doc quality (the a15 uniq_ratio) is one IEEE division; the sums
# follow the decimal rule so both engines add identical terms exactly;
# the final smoothing arithmetic is a fixed sequence of IEEE ops on
# decimal-exact operands.  The global prior is a 1-row broadcast frame.
# ---------------------------------------------------------------------------

_REP_M, _REP_TOPK = 50, 25


def a167_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    q = d.select(
        "source",
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks), 9
        ).cast(_DEC).alias("q"),
    )
    per_src = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("q").alias("__sum_q")
    )
    glob = q.agg(
        (F.sum("q").cast("double") / F.count(F.lit(1))).alias("__prior")
    )
    scored = per_src.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_docs",
        F.round(F.col("__sum_q").cast("double") / F.col("n_docs"), 6)
        .alias("raw_quality"),
        F.round(
            (F.col("__sum_q").cast("double") + _REP_M * F.col("__prior"))
            / (F.col("n_docs") + _REP_M),
            6,
        ).alias("smoothed_quality"),
    )
    # top-K leaderboard: TakeOrderedAndProject bounds the frame (per-
    # partition top-k + driver merge -- source cardinality is unbounded at
    # web scale, so the rank window must only ever see K rows; the a140
    # pattern)
    top = scored.orderBy(
        F.desc("smoothed_quality"), F.asc("source")
    ).limit(_REP_TOPK)
    w = Window.orderBy(F.desc("smoothed_quality"), F.asc("source"))
    return top.withColumn(
        "reputation_rank", F.row_number().over(w).cast("int")
    )


A167_SQL = f"""
WITH q AS (
  SELECT source,
         CAST(round(CAST(len(list_distinct(string_split(text, ' ')))
                         AS DOUBLE) / len(string_split(text, ' ')), 9)
              AS DECIMAL(28,9)) AS q
  FROM documents
), per_src AS (
  SELECT source, COUNT(*) AS n_docs, SUM(q) AS sum_q FROM q GROUP BY source
), gstat AS (
  SELECT CAST(SUM(q) AS DOUBLE) / COUNT(*) AS prior FROM q
)
SELECT source, n_docs,
       round(CAST(sum_q AS DOUBLE) / n_docs, 6) AS raw_quality,
       round((CAST(sum_q AS DOUBLE) + {_REP_M} * prior) / (n_docs + {_REP_M}),
             6) AS smoothed_quality,
       CAST(row_number() OVER (
         ORDER BY round((CAST(sum_q AS DOUBLE) + {_REP_M} * prior)
                        / (n_docs + {_REP_M}), 6) DESC, source ASC)
         AS INT) AS reputation_rank
FROM per_src, gstat
ORDER BY smoothed_quality DESC, source ASC
LIMIT {_REP_TOPK}
"""

QUERIES["a167_source_reputation"] = QuerySpec(a167_source_reputation, A167_SQL)


# ---------------------------------------------------------------------------
# a168 -- cross-source exact-dup leakage: a digest is "leaked" when it
# occurs in >= 2 distinct sources; per source, how many of its docs carry
# a leaked digest.  Only 16-byte digests + source strings shuffle; the
# digest->doc join reuses the digest-group exchange (same key).
# ---------------------------------------------------------------------------


def a168_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.md5(F.col("text")).alias("__h")
    )
    spread = d.groupBy("__h").agg(
        F.countDistinct("source").alias("__n_sources")
    )
    return (
        d.join(spread, "__h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("__n_sources") >= 2, 1).otherwise(0)
            ).alias("n_leaked_docs"),
            F.countDistinct(
                F.when(F.col("__n_sources") >= 2, F.col("__h"))
            ).alias("n_leaked_digests"),
        )
        .withColumn(
            "leak_share",
            F.round(F.col("n_leaked_docs") / F.col("n_docs"), 6),
        )
    )


A168_SQL = """
WITH d AS (
  SELECT source, md5(text) AS h FROM documents
), spread AS (
  SELECT h, COUNT(DISTINCT source) AS n_sources FROM d GROUP BY h
)
SELECT d.source AS source,
       COUNT(*) AS n_docs,
       SUM(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS n_leaked_docs,
       COUNT(DISTINCT CASE WHEN n_sources >= 2 THEN d.h END)
         AS n_leaked_digests,
       round(CAST(SUM(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS leak_share
FROM d JOIN spread ON d.h = spread.h
GROUP BY d.source
"""

QUERIES["a168_cross_source_leakage"] = QuerySpec(
    a168_cross_source_leakage, A168_SQL
)


# ---------------------------------------------------------------------------
# a169 -- embedding-norm outliers per label: median + MAD of the L2 norm,
# 3-MAD outlier counts.  The a157 robust-stats shape on the vector-health
# domain: norms are a one-pass projection (sequential fold, rounded to 9
# so both engines feed identical IEEE values into the percentile
# machinery); the per-label stat frames are tiny broadcasts.
# ---------------------------------------------------------------------------


def a169_embedding_norm_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.ordering import grouped_exact_percentiles
    from ..operators.similarity import l2_norm

    # pin both multi-consumer frames (r17, guide §1.2 -- the a157
    # pattern): the norm fold feeds the median machinery's 3 internal
    # passes + dev; dev feeds the MAD machinery's 3 passes + the final
    # aggregate.  Without the pins the per-row L2 fold re-runs ~7x.
    e = pin_frame(
        load_table(spark, sf_dir, "embeddings").select(
            "label", F.round(l2_norm(F.col("embedding")), 9).alias("norm")
        )
    )
    med = grouped_exact_percentiles(
        e, ["label"], "norm", [0.5], small_groups=True, spread_input=False
    ).select(
        "label", F.col("value").alias("med")
    )
    dev = pin_frame(
        e.join(F.broadcast(med), "label").withColumn(
            "d", F.abs(F.col("norm") - F.col("med"))
        )
    )
    mad = grouped_exact_percentiles(
        dev, ["label"], "d", [0.5], small_groups=True, spread_input=False
    ).select(
        "label", F.col("value").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_norm_outliers"),
            F.round(F.min("med"), 6).alias("median_norm"),
            F.round(F.min("mad"), 6).alias("mad_norm"),
        )
    )


A169_SQL = """
WITH e AS (
  SELECT label,
         round(sqrt(list_reduce(list_transform(
           generate_series(1, len(embedding)),
           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
           (s, v) -> s + v)), 9) AS norm
  FROM embeddings
), med AS (
  SELECT label, quantile_cont(norm, 0.5) AS med FROM e GROUP BY 1
), dev AS (
  SELECT e.label, norm, med, abs(norm - med) AS d
  FROM e JOIN med USING (label)
), mad AS (
  SELECT label, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT dev.label AS label,
       COUNT(*) AS n_vecs,
       SUM(CASE WHEN d > 3 * mad THEN 1 ELSE 0 END) AS n_norm_outliers,
       round(MIN(med), 6) AS median_norm,
       round(MIN(mad), 6) AS mad_norm
FROM dev JOIN mad USING (label)
GROUP BY 1
"""

QUERIES["a169_embedding_norm_outliers"] = QuerySpec(
    a169_embedding_norm_outliers, A169_SQL
)


# ---------------------------------------------------------------------------
# a170 -- waiting suppliers (TPC-H Q21 shape, adapted: this schema has no
# commit/receipt dates, so "late" := shipped > 60 days after order date).
# The EXISTS / NOT EXISTS pair must decorrelate to LeftSemi / LeftAnti
# hash joins sharing the l_orderkey exchange -- never a per-row rescan.
# Top-100 leaderboard is TakeOrdered-bounded (supplier cardinality never
# enters a window or a global sort).
# ---------------------------------------------------------------------------

_A170_LATE_DAYS, _A170_TOPK = 60, 100


def a170_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    su = load_table(spark, sf_dir, "supplier")
    base = li.join(
        o.where(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_A170_LATE_DAYS} DAYS")
        ).alias("late"),
    )
    l1 = base.where(F.col("late")).select("l_orderkey", "l_suppkey").distinct()
    l2 = base.select(
        F.col("l_orderkey").alias("__k2"), F.col("l_suppkey").alias("__s2")
    )
    l3 = base.where(F.col("late")).select(
        F.col("l_orderkey").alias("__k3"), F.col("l_suppkey").alias("__s3")
    )
    waited = l1.join(
        l2,
        (l1["l_orderkey"] == F.col("__k2"))
        & (l1["l_suppkey"] != F.col("__s2")),
        "left_semi",
    ).join(
        l3,
        (l1["l_orderkey"] == F.col("__k3"))
        & (l1["l_suppkey"] != F.col("__s3")),
        "left_anti",
    )
    agg = waited.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("numwait"))
    return (
        agg.join(
            F.broadcast(su.select("s_suppkey", "s_name")),
            agg["l_suppkey"] == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(_A170_TOPK)
    )


A170_SQL = f"""
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL {_A170_LATE_DAYS} DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), l1 AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late
), waited AS (
  SELECT w.l_orderkey, w.l_suppkey FROM l1 w
  WHERE EXISTS (SELECT 1 FROM li x
                WHERE x.l_orderkey = w.l_orderkey
                  AND x.l_suppkey <> w.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM li y
                    WHERE y.l_orderkey = w.l_orderkey
                      AND y.l_suppkey <> w.l_suppkey AND y.late)
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM waited JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey ASC
LIMIT {_A170_TOPK}
"""

QUERIES["a170_waiting_suppliers"] = QuerySpec(a170_waiting_suppliers, A170_SQL)


# ---------------------------------------------------------------------------
# a171 -- embedding-level train/eval decontamination: the vector twin of
# a45's n-gram screen.  Eval items whose max cosine against the train
# split clears the threshold are contaminated (an eval answer the model
# saw in training, paraphrased).  The EVAL batch broadcasts (eval sets
# are small by construction); the train corpus scans once map-side, and
# only (q_id, max_cos) rows shuffle.  LSH (a11) is the documented scale
# path when the eval set itself is large.
# ---------------------------------------------------------------------------

_DC_MOD, _DC_THRESH = 20, 0.42


def a171_embedding_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import _topk_partials_matmul

    e = load_table(spark, sf_dir, "embeddings")
    ev = e.where(F.col("vec_id") % _DC_MOD == 0)
    tr = e.where(F.col("vec_id") % _DC_MOD != 0)
    # optimization round 17 (guide §4.2): the train-side scan now scores
    # each partition against the broadcast eval batch with one BLAS
    # matmul and emits per-partition top-1 partials (k=1 candidates);
    # max over partials == the global max, at the oracle's 6dp HALF_UP
    # quantization.  The mod split makes eval/train ids disjoint, so the
    # helper's self-pair mask never fires.
    partials = _topk_partials_matmul(
        tr, ev, "vec_id", "embedding", 1,
        label_col="label", carry_labels=True,
    )
    per_eval = partials.groupBy("q_id", "q_label").agg(
        F.max("cosine").alias("max_cos")
    )
    return (
        per_eval.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                F.when(F.col("max_cos") >= _DC_THRESH, 1).otherwise(0)
            ).alias("n_contaminated"),
            F.sum(F.round(F.col("max_cos"), 9).cast(_DEC)).alias("__s"),
        )
        .select(
            "label",
            "n_eval",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_eval"), 6).alias(
                "contamination_rate"
            ),
            F.round(F.col("__s").cast("double") / F.col("n_eval"), 6).alias(
                "avg_max_cosine"
            ),
        )
    )


def _a171_sql() -> str:
    from ..operators.similarity import DOT_SQL as dot

    qq, cc = dot.format(a="qv", b="qv"), dot.format(a="cv", b="cv")
    qc = dot.format(a="qv", b="cv")
    return f"""
WITH ev AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS qv
  FROM embeddings WHERE vec_id % {_DC_MOD} = 0
), tr AS (
  SELECT embedding AS cv FROM embeddings WHERE vec_id % {_DC_MOD} <> 0
), per_eval AS (
  SELECT q_id, q_label,
         max(round({qc} / (sqrt({qq}) * sqrt({cc})), 6)) AS max_cos
  FROM tr, ev GROUP BY q_id, q_label
)
SELECT q_label AS label,
       COUNT(*) AS n_eval,
       SUM(CASE WHEN max_cos >= {_DC_THRESH} THEN 1 ELSE 0 END)
         AS n_contaminated,
       round(CAST(SUM(CASE WHEN max_cos >= {_DC_THRESH} THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS contamination_rate,
       round(CAST(SUM(CAST(round(max_cos, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / COUNT(*), 6) AS avg_max_cosine
FROM per_eval
GROUP BY q_label
"""


QUERIES["a171_embedding_decontamination"] = QuerySpec(
    a171_embedding_decontamination, _a171_sql()
)


# ---------------------------------------------------------------------------
# a172 -- kNN label-noise audit (confident-learning screen): for each
# audited vector, the share of its k nearest neighbors (cosine, whole
# corpus minus self) carrying a DIFFERENT label; a vector is suspect when
# a majority disagrees.  The audit batch broadcasts (bounded by
# construction -- audits run on samples); suspect-ness is the integer
# comparison 2 * n_disagree >= k, so no float thresholds anywhere.
# ---------------------------------------------------------------------------

_LN_MOD, _LN_K = 4, 5
# Round-10 scale fix (SCALE.md "a172 at 10x"): the audited candidate set
# was the bare modulo FRACTION of the corpus, so audit work grew
# quadratically under scale-up (measured 18s -> 1049s at 10x) and the
# candidate broadcast grew without bound.  The sample is now capped at a
# FIXED count chosen deterministically (md5 order, vec_id tie-break,
# LIMIT -- Spark plans TakeOrderedAndProject, never a full sort), which
# makes the audit truly linear in corpus with a constant-size broadcast.
# At the test SFs the modulo fraction is <= the cap, so outputs are
# unchanged; the DuckDB twin applies the identical ORDER BY + LIMIT.
_LN_CAP = 500


def a172_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    cand = (
        e.where(F.col("vec_id") % _LN_MOD == 0)
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_LN_CAP)
    )
    # optimization round 17 (guide §4.2): the inline broadcast-join +
    # per-pair fold + full-corpus window became cosine_topk's BLAS
    # matmul path in carry-labels mode -- one Arrow stage scores each
    # corpus partition against the broadcast audit batch and emits
    # k-bounded partials, so the rank exchange carries <= |batch| * k
    # rows instead of |corpus| * |batch|.  Same 6dp HALF_UP quantization
    # and (cos desc, n_id asc) tie-break: ranks, and therefore every
    # downstream count, are unchanged (oracle re-verified at 3 SFs).
    knn = cosine_topk(
        e, cand, k=_LN_K, label_col="label", carry_labels=True
    )
    per_q = knn.groupBy("q_id", "q_label").agg(
        F.sum(
            F.when(F.col("n_label") != F.col("q_label"), 1).otherwise(0)
        ).alias("n_disagree")
    )
    return (
        per_q.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_audited"),
            F.sum("n_disagree").alias("total_disagree"),
            F.sum(
                F.when(2 * F.col("n_disagree") >= _LN_K, 1).otherwise(0)
            ).alias("n_suspect"),
        )
        .withColumn(
            "avg_disagreement",
            F.round(
                F.col("total_disagree") / (F.col("n_audited") * _LN_K), 6
            ),
        )
    )


def _a172_sql() -> str:
    from ..operators.similarity import DOT_SQL as dot

    qq, cc = dot.format(a="qv", b="qv"), dot.format(a="cv", b="cv")
    qc = dot.format(a="qv", b="cv")
    return f"""
WITH cand AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS qv
  FROM embeddings WHERE vec_id % {_LN_MOD} = 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_LN_CAP}
), c AS (
  SELECT vec_id AS n_id, label AS n_label, embedding AS cv FROM embeddings
), scored AS (
  SELECT q_id, q_label, n_id, n_label,
         round({qc} / (sqrt({qq}) * sqrt({cc})), 6) AS cos,
         row_number() OVER (
           PARTITION BY q_id
           ORDER BY round({qc} / (sqrt({qq}) * sqrt({cc})), 6) DESC,
                    n_id ASC) AS rn
  FROM c, cand WHERE q_id <> n_id
), per_q AS (
  SELECT q_id, q_label,
         SUM(CASE WHEN n_label <> q_label THEN 1 ELSE 0 END) AS n_disagree
  FROM scored WHERE rn <= {_LN_K}
  GROUP BY q_id, q_label
)
SELECT q_label AS label,
       COUNT(*) AS n_audited,
       SUM(n_disagree) AS total_disagree,
       SUM(CASE WHEN 2 * n_disagree >= {_LN_K} THEN 1 ELSE 0 END)
         AS n_suspect,
       round(CAST(SUM(n_disagree) AS DOUBLE) / (COUNT(*) * {_LN_K}), 6)
         AS avg_disagreement
FROM per_q
GROUP BY q_label
"""


QUERIES["a172_knn_label_noise"] = QuerySpec(
    a172_knn_label_noise, _a172_sql()
)


# ---------------------------------------------------------------------------
# Batch 3 -- the privacy family beyond k-anonymity (c29/c50).  Same QI
# convention as c29: (c_nationkey, c_mktsegment) with bal_bucket =
# floor(c_acctbal / 2000) as the sensitive attribute.
# ---------------------------------------------------------------------------

_C61_L = 3
_LOG2_3 = 1.584962500721156  # shared literal: log2(3), entropy threshold


def c61_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct + entropy l-diversity per QI group.

    k-anonymity (c29) bounds group SIZE; l-diversity bounds what a group
    reveals about the SENSITIVE attribute: every QI group must contain
    >= l distinct sensitive values (distinct-l) and its sensitive
    distribution must carry >= log2(l) bits of entropy (entropy-l, the
    stronger form -- a group of [99x v1, 1x v2, 1x v3] passes distinct-3
    but fails entropy-3).  One groupBy cascade on the QI key; the entropy
    uses a110's count-identity (H = log2(n) - sum(cnt*log2 cnt)/n) so
    every term is an integer-argument log, decimal-summed.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket"),
    )
    counts = c.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_group = counts.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").alias("group_n"),
        F.count(F.lit(1)).alias("n_sensitive"),
        F.sum(
            F.round(F.col("cnt") * F.log2("cnt"), 9).cast(_DEC)
        ).alias("__s"),
    )
    ent = F.round(
        F.log2("group_n") - F.col("__s").cast("double") / F.col("group_n"), 6
    )
    return per_group.select(
        "c_nationkey",
        "c_mktsegment",
        "group_n",
        "n_sensitive",
        ent.alias("entropy_bits"),
        (F.col("n_sensitive") >= _C61_L).alias("distinct_l_ok"),
        (ent >= _LOG2_3).alias("entropy_l_ok"),
    )


C61_SQL = f"""
WITH c AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket
  FROM customer
), counts AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS cnt
  FROM c GROUP BY 1, 2, 3
), per_group AS (
  SELECT c_nationkey, c_mktsegment,
         SUM(cnt) AS group_n,
         COUNT(*) AS n_sensitive,
         SUM(CAST(round(cnt * log2(cnt), 9) AS DECIMAL(28,9))) AS s
  FROM counts GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, group_n, n_sensitive,
       round(log2(group_n) - CAST(s AS DOUBLE) / group_n, 6)
         AS entropy_bits,
       n_sensitive >= {_C61_L} AS distinct_l_ok,
       round(log2(group_n) - CAST(s AS DOUBLE) / group_n, 6) >= {_LOG2_3}
         AS entropy_l_ok
FROM per_group
"""

QUERIES["c61_l_diversity"] = QuerySpec(c61_l_diversity, C61_SQL)


_C62_T = 0.2


def c62_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit: total-variation distance between each QI
    group's sensitive-value distribution and the global one.

    TV = 0.5 * sum_v |p_group(v) - p(v)|; values ABSENT from a group
    contribute p(v), folded in via the identity sum_absent p(v) =
    1 - sum_present p(v) -- so the join only ever touches (group, value)
    pairs that exist.  The global value distribution is vocabulary-sized
    (balance buckets) and broadcasts; the group totals reuse the QI-key
    exchange; the corpus-size frame is a 1-row broadcast.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket"),
    )
    counts = c.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    gtot = counts.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").alias("gn")
    )
    gv = counts.groupBy("bal_bucket").agg(F.sum("cnt").alias("vcnt"))
    n = counts.agg(F.sum("cnt").alias("N"))
    j = (
        counts.join(gtot, ["c_nationkey", "c_mktsegment"])
        .join(F.broadcast(gv), "bal_bucket")
        .crossJoin(F.broadcast(n))
    )
    pg = F.col("cnt") / F.col("gn")
    p = F.col("vcnt") / F.col("N")
    agg = j.groupBy("c_nationkey", "c_mktsegment", "gn").agg(
        F.sum(F.round(F.abs(pg - p), 9).cast(_DEC)).alias("__s1"),
        F.sum(F.round(p, 9).cast(_DEC)).alias("__s2"),
    )
    tv = F.round(
        0.5
        * (
            F.col("__s1").cast("double")
            + (1.0 - F.col("__s2").cast("double"))
        ),
        6,
    )
    return agg.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("gn").alias("group_n"),
        tv.alias("tv_distance"),
        (tv <= _C62_T).alias("t_close_ok"),
    )


C62_SQL = f"""
WITH c AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket
  FROM customer
), counts AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS cnt
  FROM c GROUP BY 1, 2, 3
), gtot AS (
  SELECT c_nationkey, c_mktsegment, SUM(cnt) AS gn FROM counts GROUP BY 1, 2
), gv AS (
  SELECT bal_bucket, SUM(cnt) AS vcnt FROM counts GROUP BY 1
), n AS (
  SELECT SUM(cnt) AS N FROM counts
), agg AS (
  SELECT counts.c_nationkey, counts.c_mktsegment, gn,
         SUM(CAST(round(abs(CAST(cnt AS DOUBLE) / gn
                            - CAST(vcnt AS DOUBLE) / N), 9)
                  AS DECIMAL(28,9))) AS s1,
         SUM(CAST(round(CAST(vcnt AS DOUBLE) / N, 9)
                  AS DECIMAL(28,9))) AS s2
  FROM counts
  JOIN gtot USING (c_nationkey, c_mktsegment)
  JOIN gv USING (bal_bucket)
  CROSS JOIN n
  GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, gn AS group_n,
       round(0.5 * (CAST(s1 AS DOUBLE) + (1.0 - CAST(s2 AS DOUBLE))), 6)
         AS tv_distance,
       round(0.5 * (CAST(s1 AS DOUBLE) + (1.0 - CAST(s2 AS DOUBLE))), 6)
         <= {_C62_T} AS t_close_ok
FROM agg
"""

QUERIES["c62_t_closeness"] = QuerySpec(c62_t_closeness, C62_SQL)


_C63_EPS = 0.5
_C63_SEED = "dp9|"


def _laplace_noise(key: Column, seed: str, eps: float) -> Column:
    """Seeded deterministic Laplace(1/eps) noise for a sensitivity-1
    count release: u = (hash32(seed|key) + 0.5) / 2^32 in (0,1) (never
    exactly 0.5, so sign() never sees 0), then the inverse CDF
    -(1/eps)*sign(u-.5)*ln(1-2|u-.5|), rounded to 6.

    ONE definition shared by c63 (batch release) and s15 (streaming
    release), with :func:`_laplace_sql` as the oracle twin -- the noise
    derivation IS the privacy mechanism, so two copies that could
    diverge under an epsilon or CDF fix are not acceptable.
    """
    from ._util import hash_uniform

    u = hash_uniform(key, seed)
    return F.round(
        (-1.0 / eps)
        * F.signum(u - 0.5)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5)),
        6,
    )


def _laplace_u_sql(seed: str, key_sql: str) -> str:
    """DuckDB twin of the hash->uniform step of :func:`_laplace_noise`."""
    from ._util import hash_uniform_sql

    return hash_uniform_sql(seed, key_sql)


def _laplace_sql(eps: float) -> str:
    """DuckDB twin of the inverse-CDF step over a column named ``u``."""
    return (
        f"round((-1.0 / {eps}) * sign(u - 0.5)"
        f" * ln(1.0 - 2.0 * abs(u - 0.5)), 6)"
    )


def c63_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded-Laplace differentially-private release counts + utility
    audit.

    Count queries with sensitivity 1 get Laplace(1/eps) noise.  The
    noise is DERIVED, not drawn: u = (hash32(seed|key) + 0.5) / 2^32 in
    (0,1) (u can never be exactly 0.5, so sign() never sees 0), then the
    Laplace inverse CDF -(1/eps)*sign(u-.5)*ln(1-2|u-.5|).  Deterministic
    and engine-portable (md5-prefix hash, the dedup.py:44 oracle-twin
    pattern), so the oracle pins the released values exactly.  A real
    release publishes ONLY noisy_count; true_count/abs_error stay in the
    private utility audit this query models.
    """
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    noise = _laplace_noise(
        F.concat(
            F.col("c_nationkey").cast("string"),
            F.lit("|"),
            F.col("c_mktsegment"),
        ),
        _C63_SEED,
        _C63_EPS,
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "true_count",
        F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
        F.round(F.abs(noise), 6).alias("abs_error"),
    )


C63_SQL = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS true_count
  FROM customer GROUP BY 1, 2
), h AS (
  SELECT c_nationkey, c_mktsegment, true_count,
         {_laplace_u_sql(_C63_SEED, "CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment")} AS u
  FROM g
), noised AS (
  SELECT c_nationkey, c_mktsegment, true_count,
         {_laplace_sql(_C63_EPS)} AS noise
  FROM h
)
SELECT c_nationkey, c_mktsegment, true_count,
       round(true_count + noise, 6) AS noisy_count,
       round(abs(noise), 6) AS abs_error
FROM noised
"""

QUERIES["c63_dp_noisy_counts"] = QuerySpec(c63_dp_noisy_counts, C63_SQL)


# ---------------------------------------------------------------------------
# a173 -- item-item collaborative-filtering cosine: sim(u, v) =
# co_count / sqrt(pop_u * pop_v) over order baskets.  Same whale-basket
# hygiene as graph.co_purchase_edges (groups > max_basket are excluded
# BEFORE pairing, bounding pair fan-out at max_basket^2/2 per order; the
# oracle mirrors the filter verbatim).  Popularity joins are item-keyed;
# the global top-50 is TakeOrdered-bounded.
# ---------------------------------------------------------------------------

_A173_SUPPORT, _A173_TOPK = 2, 50


def a173_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import co_filtered_items, co_purchase_edges

    li = load_table(spark, sf_dir, "lineitem")
    its = li.select("l_orderkey", "l_partkey")
    # the shared whale-bounded builders (round-9 review fix: this query
    # previously duplicated the basket-hygiene pipeline inline)
    pairs = co_purchase_edges(
        its, min_support=_A173_SUPPORT, keep_support=True
    ).withColumnRenamed("support", "co_count")
    fit = co_filtered_items(its)
    pop = fit.groupBy("i").agg(F.count(F.lit(1)).alias("pop"))
    sim = (
        pairs.join(pop.select(F.col("i").alias("u"), F.col("pop").alias("pop_u")), "u")
        .join(pop.select(F.col("i").alias("v"), F.col("pop").alias("pop_v")), "v")
        .select(
            "u",
            "v",
            "co_count",
            "pop_u",
            "pop_v",
            F.round(
                F.col("co_count")
                / F.sqrt(F.col("pop_u") * F.col("pop_v")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return sim.orderBy(
        F.desc("cosine_sim"), F.asc("u"), F.asc("v")
    ).limit(_A173_TOPK)


def _a173_sql() -> str:
    from ..operators.graph import co_edges_cte

    return f"""
WITH {co_edges_cte("pairs", min_support=_A173_SUPPORT, keep_support=True)},
pop AS (
  SELECT l_partkey AS i, count(*) AS pop FROM fitems GROUP BY 1
)
SELECT u, v, support AS co_count, pu.pop AS pop_u, pv.pop AS pop_v,
       round(support / sqrt(pu.pop * pv.pop), 6) AS cosine_sim
FROM pairs JOIN pop pu ON pairs.u = pu.i JOIN pop pv ON pairs.v = pv.i
ORDER BY cosine_sim DESC, u ASC, v ASC
LIMIT {_A173_TOPK}
"""


QUERIES["a173_item_cf"] = QuerySpec(a173_item_cf, _a173_sql())


# ---------------------------------------------------------------------------
# s15 -- streaming differentially-private release: continuous grouped-
# count partials (the s11 machinery, effectively-once per-batch_id
# overwrite) merge into exact per-event-type counts, then the c63
# seeded-Laplace derivation noises the release on read.  Because the
# noise is DERIVED from the key (not drawn), the streaming release is
# deterministic and carries a FULL oracle -- batch GROUP BY + the same
# inverse-CDF formula.
# ---------------------------------------------------------------------------

_S15_EPS = 0.5
_S15_SEED = "dps15|"


def s15_stream_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.jobs import stream_count_partials

    ev = load_table(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="ods_spark_s15_")
    try:
        src = f"{scratch}/src"
        ev.select("event_id", "event_type").repartition(2).write.parquet(src)
        stream = spark.readStream.schema(
            "event_id long, event_type string"
        ).option("maxFilesPerTrigger", "1").parquet(src)
        store = f"{scratch}/partials"
        q = (
            stream_count_partials(stream, store, ["event_type"])
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .start()
        )
        q.awaitTermination()
        merged = (
            spark.read.parquet(store)
            .groupBy("event_type")
            .agg(F.sum("cnt").alias("true_count"))
        )
        noise = _laplace_noise(F.col("event_type"), _S15_SEED, _S15_EPS)
        out = merged.select(
            "event_type",
            "true_count",
            F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


S15_SQL = f"""
WITH g AS (
  SELECT event_type, count(*) AS true_count FROM events GROUP BY 1
), h AS (
  SELECT event_type, true_count,
         {_laplace_u_sql(_S15_SEED, "event_type")} AS u
  FROM g
)
SELECT event_type, true_count,
       round(true_count + {_laplace_sql(_S15_EPS)}, 6) AS noisy_count
FROM h
"""

QUERIES["s15_stream_dp_release"] = QuerySpec(s15_stream_dp_release, S15_SQL)


# ---------------------------------------------------------------------------
# c64 -- GDPR erasure-cascade plan: the delete counterpart of c54's
# subject-access export.  For a deterministic subject cohort, count what
# each table would erase and what the cascade strands (lineitems of
# erased orders).  Every per-table count filters on the subject key
# BEFORE aggregating, so pushdown reaches each scan; the order-key
# bridge to lineitem is a semi-join on the orders slice.  A real
# pipeline turns these counts into retraction batches
# (operators/incremental.retraction merge) -- this query is the dry-run
# audit that sizes them.
# ---------------------------------------------------------------------------

_C64_MOD, _C64_REM = 1000, 7


def c64_erasure_cascade_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    subj = F.col("c_custkey") % _C64_MOD == _C64_REM
    n_cust = cu.where(subj).agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).alias("rows_to_erase"),
    )
    o_slice = o.where(F.col("o_custkey") % _C64_MOD == _C64_REM)
    n_ord = o_slice.agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("rows_to_erase"),
    )
    n_li = (
        li.join(
            o_slice.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_semi",
        ).agg(
            F.lit("lineitem_cascade").alias("table_name"),
            F.count(F.lit(1)).alias("rows_to_erase"),
        )
    )
    n_ev = ev.where(F.col("user_id") % _C64_MOD == _C64_REM).agg(
        F.lit("events").alias("table_name"),
        F.count(F.lit(1)).alias("rows_to_erase"),
    )
    return (
        n_cust.unionByName(n_ord).unionByName(n_li).unionByName(n_ev)
    )


C64_SQL = f"""
SELECT 'customer' AS table_name, count(*) AS rows_to_erase
FROM customer WHERE c_custkey % {_C64_MOD} = {_C64_REM}
UNION ALL
SELECT 'orders', count(*) FROM orders
WHERE o_custkey % {_C64_MOD} = {_C64_REM}
UNION ALL
SELECT 'lineitem_cascade', count(*) FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_custkey % {_C64_MOD} = {_C64_REM}
)
UNION ALL
SELECT 'events', count(*) FROM events
WHERE user_id % {_C64_MOD} = {_C64_REM}
"""

QUERIES["c64_erasure_cascade_plan"] = QuerySpec(
    c64_erasure_cascade_plan, C64_SQL
)
