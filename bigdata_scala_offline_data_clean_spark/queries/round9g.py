"""Round-9g queries: time-series structure + resampling inference.

a195 day-of-week seasonality (the dow profile every volume monitor
normalizes by before flagging anomalies -- a122's z-score currently
treats weekly structure as noise), a196 Poisson-bootstrap confidence
interval (Chamandy et al., "Estimating Uncertainty for Massive Data
Streams", Google TR 2012: per-(row, replicate) Poisson(1) weights from
SEEDED hashes make the bootstrap one distributed pass, no resampling
shuffle; the weights are derived-not-drawn, so the oracle pins the CI
exactly), a197 autocorrelation function at lags 1..7 (the structure
probe that justifies a193's EWMA horizon and a195's weekly profile).

Scale notes: a195/a197 aggregate to the CALENDAR-sized daily frame
first; a197's lag alignment is an equi-join on ``day + k`` (never an
unpartitioned window over the series); a196 explodes each row into R=32
(row, replicate) pairs map-side -- the documented one-pass bootstrap
cost -- and aggregates twice (replicate means, then CI), with every
cross-replicate fold on round(.,9) decimals.  Every float follows the
repo rule: exact integer/decimal sums, IEEE ops in an order written
identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import hash_uniform, hash_uniform_sql, load_table

QUERIES: dict[str, QuerySpec] = {}

_DEC = "decimal(28,9)"


# ---------------------------------------------------------------------------
# a195 -- day-of-week seasonality profile per event type: mean daily
# volume per dow / overall mean daily volume.  Two exact integer
# aggregates; each index is two IEEE divisions written in the same
# order in both engines.  Spark's dayofweek is 1..7 (1 = Sunday);
# DuckDB's is 0..6 -- the Spark side subtracts 1 to the DuckDB
# convention.
# ---------------------------------------------------------------------------


def a195_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("__d")
    ).agg(F.count(F.lit(1)).alias("__n"))
    per_dow = daily.groupBy(
        "event_type", (F.dayofweek("__d") - F.lit(1)).alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("__n").alias("__tot"),
    )
    overall = daily.groupBy("event_type").agg(
        (F.sum("__n").cast("double") / F.count(F.lit(1))).alias("__mu")
    )
    return (
        per_dow.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            "dow",
            "n_days",
            F.round(
                F.col("__tot").cast("double") / F.col("n_days"), 6
            ).alias("mean_daily"),
            F.round(
                (F.col("__tot").cast("double") / F.col("n_days"))
                / F.col("__mu"),
                6,
            ).alias("seasonality_idx"),
        )
        .orderBy("event_type", "dow")
    )


A195_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d, count(*) AS n
  FROM events GROUP BY 1, 2
), overall AS (
  SELECT event_type, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu
  FROM daily GROUP BY 1
)
SELECT d.event_type,
       dayofweek(d.d) AS dow,
       COUNT(*) AS n_days,
       round(CAST(SUM(d.n) AS DOUBLE) / COUNT(*), 6) AS mean_daily,
       round((CAST(SUM(d.n) AS DOUBLE) / COUNT(*)) / o.mu, 6)
         AS seasonality_idx
FROM daily d JOIN overall o USING (event_type)
GROUP BY d.event_type, dayofweek(d.d), o.mu
ORDER BY d.event_type, dow
"""

QUERIES["a195_dow_seasonality"] = QuerySpec(a195_dow_seasonality, A195_SQL)


# ---------------------------------------------------------------------------
# a196 -- Poisson bootstrap CI for mean document length.  Per (doc,
# replicate) the weight is Poisson(1) via the inverse CDF over a seeded
# hash-uniform (thresholds are the exact cumulative e^-1/k! literals,
# written identically in both engines, so every weight matches).
# Replicate means are exact-integer ratios; the cross-replicate mean/sd
# fold rides round(.,9) decimals; the CI is the normal approximation
# mean +- 1.96 sd (documented -- 32 replicates is too few for quantile
# ends).  One pass over documents, R=32x map-side row fan-out, two tiny
# aggregates.
# ---------------------------------------------------------------------------

_A196_R = 32
_A196_SEED = "boot9|"
# cumulative Poisson(1) CDF at k = 0..5 (exact double literals; repr
# round-trips, so both engines compare u against identical constants)
_A196_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _pois_w(u):  # Poisson(1) inverse CDF, k capped at 6
    w = F.lit(6)
    for k in range(len(_A196_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_A196_CDF[k]), F.lit(k)).otherwise(w)
    return w


def a196_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = d.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.sequence(F.lit(1), F.lit(_A196_R))
        ).alias("r"),
    )
    u = hash_uniform(
        F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("r")),
        _A196_SEED,
    )
    weighted = reps.select("r", "n_chars", _pois_w(u).alias("__w"))
    rep_means = weighted.groupBy("r").agg(
        (
            F.sum(F.col("__w") * F.col("n_chars")).cast("double")
            / F.sum("__w")
        ).alias("__m")
    )
    point = d.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("__pt")
    )
    stats = rep_means.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.sum(F.round(F.col("__m"), 9).cast(_DEC)).alias("__s1"),
        F.sum(
            F.round(
                F.round(F.col("__m"), 9) * F.round(F.col("__m"), 9), 9
            ).cast(_DEC)
        ).alias("__s2"),
    )
    mean = F.col("__s1").cast("double") / F.col("n_replicates")
    var = (
        F.col("__s2").cast("double")
        - F.col("n_replicates") * mean * mean
    ) / (F.col("n_replicates") - 1)
    sd = F.sqrt(var)
    return stats.crossJoin(F.broadcast(point)).select(
        "n_replicates",
        F.round(F.col("__pt"), 6).alias("point_mean"),
        F.round(mean, 6).alias("boot_mean"),
        F.round(sd, 6).alias("boot_sd"),
        F.round(mean - 1.96 * sd, 6).alias("ci_lo"),
        F.round(mean + 1.96 * sd, 6).alias("ci_hi"),
    )


def _a196_sql() -> str:
    u = hash_uniform_sql(
        _A196_SEED, "CAST(doc_id AS VARCHAR) || '|' || CAST(r AS VARCHAR)"
    )
    w = "6"
    for k in range(len(_A196_CDF) - 1, -1, -1):
        w = f"CASE WHEN u < {_A196_CDF[k]!r} THEN {k} ELSE {w} END"
    return f"""
WITH reps AS (
  SELECT doc_id, n_chars, unnest(generate_series(1, {_A196_R})) AS r
  FROM documents
), uu AS (
  SELECT r, n_chars, {u} AS u FROM reps
), weighted AS (
  SELECT r, n_chars, {w} AS w FROM uu
), rep_means AS (
  SELECT r, CAST(SUM(w * n_chars) AS DOUBLE) / SUM(w) AS m FROM weighted
  GROUP BY r
), stats AS (
  SELECT COUNT(*) AS n_replicates,
         SUM(CAST(round(m, 9) AS DECIMAL(28,9))) AS s1,
         SUM(CAST(round(round(m, 9) * round(m, 9), 9) AS DECIMAL(28,9)))
           AS s2
  FROM rep_means
), point AS (
  SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS pt FROM documents
)
SELECT n_replicates,
       round(pt, 6) AS point_mean,
       round(CAST(s1 AS DOUBLE) / n_replicates, 6) AS boot_mean,
       round(sqrt((CAST(s2 AS DOUBLE)
                   - n_replicates * (CAST(s1 AS DOUBLE) / n_replicates)
                     * (CAST(s1 AS DOUBLE) / n_replicates))
                  / (n_replicates - 1)), 6) AS boot_sd,
       round(CAST(s1 AS DOUBLE) / n_replicates
             - 1.96 * sqrt((CAST(s2 AS DOUBLE)
                   - n_replicates * (CAST(s1 AS DOUBLE) / n_replicates)
                     * (CAST(s1 AS DOUBLE) / n_replicates))
                  / (n_replicates - 1)), 6) AS ci_lo,
       round(CAST(s1 AS DOUBLE) / n_replicates
             + 1.96 * sqrt((CAST(s2 AS DOUBLE)
                   - n_replicates * (CAST(s1 AS DOUBLE) / n_replicates)
                     * (CAST(s1 AS DOUBLE) / n_replicates))
                  / (n_replicates - 1)), 6) AS ci_hi
FROM stats, point
"""


QUERIES["a196_bootstrap_ci"] = QuerySpec(a196_bootstrap_ci, _a196_sql())


# ---------------------------------------------------------------------------
# a197 -- autocorrelation of the daily event-volume series at lags
# 1..7: r_k = sum((x_t - mu)(x_{t+k} - mu)) / sum((x_t - mu)^2).  Lag
# alignment is an equi-join on day + k over the calendar-sized daily
# frame -- never an unpartitioned window; mu and the variance
# denominator ride a 1-row broadcast; products fold as round(.,9)
# decimals so the sums are order-independent.
# ---------------------------------------------------------------------------

_A197_LAGS = (1, 2, 3, 4, 5, 6, 7)


def a197_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    ev = load_table(spark, sf_dir, "events")
    daily = pin_frame(  # feeds mu, the denom, and 7 joins
        ev.groupBy(F.date_trunc("day", "ts").alias("__d")).agg(
            F.count(F.lit(1)).alias("__n")
        )
    )
    mu_den = daily.crossJoin(
        F.broadcast(
            daily.agg(
                (F.sum("__n").cast("double") / F.count(F.lit(1))).alias(
                    "__mu"
                )
            )
        )
    ).agg(
        F.first("__mu").alias("__mu"),
        F.sum(
            F.round(
                (F.col("__n") - F.col("__mu"))
                * (F.col("__n") - F.col("__mu")),
                9,
            ).cast(_DEC)
        ).alias("__den"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    arms = []
    for k in _A197_LAGS:
        num = (
            a.join(
                b,
                F.col("b.__d")
                == F.col("a.__d") + F.expr(f"INTERVAL {k} DAYS"),
            )
            .crossJoin(F.broadcast(mu_den))
            .agg(
                F.lit(k).alias("lag"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(
                    F.sum(
                        F.round(
                            (F.col("a.__n") - F.col("__mu"))
                            * (F.col("b.__n") - F.col("__mu")),
                            9,
                        ).cast(_DEC)
                    ).cast("double")
                    / F.first("__den").cast("double"),
                    6,
                ).alias("acf"),
            )
        )
        arms.append(num)
    return reduce(lambda x, y: x.unionByName(y), arms).orderBy("lag")


def _a197_arm(k: int) -> str:
    return f"""
SELECT {k} AS lag,
       COUNT(*) AS n_pairs,
       round(CAST(SUM(CAST(round((a.n - mu) * (b.n - mu), 9)
                           AS DECIMAL(28,9))) AS DOUBLE)
             / CAST((SELECT SUM(CAST(round((n - mu) * (n - mu), 9)
                                     AS DECIMAL(28,9)))
                     FROM daily, m) AS DOUBLE), 6) AS acf
FROM daily a
JOIN daily b ON b.d = a.d + INTERVAL {k} DAY, m
"""


def _a197_sql() -> str:
    arms = "\nUNION ALL\n".join(_a197_arm(k) for k in _A197_LAGS)
    return f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, count(*) AS n FROM events GROUP BY 1
), m AS (
  SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu FROM daily
)
{arms}
ORDER BY lag
"""


QUERIES["a197_daily_acf"] = QuerySpec(a197_daily_acf, _a197_sql())


# ---------------------------------------------------------------------------
# a198 -- Mann-Whitney U rank-sum test: is src0's document-length
# distribution stochastically different from src1's?  The nonparametric
# complement of a101's Welch z (rank-based, no normality assumption) --
# the standard significance screen before acting on a data-mix change.
# Ranks come from the shared two-level ``ranked_value_counts``
# construction (value-collapsed, no data-sized window); tie handling is
# the textbook average-rank + tie-corrected variance.  EVERYTHING until
# the final z is integer-exact: 2*R_A = sum(cntA * (2*rank_before +
# cnt + 1)) avoids the .5 average-rank halves, and the tie term
# sum(cnt^3 - cnt) is a plain integer sum -- both engines agree to the
# bit, the one IEEE step is the closing z division.
# ---------------------------------------------------------------------------

_A198_A, _A198_B = "src0", "src1"


def a198_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordering import ranked_value_counts

    d = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin(_A198_A, _A198_B)
    )
    counts = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(
            F.when(F.col("source") == _A198_A, 1).otherwise(0)
        ).alias("__ca"),
        F.count(F.lit(1)).alias("cnt"),
    )
    ranked = ranked_value_counts(counts.select("v", "cnt"), "v", "cnt")
    j = ranked.join(counts.select("v", "__ca"), "v")
    agg = j.agg(
        F.sum("__ca").alias("n_a"),
        F.sum(F.col("cnt") - F.col("__ca")).alias("n_b"),
        F.sum(
            F.col("__ca")
            * (F.lit(2) * F.col("rank_before") + F.col("cnt") + F.lit(1))
        ).alias("__2ra"),
        F.sum(
            F.col("cnt").cast("bigint") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("__ties"),
    )
    n = F.col("n_a") + F.col("n_b")
    two_u = F.col("__2ra") - F.col("n_a") * (F.col("n_a") + 1)
    mu2 = F.col("n_a") * F.col("n_b")  # 2 * mean(U)
    var = (
        F.col("n_a").cast("double")
        * F.col("n_b")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("__ties").cast("double") / (n * (n - 1)).cast("double")
        )
    )
    z = (two_u - mu2).cast("double") / (2.0 * F.sqrt(var))
    return agg.select(
        "n_a",
        "n_b",
        (F.col("__2ra").cast("double") / 2.0).alias("rank_sum_a"),
        (two_u.cast("double") / 2.0).alias("u_stat"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("significant_95"),
    )


A198_SQL = f"""
WITH d AS (
  SELECT source, n_chars AS v FROM documents
  WHERE source IN ('{_A198_A}', '{_A198_B}')
), counts AS (
  SELECT v,
         SUM(CASE WHEN source = '{_A198_A}' THEN 1 ELSE 0 END) AS ca,
         count(*) AS cnt
  FROM d GROUP BY v
), ranked AS (
  SELECT v, ca, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS rank_before
  FROM counts
), agg AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(cnt - ca) AS BIGINT) AS n_b,
         CAST(SUM(ca * (2 * rank_before + cnt + 1)) AS BIGINT) AS ra2,
         CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
  FROM ranked
)
SELECT n_a, n_b,
       CAST(ra2 AS DOUBLE) / 2.0 AS rank_sum_a,
       CAST(ra2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_stat,
       round(CAST(ra2 - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
             / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                * (CAST(n_a + n_b + 1 AS DOUBLE)
                   - CAST(ties AS DOUBLE)
                     / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)))), 6)
         AS z,
       abs(round(CAST(ra2 - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
             / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                * (CAST(n_a + n_b + 1 AS DOUBLE)
                   - CAST(ties AS DOUBLE)
                     / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)))), 6))
         > 1.96 AS significant_95
FROM agg
"""

QUERIES["a198_mann_whitney"] = QuerySpec(a198_mann_whitney, A198_SQL)


# ---------------------------------------------------------------------------
# c67 -- curation funnel: the library's cleaning stages composed END TO
# END over documents, with per-stage survivor counts -- the audit table
# every production curation run publishes (how many docs each rule
# dropped).  Stages: (0) raw corpus, (1) length band, (2) Gopher-style
# repetition rule (duplicate word-3-gram ratio, operators/text.
# repetition_stats), (3) exact dedup (keep the min-id representative
# per md5 digest, operators/dedup.exact_dedup_groups' rule).  Every
# predicate is integer-exact (the repetition ratio compares as
# 5 * dup_grams < n_grams, no float threshold), so the funnel is
# bit-portable.  Each stage reuses the operator the standalone queries
# already verify (a142, a03) -- this query pins their COMPOSITION.
# ---------------------------------------------------------------------------

_C67_MIN_CHARS, _C67_MAX_CHARS = 100, 2000


def c67_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..operators.text import repetition_stats

    d = load_table(spark, sf_dir, "documents")
    s1 = d.where(
        (F.col("n_chars") >= _C67_MIN_CHARS)
        & (F.col("n_chars") <= _C67_MAX_CHARS)
    )
    rep = repetition_stats(s1)
    # Gopher repetition rule, integer form: dup_ratio < 0.2 i.e.
    # 5 * (n_grams - n_distinct_grams) < n_grams
    s2 = s1.join(
        rep.where(
            F.lit(5) * (F.col("n_grams") - F.col("n_distinct_grams"))
            < F.col("n_grams")
        ).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    s3 = (
        s2.select("doc_id", F.md5("text").alias("__h"))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    # four 1-row count frames crossJoin into ONE row (each a broadcast),
    # and the stage-over-stage drop is plain column arithmetic -- no
    # window anywhere, so the funnel math is trivially plan-bounded
    c0 = d.agg(F.count(F.lit(1)).alias("__c0"))
    c1 = s1.agg(F.count(F.lit(1)).alias("__c1"))
    c2 = s2.agg(F.count(F.lit(1)).alias("__c2"))
    c3 = s3.agg(F.count(F.lit(1)).alias("__c3"))
    row = reduce(
        lambda a, b: a.crossJoin(F.broadcast(b)), [c0, c1, c2, c3]
    )
    names = ("raw", "length_band", "repetition", "exact_dedup")
    arms = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(names[i]).alias("rule"),
                F.col(f"__c{i}").alias("n_docs"),
                (
                    (F.col(f"__c{i - 1}") - F.col(f"__c{i}"))
                    if i else F.lit(0).cast("bigint")
                ).alias("n_dropped"),
            )
            for i in range(4)
        ]
    )
    return (
        row.select(F.explode(arms).alias("__a"))
        .select("__a.*")
        .orderBy("stage")
    )


C67_SQL = f"""
WITH s1 AS (
  SELECT * FROM documents
  WHERE n_chars >= {_C67_MIN_CHARS} AND n_chars <= {_C67_MAX_CHARS}
), grams AS (
  SELECT doc_id, len(g) AS n_grams,
         len(list_distinct(g)) AS n_distinct_grams
  FROM (
    SELECT doc_id,
           [array_to_string(toks[i:i+2], ' ')
            FOR i IN range(1, len(toks) - 1)] AS g
    FROM (SELECT doc_id, list_filter(string_split(text, ' '),
                                     t -> len(t) > 0) AS toks FROM s1) t
  ) q
), s2 AS (
  SELECT s1.* FROM s1 JOIN grams USING (doc_id)
  WHERE 5 * (n_grams - n_distinct_grams) < n_grams
), s3 AS (
  SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM s2 GROUP BY 1
), funnel AS (
  SELECT 0 AS stage, 'raw' AS rule, count(*) AS n_docs FROM documents
  UNION ALL
  SELECT 1, 'length_band', count(*) FROM s1
  UNION ALL
  SELECT 2, 'repetition', count(*) FROM s2
  UNION ALL
  SELECT 3, 'exact_dedup', count(*) FROM s3
)
SELECT stage, rule, n_docs,
       COALESCE(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0) AS n_dropped
FROM funnel
ORDER BY stage
"""

QUERIES["c67_curation_funnel"] = QuerySpec(c67_curation_funnel, C67_SQL)
