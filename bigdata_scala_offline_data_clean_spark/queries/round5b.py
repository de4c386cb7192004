"""Round-5 second batch.

- a95 count-min heavy hitters: the mergeable frequency-sketch shape
  (fixed ``depth x width`` counter table, merge = SUM) point-queried for
  the exact top-k keys; ``cms_est >= exact_n`` is oracle-checked.
- a99 containment dedup: asymmetric |S(a) & S(b)| / |S(a)| -- the
  quote/boilerplate detector symmetric Jaccard misses -- with the
  stop-gram cap bounding the inverted-index blowup.
- a100 length Gini: per-language corpus length-inequality diagnostic.
- a101 A/B readout: decimal-exact moments, Welch z, significance.
- a102 dedup-detector evaluation: SimHash predictions vs exact Jaccard
  truth -- precision/recall/F1 in one query.
- a103 sequential debounce: the applyInPandas case (re-arms from the
  last KEPT anchor); oracle = DuckDB recursive CTE.
- a104 prefix-filtering set-similarity join (PPJoin family): provably
  exact candidates from a rarest-grams-first prefix index.
- a105 linear-interpolation resample: the complement of a66's ffill.
- a106 rolling 7-day Pearson correlation of two daily metrics.
- a107 sequence-pattern mining (MATCH_RECOGNIZE-lite adjacency search).
- c40 compaction plan: OPTIMIZE bin-packing over file stats.
- c41 partition health: volume vs trailing baseline, nulls, freshness.
- c42 backfill plan: calendar anti-join + gaps-and-islands ranges.
- c43 bitmap cube: one event scan -> stored partials -> three exact
  rollup levels.
- c44 time travel: immutable versioned snapshots + as-of reads + diff.
- c45 point-in-time enrichment: facts see the dimension value valid AT
  event time (oracle = DuckDB native ASOF JOIN).
- c46 SCD type 3: one-level previous-value history, key-sized table.
- s12 streaming count-min maintenance: linear merge == global sketch,
  the one streaming sketch with a full-strength oracle.

All carry full DuckDB oracles: md5 hex-byte bucket arithmetic (the
``simhash`` nibble trick), decimal-exact sums, double division only on
exact integers, and a total-order tie-break on every window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import load_table

QUERIES: dict[str, QuerySpec] = {}

# ---------------------------------------------------------------------------
# a95 -- count-min sketch heavy hitters over events.user_id
# ---------------------------------------------------------------------------

_A95_K = 10
_CMS_DEPTH = 4


def a95_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_counters, cms_estimate

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    counters = cms_counters(counts, "user_id", "exact_n", depth=_CMS_DEPTH)
    # exact top-k: TakeOrderedAndProject (per-partition take + merge); pos
    # from a window over the already-bounded k-row result (a78 pattern)
    top = counts.orderBy(F.col("exact_n").desc(), F.col("user_id").asc()).limit(
        _A95_K
    )
    w = Window.orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
    top = top.withColumn("pos", F.row_number().over(w))
    est = cms_estimate(top, counters, "user_id", depth=_CMS_DEPTH)
    return est.select(
        "user_id",
        "pos",
        "exact_n",
        F.col("cms_est").cast("bigint").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overestimate"),
        (F.col("cms_est") >= F.col("exact_n")).alias("cms_ok"),
    )


def _nib(e: str) -> str:
    return f"(CASE WHEN ascii({e}) >= 97 THEN ascii({e}) - 87 ELSE ascii({e}) - 48 END)"


def _a95_sql() -> str:
    b1 = _nib("substr(h, 2*j+1, 1)")
    b2 = _nib("substr(h, 2*j+2, 1)")
    return f"""
WITH counts AS (
  SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
), hashed AS (
  SELECT user_id, exact_n, md5(CAST(user_id AS VARCHAR)) AS h FROM counts
), pairs AS (
  SELECT user_id, exact_n, j, ({b1} * 16 + {b2}) AS bucket
  FROM hashed CROSS JOIN (SELECT unnest(range({_CMS_DEPTH})) AS j) d
), cms AS (
  SELECT j, bucket, CAST(sum(exact_n) AS BIGINT) AS cnt
  FROM pairs GROUP BY 1, 2
), top AS (
  SELECT user_id, exact_n,
         row_number() OVER (ORDER BY exact_n DESC, user_id ASC) AS pos
  FROM counts QUALIFY pos <= {_A95_K}
), est AS (
  SELECT t.user_id, t.pos, t.exact_n, min(c.cnt) AS cms_est
  FROM top t
  JOIN pairs p ON p.user_id = t.user_id
  JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
  GROUP BY 1, 2, 3
)
SELECT user_id, pos, exact_n, cms_est,
       cms_est - exact_n AS overestimate,
       cms_est >= exact_n AS cms_ok
FROM est
"""


QUERIES["a95_cms_heavy_hitters"] = QuerySpec(a95_cms_heavy_hitters, _a95_sql())

# ---------------------------------------------------------------------------
# a99 -- containment (asymmetric) near-dup pairs with a stop-gram cap
# ---------------------------------------------------------------------------

_A99_N, _A99_THRESHOLD, _A99_MAX_DF = 3, 0.6, 50


def a99_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        d, n=_A99_N, threshold=_A99_THRESHOLD, max_gram_df=_A99_MAX_DF
    )


def _a99_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams0 AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(t) - {_A99_N - 1}, 1)),
                   i -> array_to_string(t[i:i+{_A99_N - 1}], ' ')))) AS gram
  FROM toks
), keep AS (
  SELECT gram FROM grams0 GROUP BY gram HAVING count(*) <= {_A99_MAX_DF}
), grams AS (
  SELECT g.doc_id, g.gram FROM grams0 g JOIN keep k ON k.gram = g.gram
), sizes AS (
  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
), inter AS (
  SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS n_shared
  FROM grams ga JOIN grams gb ON gb.gram = ga.gram AND gb.doc_id <> ga.doc_id
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT i.a, i.b, s.n AS n_grams_a, i.n_shared,
         CAST(i.n_shared AS DOUBLE) / s.n AS containment
  FROM inter i JOIN sizes s ON s.doc_id = i.a
) WHERE containment >= {_A99_THRESHOLD}
"""


QUERIES["a99_containment_dedup"] = QuerySpec(a99_containment_dedup, _a99_sql())

# ---------------------------------------------------------------------------
# a100 -- per-language Gini coefficient of document token counts
# ---------------------------------------------------------------------------


def a100_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    x = d.select(
        "lang", "doc_id", F.size(F.split(F.col("text"), " ")).alias("x")
    )
    # rank window is PARTITIONED by lang -- per-group sort, no global
    # single-task window; ties in x are order-independent in sum(i*x)
    w = Window.partitionBy("lang").orderBy(F.col("x").asc(), F.col("doc_id").asc())
    r = x.withColumn("i", F.row_number().over(w))
    g = r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x").alias("total_tokens"),
        F.sum(F.col("i").cast("bigint") * F.col("x")).alias("__ix"),
    )
    gini = F.round(
        2.0 * F.col("__ix") / (F.col("n_docs").cast("double") * F.col("total_tokens"))
        - (F.col("n_docs") + F.lit(1.0)) / F.col("n_docs"),
        6,
    )
    return g.select("lang", "n_docs", "total_tokens", gini.alias("gini"))


A100_SQL = """
WITH x AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS x FROM documents
), r AS (
  SELECT lang, x,
         row_number() OVER (PARTITION BY lang ORDER BY x ASC, doc_id ASC) AS i
  FROM x
), g AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(x) AS BIGINT) AS total_tokens,
         CAST(sum(i * x) AS BIGINT) AS ix
  FROM r GROUP BY 1
)
SELECT lang, n_docs, total_tokens,
       round(2.0 * ix / (CAST(n_docs AS DOUBLE) * total_tokens)
             - (n_docs + 1.0) / n_docs, 6) AS gini
FROM g
"""


QUERIES["a100_length_gini"] = QuerySpec(a100_length_gini, A100_SQL)

# ---------------------------------------------------------------------------
# c40 -- compaction (OPTIMIZE) bin-packing planner over file stats
# ---------------------------------------------------------------------------

_C40_TARGET = 50_000  # rows per output bin
_C40_FILES = 16  # simulated files per partition


def c40_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.date_format("l_shipdate", "yyyyMM").alias("part"),
        (F.col("l_orderkey") % _C40_FILES).alias("file_id"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    # sequential fold: bin = floor(rows-before-this-file / target).  The
    # window is per warehouse partition over at most _C40_FILES stat rows.
    w = (
        Window.partitionBy("part")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "start_row", F.coalesce(F.sum("n_rows").over(w), F.lit(0)).cast("bigint")
    )
    return planned.select(
        "part",
        "file_id",
        "n_rows",
        "start_row",
        F.floor(F.col("start_row") / F.lit(float(_C40_TARGET))).alias("bin"),
    )


C40_SQL = f"""
WITH files AS (
  SELECT strftime(l_shipdate, '%Y%m') AS part,
         l_orderkey % {_C40_FILES} AS file_id,
         count(*) AS n_rows
  FROM lineitem GROUP BY 1, 2
), planned AS (
  SELECT part, file_id, n_rows,
         CAST(COALESCE(SUM(n_rows) OVER (
           PARTITION BY part ORDER BY file_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_row
  FROM files
)
SELECT part, file_id, n_rows, start_row,
       CAST(floor(start_row / {float(_C40_TARGET)}) AS BIGINT) AS bin
FROM planned
"""


QUERIES["c40_compaction_plan"] = QuerySpec(c40_compaction_plan, C40_SQL)

# ---------------------------------------------------------------------------
# a101 -- A/B experiment analysis (Welch z on hash-assigned arms)
# ---------------------------------------------------------------------------


def a101_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm experiment readout: users hash-split into arms (parity here;
    production uses a salted hash -- same shape), per-arm purchase-value
    moments from exact decimal sums (the a60 convention), Welch z and a
    significance boolean.  One agg over the fact scan + a 2-row fold --
    nothing shuffles twice at any scale.
    """
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    dec = F.col("value").cast("decimal(18,6)")
    g = e.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("ss"),
    )

    def pick(arm: int, col: str):
        return F.max(F.when(F.col("arm") == arm, F.col(col)))

    p = g.agg(
        pick(0, "n").alias("n0"), pick(1, "n").alias("n1"),
        pick(0, "s").alias("s0"), pick(1, "s").alias("s1"),
        pick(0, "ss").alias("ss0"), pick(1, "ss").alias("ss1"),
    )
    m0 = F.col("s0").cast("double") / F.col("n0")
    m1 = F.col("s1").cast("double") / F.col("n1")
    v0 = (
        F.col("ss0").cast("double")
        - F.col("s0").cast("double") * F.col("s0").cast("double") / F.col("n0")
    ) / (F.col("n0") - 1)
    v1 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1")
    ) / (F.col("n1") - 1)
    z = (m1 - m0) / F.sqrt(v0 / F.col("n0") + v1 / F.col("n1"))
    return p.select(
        "n0",
        "n1",
        F.round(m0, 6).alias("mean0"),
        F.round(m1, 6).alias("mean1"),
        F.round(m1 - m0, 6).alias("diff"),
        F.round(z, 6).alias("z_welch"),
        (F.abs(z) >= 1.96).alias("significant"),
    )


A101_SQL = """
WITH g AS (
  SELECT user_id % 2 AS arm, count(*) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS s,
         SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS ss
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), p AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
         max(CASE WHEN arm = 1 THEN n END) AS n1,
         max(CASE WHEN arm = 0 THEN s END) AS s0,
         max(CASE WHEN arm = 1 THEN s END) AS s1,
         max(CASE WHEN arm = 0 THEN ss END) AS ss0,
         max(CASE WHEN arm = 1 THEN ss END) AS ss1
  FROM g
), m AS (
  SELECT n0, n1,
         CAST(s0 AS DOUBLE) / n0 AS m0,
         CAST(s1 AS DOUBLE) / n1 AS m1,
         (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0)
           / (n0 - 1) AS v0,
         (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
           / (n1 - 1) AS v1
  FROM p
)
SELECT n0, n1, round(m0, 6) AS mean0, round(m1, 6) AS mean1,
       round(m1 - m0, 6) AS diff,
       round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 6) AS z_welch,
       abs((m1 - m0) / sqrt(v0 / n0 + v1 / n1)) >= 1.96 AS significant
FROM m
"""


QUERIES["a101_ab_test"] = QuerySpec(a101_ab_test, A101_SQL)

# ---------------------------------------------------------------------------
# c41 -- partition health report (observability over daily ingest)
# ---------------------------------------------------------------------------


def c41_partition_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day ingest health: volume vs a trailing-7-day baseline, key
    null-rate, and freshness.  The trailing window runs over the DAILY
    AGGREGATE table (one row per partition day -- thousands of rows after
    years of history), never the event stream; the event scan is one
    groupBy.  ``row_ok`` flags days deviating >50% from their trailing
    mean -- the load-is-missing / double-load alarm.
    """
    from ._util import day_str, ts_str

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(day_str("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(
            F.when(F.col("user_id").isNull(), 1).otherwise(0)
        ).alias("n_null_user"),
        ts_str(F.max("ts")).alias("last_ts"),
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    trailing = F.avg("n_rows").over(w)
    out = daily.withColumn("trailing_avg", F.round(trailing, 6))
    dev = (F.col("n_rows") - trailing) / trailing
    return out.select(
        "day",
        "n_rows",
        "n_users",
        "n_null_user",
        "trailing_avg",
        F.round(dev, 6).alias("dev_pct"),
        F.coalesce(F.abs(dev) <= 0.5, F.lit(True)).alias("row_ok"),
        "last_ts",
    )


C41_SQL = """
WITH daily AS (
  SELECT strftime(ts, '%Y%m%d') AS day, count(*) AS n_rows,
         count(DISTINCT user_id) AS n_users,
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_user,
         strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
  FROM events GROUP BY 1
), t AS (
  SELECT *, avg(n_rows) OVER (ORDER BY day
              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trl
  FROM daily
)
SELECT day, n_rows, n_users, n_null_user,
       round(trl, 6) AS trailing_avg,
       round((n_rows - trl) / trl, 6) AS dev_pct,
       COALESCE(abs((n_rows - trl) / trl) <= 0.5, TRUE) AS row_ok,
       last_ts
FROM t
"""


QUERIES["c41_partition_health"] = QuerySpec(c41_partition_health, C41_SQL)

# ---------------------------------------------------------------------------
# c42 -- backfill plan: missing partition days folded into contiguous runs
# ---------------------------------------------------------------------------


def c42_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner: calendar anti-join finds missing partition days,
    gaps-and-islands folds them into contiguous (start, end) ranges -- one
    backfill job per range, not per day.  "Present" simulates failed
    ingests deterministically (day-of-month % 7 in {2, 5} missing); in
    production the present set comes from SHOW PARTITIONS (the c37
    machinery) and is O(partitions).  Every frame after the first agg is
    calendar-sized.
    """
    from ._util import day_str

    e = load_table(spark, sf_dir, "events")
    days = e.select(day_str("ts").alias("day")).distinct().select(
        F.to_date("day", "yyyyMMdd").alias("d")
    )
    present = days.where(~(F.dayofmonth("d") % 7).isin(2, 5))
    cal = (
        days.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    missing = cal.join(present, "d", "left_anti")
    # islands over the bounded missing-day table (calendar-sized)
    w = Window.orderBy("d")
    isl = missing.withColumn("grp", F.date_sub("d", F.row_number().over(w)))
    return (
        isl.groupBy("grp")
        .agg(
            F.date_format(F.min("d"), "yyyyMMdd").alias("backfill_start"),
            F.date_format(F.max("d"), "yyyyMMdd").alias("backfill_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("backfill_start", "backfill_end", "n_days")
    )


C42_SQL = """
WITH days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
), present AS (
  SELECT d FROM days WHERE NOT (EXTRACT(day FROM d) % 7 IN (2, 5))
), cal AS (
  SELECT unnest(generate_series(
    (SELECT min(d) FROM days), (SELECT max(d) FROM days),
    INTERVAL 1 DAY))::DATE AS d
), missing AS (
  SELECT c.d FROM cal c LEFT JOIN present p ON p.d = c.d WHERE p.d IS NULL
), isl AS (
  SELECT d, d - CAST(row_number() OVER (ORDER BY d) AS INT) AS grp
  FROM missing
)
SELECT strftime(min(d), '%Y%m%d') AS backfill_start,
       strftime(max(d), '%Y%m%d') AS backfill_end,
       count(*) AS n_days
FROM isl GROUP BY grp
"""


QUERIES["c42_backfill_plan"] = QuerySpec(c42_backfill_plan, C42_SQL)

# ---------------------------------------------------------------------------
# a102 -- dedup-detector evaluation: SimHash predictions vs exact Jaccard
# ---------------------------------------------------------------------------

_A102_N, _A102_J = 3, 0.5
_A102_BITS = 16


def a102_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 of equal-SimHash near-dup prediction against
    exact n-gram-Jaccard ground truth -- the detector-quality readout a
    curation team runs before trusting a cheap fingerprint at corpus
    scale.  Truth pairs come from the inverted-index Jaccard join
    (bounded by shared-gram candidates); predicted pairs from a
    fingerprint equality self-join (one 16-bit-key exchange).  Both pair
    sets are orders smaller than the corpus; the confusion counts are a
    full-outer join of the two.
    """
    from ..operators.dedup import ngram_jaccard_pairs, simhash

    d = load_table(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(d, n=_A102_N, threshold=_A102_J).select("a", "b")
    fp_tbl = simhash(d, bits=_A102_BITS)
    l = fp_tbl.select(F.col("doc_id").alias("a"), "simhash")
    r = fp_tbl.select(F.col("doc_id").alias("b"), "simhash")
    pred = (
        l.join(r, "simhash")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    joined = truth.withColumn("t", F.lit(1)).join(
        pred.withColumn("p", F.lit(1)), ["a", "b"], "full_outer"
    )
    agg = joined.agg(
        F.sum(F.coalesce("t", F.lit(0))).alias("n_truth"),
        F.sum(F.coalesce("p", F.lit(0))).alias("n_pred"),
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1).otherwise(0)
        ).alias("tp"),
    )
    prec = F.col("tp").cast("double") / F.col("n_pred")
    rec = F.col("tp").cast("double") / F.col("n_truth")
    return agg.select(
        "n_truth",
        "n_pred",
        "tp",
        (F.col("n_pred") - F.col("tp")).alias("fp"),
        (F.col("n_truth") - F.col("tp")).alias("fn"),
        F.round(prec, 6).alias("precision_"),
        F.round(rec, 6).alias("recall_"),
        F.round(2 * prec * rec / (prec + rec), 6).alias("f1"),
    )


def _a102_sql() -> str:
    votes = []
    for i in range(_A102_BITS):
        pos, shift = i // 4 + 1, i % 4
        nib = f"ascii(substr(h, {pos}, 1))"
        val = f"(CASE WHEN {nib} >= 97 THEN {nib} - 87 ELSE {nib} - 48 END)"
        votes.append(f"SUM((({val} >> {shift}) & 1) * 2 - 1) AS v_{i}")
    votes_sql = ",\n         ".join(votes)
    fpx = " + ".join(
        f"(CASE WHEN v_{i} >= 0 THEN {2**i} ELSE 0 END)" for i in range(_A102_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(t) - {_A102_N - 1}, 1)),
                   i -> array_to_string(t[i:i+{_A102_N - 1}], ' ')))) AS gram
  FROM toks
), cands AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM grams l JOIN grams r ON l.gram = r.gram AND l.doc_id < r.doc_id
), counts AS (
  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
), inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cands c
  JOIN grams ga ON ga.doc_id = c.a
  JOIN grams gb ON gb.doc_id = c.b AND gb.gram = ga.gram
  GROUP BY c.a, c.b
), truth AS (
  SELECT a, b FROM (
    SELECT i.a, i.b, CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.a
    JOIN counts cb ON cb.doc_id = i.b
  ) WHERE jaccard >= {_A102_J}
), wtoks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, md5(tok) AS h FROM wtoks
), sv AS (
  SELECT doc_id,
         {votes_sql}
  FROM hashed GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({fpx} AS BIGINT) AS simhash FROM sv
), pred AS (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM fp l JOIN fp r ON l.simhash = r.simhash AND l.doc_id < r.doc_id
), j AS (
  SELECT COALESCE(t.a, p.a) AS a, COALESCE(t.b, p.b) AS b,
         CASE WHEN t.a IS NULL THEN 0 ELSE 1 END AS t,
         CASE WHEN p.a IS NULL THEN 0 ELSE 1 END AS p
  FROM truth t FULL OUTER JOIN pred p ON t.a = p.a AND t.b = p.b
), agg AS (
  SELECT CAST(sum(t) AS BIGINT) AS n_truth, CAST(sum(p) AS BIGINT) AS n_pred,
         CAST(sum(t * p) AS BIGINT) AS tp
  FROM j
)
SELECT n_truth, n_pred, tp,
       n_pred - tp AS fp, n_truth - tp AS fn,
       round(CAST(tp AS DOUBLE) / n_pred, 6) AS precision_,
       round(CAST(tp AS DOUBLE) / n_truth, 6) AS recall_,
       round(2 * (CAST(tp AS DOUBLE) / n_pred) * (CAST(tp AS DOUBLE) / n_truth)
             / (CAST(tp AS DOUBLE) / n_pred + CAST(tp AS DOUBLE) / n_truth), 6)
         AS f1
FROM agg
"""


QUERIES["a102_dedup_eval"] = QuerySpec(a102_dedup_eval, _a102_sql())

# ---------------------------------------------------------------------------
# s12 -- streaming count-min maintenance with a FULL oracle (CMS is linear,
# so per-batch counter partials sum to exactly the global sketch -- the
# only streaming-sketch query whose estimates are bit-deterministic)
# ---------------------------------------------------------------------------


def s12_stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.sketches import cms_estimate
    from ..streaming.jobs import stream_cms_partials

    ev = load_table(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="ods_spark_s12_")
    try:
        src = f"{scratch}/src"
        ev.select("event_id", "user_id").repartition(2).write.parquet(src)
        stream = (
            spark.readStream.schema("event_id long, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        store = f"{scratch}/partials"
        q = (
            stream_cms_partials(stream, store, "user_id")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .start()
        )
        q.awaitTermination()
        merged = (
            spark.read.parquet(store)
            .groupBy("j", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
        top = counts.orderBy(
            F.col("exact_n").desc(), F.col("user_id").asc()
        ).limit(_A95_K)
        w = Window.orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        top = top.withColumn("pos", F.row_number().over(w))
        est = cms_estimate(top, merged, "user_id", depth=_CMS_DEPTH)
        out = est.select(
            "user_id",
            "pos",
            "exact_n",
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias(
                "overestimate"
            ),
            (F.col("cms_est") >= F.col("exact_n")).alias("cms_ok"),
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# the stream-maintained sketch equals the batch-built one exactly (linear
# merge), so s12 shares a95's full oracle verbatim
QUERIES["s12_stream_cms_topk"] = QuerySpec(s12_stream_cms_topk, _a95_sql())

# ---------------------------------------------------------------------------
# a103 -- per-user sequential debounce (applyInPandas; recursive-CTE oracle)
# ---------------------------------------------------------------------------

_A103_GAP_US = 7 * 24 * 3600 * 1_000_000  # re-arm window: 7 days


def a103_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-suppression dedup: keep an event iff >= 7 days have passed
    since the user's last KEPT event.  The keep decision depends on the
    last kept anchor (not the previous event), which no window frame or
    session_window expresses -- the documented applyInPandas case
    (``operators/pandas_ops.debounce``).  The oracle replays the same
    scan as a DuckDB recursive CTE over per-user row_numbers, so even
    this sequential Python operator gets exact cross-engine verification.
    """
    from ..operators.pandas_ops import debounce

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    d = debounce(base, "user_id", "ts_us", "event_id", _A103_GAP_US)
    return d.select("user_id", "event_id", "kept")


A103_SQL = f"""
WITH RECURSIVE e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), r AS (
  SELECT user_id, rn, event_id, ts_us, TRUE AS kept, ts_us AS last_kept
  FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.event_id, e.ts_us,
         e.ts_us - r.last_kept >= {_A103_GAP_US} AS kept,
         CASE WHEN e.ts_us - r.last_kept >= {_A103_GAP_US}
              THEN e.ts_us ELSE r.last_kept END AS last_kept
  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, event_id, kept FROM r
"""


QUERIES["a103_debounce"] = QuerySpec(a103_debounce, A103_SQL)

# ---------------------------------------------------------------------------
# c43 -- multi-granularity EXACT distinct from ONE set of shared bitmap
# partials (the rollup-reuse play: one event scan serves three levels)
# ---------------------------------------------------------------------------


def c43_bitmap_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users by event_type, by day, and in total -- all three
    OR-merged from the SAME (event_type, day, bucket) bitmap partials, so
    the 100 TB event stream is scanned exactly once and each additional
    rollup level costs only a KB-scale re-merge of stored partials.  The
    c28/a87/a93 partial-reuse pattern generalized across granularities;
    bitmap partials keep it oracle-exact (no sketch tolerance).
    """
    from ..operators.sketches import bitmap_distinct_partials, merge_bitmap_distinct
    from ._util import day_str

    e = load_table(spark, sf_dir, "events").withColumn("day", day_str("ts"))
    # eager checkpoint = the "store partials" step: the event scan runs
    # exactly once, and the three rollup merges below read the KB-scale
    # materialized partials (in production they read the warehouse table)
    partials = pin_frame(
        bitmap_distinct_partials(e, ["event_type"], "day", "user_id"),
        eager=True,
    )

    by_type = merge_bitmap_distinct(partials, ["event_type"]).select(
        F.lit("by_type").alias("level"),
        F.col("event_type").alias("key"),
        "distinct_count",
    )
    by_day = merge_bitmap_distinct(partials, ["day"]).select(
        F.lit("by_day").alias("level"),
        F.col("day").alias("key"),
        "distinct_count",
    )
    total = merge_bitmap_distinct(partials, []).select(
        F.lit("total").alias("level"),
        F.lit("all").alias("key"),
        "distinct_count",
    )
    return by_type.unionByName(by_day).unionByName(total)


C43_SQL = """
SELECT 'by_type' AS level, event_type AS key,
       count(DISTINCT user_id) AS distinct_count
FROM events GROUP BY event_type
UNION ALL
SELECT 'by_day' AS level, strftime(ts, '%Y%m%d') AS key,
       count(DISTINCT user_id) AS distinct_count
FROM events GROUP BY 2
UNION ALL
SELECT 'total' AS level, 'all' AS key, count(DISTINCT user_id) AS distinct_count
FROM events
"""


QUERIES["c43_bitmap_cube"] = QuerySpec(c43_bitmap_cube, C43_SQL)


# the remaining sections live in round5b_b (round-10 split, VERDICT r9 #7);
# merging here keeps the registry order identical (the cut is a suffix)
from .round5b_b import (  # noqa: E402,F401
    a104_prefix_filter_join,
    A104_SQL,
    a105_interpolate,
    A105_SQL,
    c44_time_travel,
    C44_SQL,
    c45_pit_enrich,
    C45_SQL,
    c46_scd3_update,
    C46_SQL,
    a106_rolling_corr,
    A106_SQL,
    _A107_CAP,
    a107_sequence_pattern,
    A107_SQL,
    a108_weighted_median,
    A108_SQL,
    c47_orphan_repair,
    C47_SQL,
    a109_train_scaler,
    A109_SQL,
    c48_cdc_compact,
    C48_SQL,
)
from .round5b_b import QUERIES as _QUERIES_B  # noqa: E402

QUERIES.update(_QUERIES_B)
