"""Round-5 extension queries: attribution, normalization, sliding windows,
skew diagnostics, contamination scoring, label aggregation, robust stats,
and rolling ingest dedup.

Each adds a shape a large-scale training-data pipeline needs that earlier
registry entries don't exercise:

- marketing-style last-touch attribution (windowed as-of without a join),
- per-group quantile normalization (score calibration),
- trailing-window exact distinct (the sliding sibling of a87's cumulative
  bitmaps),
- key-skew diagnostics (the shuffle-planning report that decides salting),
- benchmark-contamination scoring (n-gram overlap fraction, the "13-gram
  hit rate" decontamination metric),
- annotator majority-vote label aggregation with agreement rates,
- median-absolute-deviation robust outliers (reusing the distributed
  exact-percentile machinery twice),
- rolling-window ingest dedup (drop a doc if its digest appeared in the
  trailing N days).

All stay JVM-side and follow the oracle-parity rules in ``_util``:
decimal-exact float sums, integer day/microsecond arithmetic for time
comparisons, string-formatted timestamps, and a total-order tie-break on
every window / top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import day_str, load_table, ts_str

QUERIES: dict[str, QuerySpec] = {}

# ---------------------------------------------------------------------------
# a91 -- last-touch attribution: each purchase attributes to the user's most
# recent click within a 30-minute lookback.  The classic formulation is an
# as-of join (purchases x clicks); this is the cheaper single-pass shape: one
# window over the combined stream carries the last-click struct forward, so
# there is NO join at all -- one (user_id) exchange for any data size.
# Time math is exact integer microseconds (epoch_us both engines); the
# truncating second/day variants differ across engines on sub-unit values.
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 30 * 60 * 1_000_000  # 30-minute lookback


def a91_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(
            F.col("event_type") == "click",
            F.struct(F.col("ts").alias("cts"), F.col("event_id").alias("cid")),
        ),
        ignorenulls=True,
    ).over(w)
    s = e.select("event_id", "user_id", "ts", "event_type").withColumn(
        "__lc", last_click
    )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("__lc.cts"))
    in_window = F.col("__lc").isNotNull() & (gap_us <= F.lit(_ATTR_WINDOW_US))
    return s.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        ts_str("ts").alias("purchase_ts"),
        F.when(in_window, F.col("__lc.cid")).alias("click_id"),
        F.when(in_window, gap_us).alias("gap_us"),
        F.coalesce(in_window, F.lit(False)).alias("attributed"),
    )


A91_SQL = f"""
WITH s AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click'
                         THEN struct_pack(cts := ts, cid := event_id) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc
  FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       CASE WHEN lc IS NOT NULL
             AND epoch_us(ts) - epoch_us(lc.cts) <= {_ATTR_WINDOW_US}
            THEN lc.cid END AS click_id,
       CASE WHEN lc IS NOT NULL
             AND epoch_us(ts) - epoch_us(lc.cts) <= {_ATTR_WINDOW_US}
            THEN epoch_us(ts) - epoch_us(lc.cts) END AS gap_us,
       coalesce(lc IS NOT NULL
                AND epoch_us(ts) - epoch_us(lc.cts) <= {_ATTR_WINDOW_US},
                false) AS attributed
FROM s WHERE event_type = 'purchase'
"""

QUERIES["a91_attribution"] = QuerySpec(a91_attribution, A91_SQL)

# ---------------------------------------------------------------------------
# a92 -- per-group quantile normalization (score calibration): each event's
# value maps to its percent_rank within its event_type, then rolls up to a
# per-user mean calibrated score.  percent_rank is an exact rational
# ((rank-1)/(n-1)) -> engine-identical doubles (the a22 convention); the
# per-user mean uses the decimal-exact sum so shuffle order can't flip the
# last bit.  One exchange for the window, one for the rollup.
# ---------------------------------------------------------------------------


def a92_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    nq = e.select(
        "user_id",
        F.round(F.percent_rank().over(w), 6).alias("nq"),
    )
    return nq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        # cast the EXACT decimal sum to double BEFORE dividing: decimal
        # division scale/rounding rules differ across engines, but double
        # division of identical operands is identical IEEE
        F.round(
            F.sum(F.col("nq").cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quantile"),
    )


A92_SQL = """
WITH nq AS (
  SELECT user_id,
         round(percent_rank() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id), 6) AS nq
  FROM events
)
SELECT user_id, count(*) AS n_events,
       round(CAST(SUM(CAST(nq AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6)
         AS avg_quantile
FROM nq GROUP BY user_id
"""

QUERIES["a92_quantile_normalize"] = QuerySpec(
    a92_quantile_normalize, A92_SQL
)

# ---------------------------------------------------------------------------
# a93 -- trailing-window exact distinct (the sliding sibling of a87): per
# day, distinct users over the trailing 7 days.  Naively each day re-scans
# 7 days of events (7x read amplification at 100 TB); here events aggregate
# ONCE into per-day bitmap partials, and the trailing merge joins bitmap
# ROWS (days x buckets) against a broadcast day list -- the re-read is of
# kilobyte bitmaps, not the corpus.
# ---------------------------------------------------------------------------

_SLIDE_DAYS = 7


def a93_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bitmap_distinct_partials

    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    partials = bitmap_distinct_partials(e, [], "day", "user_id")
    days = partials.select(F.col("day").alias("as_of")).distinct()
    tri = partials.join(
        F.broadcast(days),
        F.datediff(F.col("as_of"), F.col("day")).between(0, _SLIDE_DAYS - 1),
    )
    merged = tri.groupBy("as_of", "bucket").agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).alias("n_bits")
    )
    return (
        merged.groupBy("as_of")
        .agg(F.sum("n_bits").alias("trailing_users"))
        .select(day_str("as_of").alias("day"), "trailing_users")
    )


A93_SQL = f"""
WITH days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS as_of FROM events
)
SELECT strftime(d.as_of, '%Y%m%d') AS day,
       count(DISTINCT e.user_id) AS trailing_users
FROM days d JOIN events e
  ON date_diff('day', CAST(e.ts AS DATE), d.as_of)
     BETWEEN 0 AND {_SLIDE_DAYS - 1}
GROUP BY d.as_of
"""

QUERIES["a93_sliding_distinct"] = QuerySpec(a93_sliding_distinct, A93_SQL)

# ---------------------------------------------------------------------------
# a94 -- key-skew report: the shuffle-planning diagnostic that decides
# whether a key needs salting (operators/skew.py) before a 100 TB
# groupBy/join.  Per candidate key column: row count, distinct keys, the
# hottest key and its count, mean per-key count, and the skew ratio
# (max/mean -- >100x means AQE alone won't save the join).  Each column is
# one digest-sized groupBy; the per-column stats frames are single rows.
# All metrics are exact integers or ratios of exact integers.
# ---------------------------------------------------------------------------


def _skew_stats(df: DataFrame, col: str, label: str) -> DataFrame:
    counts = df.groupBy(F.col(col).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = counts.agg(
        F.lit(label).alias("key_col"),
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    top = (
        counts.join(
            F.broadcast(stats.select("max_cnt")),
            counts["cnt"] == F.col("max_cnt"),
        )
        .agg(F.min("k").alias("top_key"))
    )
    return (
        stats.crossJoin(F.broadcast(top))
        .withColumn(
            "mean_cnt",
            F.round(F.col("n_rows").cast("double") / F.col("n_keys"), 6),
        )
        .withColumn(
            "skew_ratio",
            F.round(F.col("max_cnt") / F.col("mean_cnt"), 4),
        )
        .select(
            "key_col", "n_rows", "n_keys", "max_cnt", "top_key",
            "mean_cnt", "skew_ratio",
        )
    )


def a94_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    out = _skew_stats(e, "user_id", "events.user_id")
    out = out.unionByName(_skew_stats(e, "event_type", "events.event_type"))
    return out.unionByName(_skew_stats(o, "o_custkey", "orders.o_custkey"))


def _skew_sql_one(table: str, col: str) -> str:
    return f"""
SELECT '{table}.{col}' AS key_col, n_rows, n_keys, max_cnt,
       (SELECT min(CAST({col} AS VARCHAR)) FROM {table}
        GROUP BY {col} HAVING count(*) = max_cnt) AS top_key,
       round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS mean_cnt,
       round(max_cnt / round(CAST(n_rows AS DOUBLE) / n_keys, 6), 4)
         AS skew_ratio
FROM (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
         max(cnt) AS max_cnt
  FROM (SELECT count(*) AS cnt FROM {table} GROUP BY {col})
)"""


A94_SQL = (
    _skew_sql_one("events", "user_id")
    + "\nUNION ALL\n"
    + _skew_sql_one("events", "event_type")
    + "\nUNION ALL\n"
    + _skew_sql_one("orders", "o_custkey")
)

QUERIES["a94_key_skew_report"] = QuerySpec(a94_key_skew_report, A94_SQL)

# ---------------------------------------------------------------------------
# a96 -- benchmark-contamination scoring: the GPT-3-style "13-gram overlap"
# decontamination metric, at gram size 8.  Docs whose id = 0 (mod 100) play
# the held-out benchmark; every other doc reports what fraction of its
# distinct 8-grams appears anywhere in the benchmark.  a45 drops exact/
# near matches; this SCORES partial overlap so a pipeline can threshold.
# Scale shape: the benchmark gram set is corpus-independent and small ->
# broadcast left-semi-style join against the doc gram stream; ints to the
# final division.
# ---------------------------------------------------------------------------

_CONTAM_N = 8


def a96_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    bench_grams = (
        shingles(d.where(F.col("doc_id") % 100 == 0), n=_CONTAM_N)
        .select("gram")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    g = shingles(d.where(F.col("doc_id") % 100 != 0), n=_CONTAM_N)
    scored = g.join(F.broadcast(bench_grams), "gram", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_hit") / F.col("n_grams"), 6),
        )
    )


A96_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(t) - {_CONTAM_N - 1}, 1)),
                   i -> array_to_string(t[i:i+{_CONTAM_N - 1}], ' ')))) AS gram
  FROM toks
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 100 = 0
)
SELECT g.doc_id, count(*) AS n_grams,
       CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       round(CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) / count(*), 6) AS contamination
FROM grams g LEFT JOIN bench b USING (gram)
WHERE g.doc_id % 100 != 0
GROUP BY g.doc_id
"""

QUERIES["a96_contamination_score"] = QuerySpec(
    a96_contamination_score, A96_SQL
)

# ---------------------------------------------------------------------------
# a97 -- annotator majority-vote label aggregation: the label-quality rollup
# of a human/model annotation pass.  Votes derive deterministically from
# events (item = event_id mod 1000, one vote per event, label =
# event_type); per item: total votes, majority label (ties -> smallest
# label, via the min-struct argmax trick), agreement rate, distinct labels.
# Two grouped aggregations, both map-side combinable; no windows, no joins.
# ---------------------------------------------------------------------------


def a97_label_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    votes = e.select(
        (F.col("event_id") % 1000).alias("item_id"),
        F.col("event_type").alias("label"),
    )
    counts = votes.groupBy("item_id", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # min(struct(-cnt, label)): -cnt ascending = count descending, ties
    # break to the lexicographically smallest label -- a total order, so
    # the majority pick is engine-identical
    return counts.groupBy("item_id").agg(
        F.sum("cnt").alias("n_votes"),
        F.count(F.lit(1)).alias("n_labels"),
        F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label")))[
            "label"
        ].alias("majority_label"),
        F.max("cnt").alias("top_cnt"),
    ).withColumn(
        "agreement", F.round(F.col("top_cnt") / F.col("n_votes"), 6)
    )


A97_SQL = """
WITH counts AS (
  SELECT event_id % 1000 AS item_id, event_type AS label, count(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT item_id,
       CAST(SUM(cnt) AS BIGINT) AS n_votes,
       count(*) AS n_labels,
       min(struct_pack(nc := -cnt, label := label)).label AS majority_label,
       max(cnt) AS top_cnt,
       round(max(cnt) / CAST(SUM(cnt) AS BIGINT), 6) AS agreement
FROM counts GROUP BY item_id
"""

QUERIES["a97_label_majority"] = QuerySpec(a97_label_majority, A97_SQL)

# ---------------------------------------------------------------------------
# a98 -- robust outlier detection via median absolute deviation: per
# event_type, med = exact median(value), mad = exact median(|value - med|),
# outliers = rows beyond 3*MAD.  Mean/stddev z-scores (a60) are themselves
# dragged by the outliers they hunt; MAD has a 50% breakdown point.  Both
# medians ride operators/ordering.grouped_exact_percentiles -- the
# distributed exact-quantile construction (largest task ~|group|/256) --
# and interpolate identically to quantile_cont, so the oracle is exact.
# ---------------------------------------------------------------------------


def a98_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordering import grouped_exact_percentiles

    e = load_table(spark, sf_dir, "events")
    med = grouped_exact_percentiles(
        e, ["event_type"], "value", [0.5], small_groups=True
    ).select(
        "event_type", F.col("value").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = grouped_exact_percentiles(
        dev, ["event_type"], "absdev", [0.5], small_groups=True
    ).select("event_type", F.col("value").alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("absdev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
        )
    )


A98_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS absdev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(absdev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, count(*) AS n_rows,
       CAST(SUM(CASE WHEN d.absdev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(any_value(d.med), 6) AS med,
       round(any_value(m.mad), 6) AS mad
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""

QUERIES["a98_mad_outliers"] = QuerySpec(a98_mad_outliers, A98_SQL)

# ---------------------------------------------------------------------------
# c39 -- rolling-window ingest dedup accounting: docs arrive on a synthetic
# ingest day (doc_id mod 10); a doc is kept iff it is the first arrival of
# its text digest that day AND the digest did not appear in the trailing 3
# days.  The daily-ingest sibling of c10: history checks join 16-byte
# digests (the distinct (digest, day) table), never document bodies, so
# checking a day's batch against the trailing window ships kilobytes per
# million docs.  Output: per-day admission accounting.
# ---------------------------------------------------------------------------

_C39_WINDOW = 3  # trailing days a digest stays "seen"


def c39_rolling_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 10).alias("day"),
        F.md5(F.col("text")).alias("h"),
    )
    w = Window.partitionBy("h", "day").orderBy("doc_id")
    arrivals = d.withColumn("rn", F.row_number().over(w))
    hd = d.select("h", "day").distinct()
    a, b = hd.alias("a"), hd.alias("b")
    seen = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.day") - F.col("b.day")).between(1, _C39_WINDOW),
            "left_semi",
        )
        .select(F.col("h"), F.col("day"), F.lit(True).alias("recent"))
    )
    flagged = arrivals.join(seen, ["h", "day"], "left")
    return flagged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_arrivals"),
        F.sum(
            F.when(
                (F.col("rn") == 1) & F.col("recent").isNull(), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_same_day"),
        F.sum(
            F.when((F.col("rn") == 1) & F.col("recent").isNotNull(), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_dup_window"),
    )


C39_SQL = f"""
WITH d AS (
  SELECT doc_id, doc_id % 10 AS day, md5(text) AS h FROM documents
), arrivals AS (
  SELECT doc_id, day, h,
         row_number() OVER (PARTITION BY h, day ORDER BY doc_id) AS rn
  FROM d
), hd AS (
  SELECT DISTINCT h, day FROM d
), seen AS (
  SELECT a.h, a.day, true AS recent
  FROM hd a WHERE EXISTS (
    SELECT 1 FROM hd b
    WHERE b.h = a.h AND a.day - b.day BETWEEN 1 AND {_C39_WINDOW}
  )
)
SELECT ar.day, count(*) AS n_arrivals,
       CAST(SUM(CASE WHEN ar.rn = 1 AND s.recent IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN ar.rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_same_day,
       CAST(SUM(CASE WHEN ar.rn = 1 AND s.recent IS NOT NULL THEN 1 ELSE 0
                END) AS BIGINT) AS n_dup_window
FROM arrivals ar LEFT JOIN seen s ON ar.h = s.h AND ar.day = s.day
GROUP BY ar.day
"""

QUERIES["c39_rolling_ingest_dedup"] = QuerySpec(
    c39_rolling_ingest_dedup, C39_SQL
)

# ---------------------------------------------------------------------------
# s11 -- streaming top-k maintenance: per-micro-batch grouped-count partials
# (streaming/jobs.stream_count_partials, effectively-once via per-batch_id
# overwrite) merge into exact running counts, and the top-3 users per
# event_type fall out of a WindowGroupLimit over the merged frame -- no
# history re-scan, counts sum exactly, so unlike most streaming-derived
# metrics this one carries a FULL oracle.
# ---------------------------------------------------------------------------

_S11_K = 3


def s11_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.jobs import stream_count_partials

    ev = load_table(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="ods_spark_s11_")
    try:
        src = f"{scratch}/src"
        ev.select("event_id", "user_id", "event_type").repartition(2)\
            .write.parquet(src)
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string"
        ).option("maxFilesPerTrigger", "1").parquet(src)
        store = f"{scratch}/partials"
        q = (
            stream_count_partials(stream, store, ["event_type", "user_id"])
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .start()
        )
        q.awaitTermination()
        merged = (
            spark.read.parquet(store)
            .groupBy("event_type", "user_id")
            .agg(F.sum("cnt").alias("n_events"))
        )
        w = Window.partitionBy("event_type").orderBy(
            F.col("n_events").desc(), F.col("user_id").asc()
        )
        out = (
            merged.withColumn("pos", F.row_number().over(w))
            .where(F.col("pos") <= _S11_K)
            .select("event_type", "pos", "user_id", "n_events")
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


S11_SQL = f"""
WITH counts AS (
  SELECT event_type, user_id, count(*) AS n_events
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, user_id, n_events,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n_events DESC, user_id ASC) AS pos
  FROM counts
)
SELECT event_type, pos, user_id, n_events
FROM ranked WHERE pos <= {_S11_K}
"""

QUERIES["s11_stream_topk"] = QuerySpec(s11_stream_topk, S11_SQL)
