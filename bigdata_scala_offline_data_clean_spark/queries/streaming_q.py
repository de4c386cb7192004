"""Streaming queries: Structured Streaming run over the testdata with an
``availableNow`` trigger -- identical semantics to a continuous run, bounded
execution, so the DuckDB oracle can check the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import load_table, ts_str


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet with ns->timestamp handling.

    The file stream source requires a *directory*; the testdata ships single
    files, so a scratch dir with a symlink stands in for the drop directory
    a production stream would watch.
    """
    import hashlib
    import os
    import tempfile

    batch = load_table(spark, sf_dir, "events")  # pins nanosAsLong + UTC
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    drop_dir = os.path.join(
        tempfile.gettempdir(),
        f"stream_src_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    os.makedirs(drop_dir, exist_ok=True)
    link = os.path.join(drop_dir, "events.parquet")
    if not os.path.exists(link):
        try:
            os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
        except FileExistsError:  # concurrent query setup
            pass
    stream = spark.readStream.schema(raw_schema).parquet(drop_dir)
    for c, t in stream.dtypes:
        if c == "ts" and t == "bigint":  # TIMESTAMP(NANOS) vintage
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif t == "timestamp_ntz":  # un-flagged timestamp[us] vintage:
            # watermarks require TIMESTAMP_LTZ; UTC session -> same wall clock
            stream = stream.withColumn(c, F.col(c).cast("timestamp"))
    return stream.select(*batch.columns)


# ---------------------------------------------------------------------------
# s01 -- watermarked tumbling-window aggregation (the canonical streaming
# rollup; availableNow => all data in-window, matching the batch GROUP BY)
# ---------------------------------------------------------------------------


def s01_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import run_available_now, stream_windowed_counts

    ev = _events_stream(spark, sf_dir)
    counts = stream_windowed_counts(ev, "ts", "event_type", "1 hour", "1 hour")
    out = run_available_now(counts, spark)
    return out.select(
        ts_str("window_start").alias("window_start"),
        ts_str("window_end").alias("window_end"),
        "event_type",
        "n_events",
    )


S01_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2, 3
"""

# ---------------------------------------------------------------------------
# s02 -- streaming dedup (watermarked dropDuplicates).  Which row survives
# per key is arrival-order-dependent, so only the key set is checked.
# ---------------------------------------------------------------------------


def s02_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import run_available_now, stream_dedup

    ev = _events_stream(spark, sf_dir)
    deduped = stream_dedup(ev, "user_id", "ts", "1 hour")
    return run_available_now(deduped, spark).select("user_id")


S02_SQL = "SELECT DISTINCT user_id FROM events"


# ---------------------------------------------------------------------------
# s03 -- native session-window aggregation.  Spark merges events closer than
# the gap; session_end = last event + gap.  The oracle reproduces this with
# the batch lag+cumsum sessionizer (sub-second semantics: session_window
# compares full-precision timestamps, so the oracle uses epoch microseconds).
# ---------------------------------------------------------------------------


def s03_stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import run_available_now, stream_session_counts

    ev = _events_stream(spark, sf_dir)
    sessions = stream_session_counts(ev, "ts", "user_id", "30 minutes", "1 hour")
    out = run_available_now(sessions, spark)
    return out.select(
        "user_id",
        ts_str("session_start").alias("session_start"),
        ts_str("session_end").alias("session_end"),
        "n_events",
    )


S03_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# s04 -- stream-stream interval join: click attribution (clicks within 15
# minutes after a view by the same user).  Two independent file-source
# streams; watermarks + two-sided time bound let Spark prune join state.
# ---------------------------------------------------------------------------


def s04_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import run_available_now, stream_stream_join

    views = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id"))
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id"))
    )
    joined = stream_stream_join(
        views, clicks, "user_id", "view_ts", "click_ts", "1 hour", "15 minutes"
    )
    return run_available_now(joined, spark).select(
        "user_id",
        "view_id",
        "click_id",
        ts_str("view_ts").alias("view_ts"),
        ts_str("click_ts").alias("click_ts"),
    )


S04_SQL = """
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 15 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


# ---------------------------------------------------------------------------
# s05 -- SLIDING window aggregation (1h window, 30min slide): every event
# lands in two overlapping windows.  The oracle derives each event's two
# window starts arithmetically (floor to the slide grid, and that minus one
# slide) and unions them.
# ---------------------------------------------------------------------------


def s05_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import run_available_now

    ev = _events_stream(spark, sf_dir)
    counts = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window(F.col("ts"), "1 hour", "30 minutes"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    out = run_available_now(counts, spark)
    return out.select(
        ts_str("window_start").alias("window_start"), "event_type", "n_events"
    )


S05_SQL = """
WITH starts AS (
  SELECT event_type, to_timestamp(floor(epoch(ts) / 1800) * 1800) AS w FROM events
  UNION ALL
  SELECT event_type,
         to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) FROM events
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events
FROM starts
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# s06 -- custom stateful operator (applyInPandasWithState): per-user
# running totals in integer cents (floor(value*100) is the identical IEEE
# double op in both engines, so the oracle is exact).
# ---------------------------------------------------------------------------


def s06_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import run_available_now, stream_stateful_counter

    ev = _events_stream(spark, sf_dir).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    totals = stream_stateful_counter(ev, "user_id", "cents", "ts")
    out = run_available_now(totals, spark)
    return out.select(
        F.col("key").alias("user_id"),
        "n_events",
        F.col("total").cast("long").alias("total_cents"),
    )


S06_SQL = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# s07 -- continuous SCD-1 via foreachBatch: events split across files,
# one micro-batch per file (maxFilesPerTrigger=1), each batch merged into
# the warehouse dimension.  Final state is merge-order-independent (the
# window keeps the max order key), so the batch oracle is exact.
# ---------------------------------------------------------------------------


def s07_stream_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.catalog import Warehouse
    from ..streaming.jobs import stream_upsert_scd1

    ev = load_table(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="ods_spark_s07_")
    try:
        src = f"{scratch}/src"
        ev.select(
            "event_id", "user_id", "event_type", "value", ts_str("ts").alias("ts")
        ).repartition(4).write.parquet(src)
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string, value double, ts string"
        ).option("maxFilesPerTrigger", "1").parquet(src)
        wh = Warehouse(spark, f"{scratch}/wh")
        writer = stream_upsert_scd1(
            stream,
            wh,
            "dwd",
            "dim_user_last_event",
            key="user_id",
            order_col="event_id",
            ts=F.to_timestamp(F.lit("2022-10-01 00:00:00")),
            etl_date="20221001",
        )
        q = writer.trigger(availableNow=True).option(
            "checkpointLocation", f"{scratch}/ckpt"
        ).start()
        q.awaitTermination()
        back = wh.table("dwd", "dim_user_last_event").select(
            "user_id", "event_id", "event_type", "value", "ts"
        )
        return pin_frame(back, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


S07_SQL = """
SELECT user_id, event_id, event_type, value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# s08 -- stream-static enrichment join: decorate the events stream with the
# customer dimension (broadcast per micro-batch, stateless).  The streaming
# analog of the archetype-D star join.
# ---------------------------------------------------------------------------


def s08_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import run_available_now, stream_enrich

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = stream_enrich(
        ev, cust, on=["user_id"], dim_cols=["user_id", "c_nationkey"]
    )
    out = run_available_now(enriched, spark)
    return out.select("event_id", "user_id", "c_nationkey", "event_type")


S08_SQL = """
SELECT e.event_id, e.user_id, c.c_nationkey, e.event_type
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
"""


# ---------------------------------------------------------------------------
# s09 -- continuous sketch maintenance: per-micro-batch HLL/KLL partials
# appended to a parquet store (foreachBatch, exactly-once via the stream
# checkpoint), merged on read for the rollup.  The streaming face of c28;
# estimates are engine-specific, so exact companions + error-bound
# booleans travel in the result (oracle asserts TRUE).
# ---------------------------------------------------------------------------


def s09_stream_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.sketches import merge_sketch_rollup
    from ..streaming.jobs import stream_sketch_partials

    ev = load_table(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="ods_spark_s09_")
    try:
        src = f"{scratch}/src"
        ev.select("event_id", "user_id", "event_type", "value").repartition(
            4
        ).write.parquet(src)
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string, value double"
        ).option("maxFilesPerTrigger", "1").parquet(src)
        store = f"{scratch}/partials"
        writer = stream_sketch_partials(
            stream, store, ["event_type"], "user_id", "value"
        )
        q = writer.trigger(availableNow=True).option(
            "checkpointLocation", f"{scratch}/ckpt"
        ).start()
        q.awaitTermination()
        est = merge_sketch_rollup(spark.read.parquet(store), ["event_type"])
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        kll_rank = (
            ev.join(
                F.broadcast(est.select("event_type", "p50_est")), "event_type"
            )
            .groupBy("event_type")
            .agg(
                (
                    F.sum(
                        F.when(F.col("value") <= F.col("p50_est"), 1).otherwise(0)
                    )
                    / F.count(F.lit(1))
                ).alias("__rank")
            )
        )
        out = (
            est.join(exact, "event_type")
            .join(F.broadcast(kll_rank), "event_type")
            .select(
                "event_type",
                "exact_users",
                # n_rows summed from the streamed partials MUST equal the
                # batch count -- the exactly-once evidence
                (F.col("n_rows") == F.col("n_events")).alias("counts_match"),
                (
                    F.abs(F.col("distinct_est").cast("double") - F.col("exact_users"))
                    / F.col("exact_users")
                    <= 0.05
                ).alias("hll_ok"),
                ((F.col("__rank") >= 0.45) & (F.col("__rank") <= 0.55)).alias(
                    "kll_ok"
                ),
            )
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


S09_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       true AS counts_match, true AS hll_ok, true AS kll_ok
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# s10 -- continuous EXACT distinct counts: per-micro-batch bitmap partials
# appended via foreachBatch (exactly-once under the stream checkpoint),
# OR-merged on read.  Unlike s09's HLL/KLL tolerance booleans, the result
# is hash-exact against plain COUNT(DISTINCT) -- streaming maintenance
# with a full-strength oracle.
# ---------------------------------------------------------------------------


def s10_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.sketches import merge_bitmap_distinct
    from ..streaming.jobs import stream_bitmap_partials

    ev = load_table(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="ods_spark_s10_")
    try:
        src = f"{scratch}/src"
        ev.select("event_id", "user_id", "event_type").repartition(2)\
            .write.parquet(src)
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string"
        ).option("maxFilesPerTrigger", "1").parquet(src)
        store = f"{scratch}/partials"
        q = (
            stream_bitmap_partials(stream, store, ["event_type"], "user_id")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .start()
        )
        q.awaitTermination()
        out = merge_bitmap_distinct(spark.read.parquet(store), ["event_type"])
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


S10_SQL = """
SELECT event_type, count(DISTINCT user_id) AS distinct_count
FROM events GROUP BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "s01_stream_window_counts": QuerySpec(s01_stream_window_counts, S01_SQL),
    "s02_stream_dedup_keys": QuerySpec(s02_stream_dedup_keys, S02_SQL),
    "s03_stream_session_counts": QuerySpec(s03_stream_session_counts, S03_SQL),
    "s04_stream_attribution": QuerySpec(s04_stream_attribution, S04_SQL),
    "s05_stream_sliding_counts": QuerySpec(s05_stream_sliding_counts, S05_SQL),
    "s06_stream_stateful_totals": QuerySpec(s06_stream_stateful_totals, S06_SQL),
    "s07_stream_scd1_upsert": QuerySpec(s07_stream_scd1_upsert, S07_SQL),
    "s08_stream_enrich": QuerySpec(s08_stream_enrich, S08_SQL),
    "s09_stream_sketch_rollup": QuerySpec(s09_stream_sketch_rollup, S09_SQL),
    "s10_stream_bitmap_distinct": QuerySpec(s10_stream_bitmap_distinct, S10_SQL),
}
