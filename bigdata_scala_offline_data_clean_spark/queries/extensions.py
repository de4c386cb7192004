"""Round-4 extension queries: time-series, graph, and reshaping operators.

Each is a shape a large-scale pipeline needs that earlier registry entries
don't exercise: interval coalescing (gaps-and-islands), calendar gap-fill
with forward-fill, OHLC bars, Markov transition matrices, support-pruned
triangle counting, UNPIVOT reshape, higher-order array functions, and
time-weighted averages.  All stay JVM-side (no Python row path) and follow
the oracle-parity rules in ``_util``: decimal-exact sums, BIGINT-cast
windowed integer sums (DuckDB HUGEINT), string-formatted timestamps, and a
total-order tie-break on every window / top-k.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import day_str, dsum, load_table, ts_str

# ---------------------------------------------------------------------------
# a65 -- interval coalescing (gaps-and-islands).  Each event opens a 30-min
# activity interval; overlapping intervals per user merge into islands.
# Scale shape: two windows over one (user_id) exchange, then one partial agg
# -- no self-join, no explode.  The running MAX(end) handles intervals that
# nest inside earlier ones (plain lag(end) would split those wrongly).
# ---------------------------------------------------------------------------

_IV_MIN = 30  # interval length, minutes


def a65_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {_IV_MIN} MINUTES")).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    iv = iv.withColumn(
        "is_start",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    )
    iv = iv.withColumn(
        "island",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return (
        iv.groupBy("user_id", "island")
        .agg(
            ts_str(F.min("s")).alias("start_ts"),
            ts_str(F.max("e")).alias("end_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


A65_SQL = f"""
WITH iv AS (
  SELECT user_id, event_id, ts AS s, ts + INTERVAL {_IV_MIN} MINUTE AS e
  FROM events
), m AS (
  SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS prev_max_e
  FROM iv
), f AS (
  SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END
            AS is_start
  FROM m
), g AS (
  SELECT *, CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS island
  FROM f
)
SELECT user_id, island,
       strftime(MIN(s), '%Y-%m-%d %H:%M:%S') AS start_ts,
       strftime(MAX(e), '%Y-%m-%d %H:%M:%S') AS end_ts,
       count(*) AS n_events
FROM g GROUP BY user_id, island
"""

# ---------------------------------------------------------------------------
# a66 -- calendar gap-fill + forward-fill (time-series resample).  Daily
# revenue per order priority over the full calendar range; missing days get
# the last observed value (0.0 before the first observation).  Scale shape:
# the day x priority grid is tiny (derived from two scalar aggs + a distinct
# over one column) and broadcast against the daily partials; the ffill
# window partitions by priority so nothing funnels to one task.
# ---------------------------------------------------------------------------


def a66_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate")
    src = o.select(
        F.col("o_orderpriority").alias("priority"),
        day.alias("day"),
        "o_totalprice",
    )
    daily = src.groupBy("priority", "day").agg(dsum("o_totalprice").alias("revenue"))
    rng = src.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    days = rng.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    prios = src.select("priority").distinct()
    grid = days.crossJoin(F.broadcast(prios))
    j = grid.join(daily, ["priority", "day"], "left")
    w = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "priority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce(
            F.last("revenue", ignorenulls=True).over(w), F.lit(0.0)
        ).alias("revenue_filled"),
        F.col("revenue").isNull().cast("int").alias("is_gap"),
    )


A66_SQL = """
WITH src AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         o_totalprice
  FROM orders
), daily AS (
  SELECT priority, day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM src GROUP BY priority, day
), rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM src),
days AS (
  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM rng
), grid AS (
  SELECT p.priority, d.day
  FROM (SELECT DISTINCT priority FROM src) p CROSS JOIN days d
), j AS (
  SELECT g.priority, g.day, daily.revenue
  FROM grid g LEFT JOIN daily ON g.priority = daily.priority AND g.day = daily.day
)
SELECT priority, strftime(day, '%Y-%m-%d') AS day,
       COALESCE(LAST_VALUE(revenue IGNORE NULLS)
                  OVER (PARTITION BY priority ORDER BY day
                        ROWS UNBOUNDED PRECEDING), 0.0) AS revenue_filled,
       CAST(revenue IS NULL AS INTEGER) AS is_gap
FROM j
"""

# ---------------------------------------------------------------------------
# a67 -- OHLC bars: per (event_type, day), first/last/min/max of `value`.
# first/last resolve through row_number over a (ts, event_id) total order --
# arg_min/arg_max with a composite tie-break is not portable across engines,
# row_number is.  One exchange on (event_type, day); both windows share it.
# ---------------------------------------------------------------------------


def a67_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w = Window.partitionBy("event_type", "day")
    asc = w.orderBy("ts", "event_id")
    desc = w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    src = src.withColumn("rn_a", F.row_number().over(asc)).withColumn(
        "rn_d", F.row_number().over(desc)
    )
    return src.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("volume"),
    )


A67_SQL = """
WITH src AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, strftime(ts, '%Y-%m-%d')
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, strftime(ts, '%Y-%m-%d')
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, day,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS volume
FROM src GROUP BY event_type, day
"""

# ---------------------------------------------------------------------------
# a68 -- Markov transition matrix over per-user event sequences: P(next
# event_type | event_type).  lead() over one (user_id) exchange, then a
# small groupBy; the normalizing window runs over the aggregated matrix
# (|states|^2 rows), not the raw events.
# ---------------------------------------------------------------------------


def a68_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).where(F.col("to_state").isNotNull())
    counts = seq.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(Window.partitionBy("from_state")).cast("bigint")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n").cast("double") / total.cast("double"), 6).alias("p"),
    )


A68_SQL = """
WITH seq AS (
  SELECT event_type AS from_state,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_state
  FROM events
), counts AS (
  SELECT from_state, to_state, count(*) AS n
  FROM seq WHERE to_state IS NOT NULL GROUP BY from_state, to_state
)
SELECT from_state, to_state, n,
       ROUND(CAST(n AS DOUBLE) /
             CAST(CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT)
                  AS DOUBLE), 6) AS p
FROM counts
"""

# ---------------------------------------------------------------------------
# a69 -- triangle counting on the co-purchase graph (parts appearing in the
# same order), with support pruning: only edges seen in >= 2 orders survive.
# Scale shape: the support threshold is what makes this viable at 100 TB --
# it collapses the quadratic per-order pair explosion into a sparse edge
# set before the two triangle joins; edges are canonical (u < v) so each
# triangle is counted exactly once.
# ---------------------------------------------------------------------------

_TRI_MIN_SUPPORT = 2
_TRI_TOP = 20


def a69_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import co_purchase_edges

    li = load_table(spark, sf_dir, "lineitem")
    # whale-basket-bounded pair generation (round-9 hardening; the cap
    # never fires on TPC-H's <= 7-item baskets, see graph.co_purchase_edges)
    edges = co_purchase_edges(
        li.select("l_orderkey", "l_partkey"), min_support=_TRI_MIN_SUPPORT
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("part")
    )
    return (
        nodes.groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "part")
        .limit(_TRI_TOP)
    )


def _a69_sql() -> str:
    from ..operators.graph import co_edges_cte

    return f"""
WITH {co_edges_cte("e", min_support=_TRI_MIN_SUPPORT)}, tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), nodes AS (
  SELECT unnest([a, b, c]) AS part FROM tri
)
SELECT part, count(*) AS n_triangles
FROM nodes GROUP BY part
ORDER BY n_triangles DESC, part LIMIT {_TRI_TOP}
"""


A69_SQL = _a69_sql()

# ---------------------------------------------------------------------------
# a70 -- UNPIVOT reshape: lineitem measures to long form, then aggregate per
# (returnflag, measure).  stack() stays in whole-stage codegen -- the wide
# ->long reshape happens without a shuffle; only the final groupBy
# exchanges, on a tiny (flag, measure) key space with map-side partials.
# ---------------------------------------------------------------------------


def a70_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag",
        F.expr(
            "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount, 'tax', l_tax) AS (measure, val)"
        ),
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.sum(F.col("val").cast("decimal(18,6)")).cast("double").alias("sum_val"),
        F.count(F.lit(1)).alias("n"),
    )


A70_SQL = """
WITH long AS (
  SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'tax', l_tax FROM lineitem
)
SELECT l_returnflag, measure,
       CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
       count(*) AS n
FROM long GROUP BY l_returnflag, measure
"""

# ---------------------------------------------------------------------------
# a71 -- higher-order array functions over embeddings: filter/aggregate
# entirely JVM-side (no UDF, no explode -- an exploded 64x row blowup is the
# anti-pattern this query exists to rule out).  The fold matches a21's
# oracle pattern: (0.0 + x1) == x1 in IEEE double, so Spark's aggregate(0.0,
# +) and DuckDB's first-element list_reduce produce bit-identical sums.
# ---------------------------------------------------------------------------


def a71_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(v).alias("dim"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.size(F.filter(v, lambda x: F.abs(x) > 0.5)).alias("n_big"),
        F.round(
            F.aggregate(
                v,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ),
            6,
        ).alias("l2_sq"),
    )


A71_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       len(list_filter(embedding, x -> abs(x) > 0.5)) AS n_big,
       ROUND(list_reduce(
               list_transform(generate_series(1, len(embedding)),
                              i -> CAST(embedding[i] AS DOUBLE)
                                   * CAST(embedding[i] AS DOUBLE)),
               (s, x) -> s + x), 6) AS l2_sq
FROM embeddings
"""

# ---------------------------------------------------------------------------
# a72 -- time-weighted average (TWAP): each observation weighted by its
# holding time until the next event.  Weights are integer seconds and the
# weighted sum runs through DECIMAL, so the result is partitioning-
# independent -- a plain SUM(value * dt) over doubles would drift with the
# shuffle layout.
# ---------------------------------------------------------------------------


def a72_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond epochs: exact integers on both engines (second-granularity
    # unix_timestamp truncates each side and drifts vs a subtract-then-cast)
    dt = (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).cast(
        "bigint"
    )
    seq = ev.select("user_id", "value", dt.alias("dt_us")).where(
        F.col("dt_us").isNotNull()
    )
    agg = seq.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)") * F.col("dt_us")).alias("_w"),
        F.sum("dt_us").cast("bigint").alias("held_us"),
    )
    return agg.select(
        "user_id",
        "held_us",
        F.round(
            F.col("_w").cast("double") / F.col("held_us").cast("double"), 6
        ).alias("twap"),
    )


A72_SQL = """
WITH seq AS (
  SELECT user_id, value,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dt_us
  FROM events
), f AS (SELECT * FROM seq WHERE dt_us IS NOT NULL),
agg AS (
  SELECT user_id,
         SUM(CAST(value AS DECIMAL(18,6)) * dt_us) AS w,
         CAST(SUM(dt_us) AS BIGINT) AS held_us
  FROM f GROUP BY user_id
)
SELECT user_id, held_us,
       ROUND(CAST(w AS DOUBLE) / CAST(held_us AS DOUBLE), 6) AS twap
FROM agg
"""

# ---------------------------------------------------------------------------
# c24 -- multi-format roundtrip: the same slice written to CSV, JSON, and
# ORC, read back with an explicit schema, and checksummed per format.  The
# timestamp is pre-formatted to string so CSV/JSON carry it losslessly; the
# checksums run through DECIMAL so all four rows must agree bit-for-bit
# with the parquet source of truth.
# ---------------------------------------------------------------------------


def c24_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    slice_ = li.where(F.col("l_orderkey") % 20 == 0).select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        ts_str("l_shipdate").alias("l_shipdate"),
    )

    def summarize(df: DataFrame, fmt: str) -> DataFrame:
        return df.agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )

    scratch = tempfile.mkdtemp(prefix="ods_spark_c24_")
    try:
        slice_.write.option("header", True).csv(f"{scratch}/csv")
        slice_.write.json(f"{scratch}/json")
        slice_.write.orc(f"{scratch}/orc")
        back = [
            summarize(
                spark.read.schema(slice_.schema)
                .option("header", True)
                .csv(f"{scratch}/csv"),
                "csv",
            ),
            summarize(
                spark.read.schema(slice_.schema).json(f"{scratch}/json"), "json"
            ),
            summarize(spark.read.orc(f"{scratch}/orc"), "orc"),
            summarize(slice_, "parquet"),
        ]
        out = back[0]
        for df in back[1:]:
            out = out.unionByName(df)
        out = pin_frame(out, eager=True)  # pre-rmtree
        return out
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


C24_SQL = """
WITH slice AS (
  SELECT l_orderkey, l_quantity, l_extendedprice
  FROM lineitem WHERE l_orderkey % 20 = 0
), s AS (
  SELECT count(*) AS n_rows,
         count(DISTINCT l_orderkey) AS n_orders,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
  FROM slice
)
SELECT fmt, n_rows, n_orders, sum_qty, sum_price
FROM s, (VALUES ('csv'), ('json'), ('orc'), ('parquet')) AS fmts(fmt)
"""


QUERIES: dict[str, QuerySpec] = {
    "a65_interval_coalesce": QuerySpec(a65_interval_coalesce, A65_SQL),
    "a66_gap_fill_ffill": QuerySpec(a66_gap_fill_ffill, A66_SQL),
    "a67_ohlc_bars": QuerySpec(a67_ohlc_bars, A67_SQL),
    "a68_markov_transitions": QuerySpec(a68_markov_transitions, A68_SQL),
    "a69_triangle_count": QuerySpec(a69_triangle_count, A69_SQL),
    "a70_unpivot_measures": QuerySpec(a70_unpivot_measures, A70_SQL),
    "a71_array_functions": QuerySpec(a71_array_functions, A71_SQL),
    "a72_time_weighted_avg": QuerySpec(a72_time_weighted_avg, A72_SQL),
    "c24_format_roundtrip": QuerySpec(c24_format_roundtrip, C24_SQL),
}

# ---------------------------------------------------------------------------
# a73 -- GROUPING SETS (the general grouping-sets form; a18 ROLLUP and a31
# CUBE are its fixed specializations).  One Expand + one agg exchange for
# all three grouping levels; gid disambiguates NULL-as-group-key rows.
# ---------------------------------------------------------------------------


def a73_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


A73_SQL = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""

# ---------------------------------------------------------------------------
# a74 -- window navigation family: first/last/nth within an explicit
# full-partition frame (the default frame stops at CURRENT ROW, a classic
# silent-wrong-answer), plus lag with a default.  One (user_id) exchange.
# ---------------------------------------------------------------------------


def a74_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(wf).alias("first_type"),
        F.last("event_type").over(wf).alias("last_type"),
        F.nth_value("event_type", 2).over(wf).alias("second_type"),
        F.lag("event_type", 1, "none").over(w).alias("prev_type"),
    )


A74_SQL = """
SELECT event_id, user_id,
       FIRST_VALUE(event_type) OVER w2 AS first_type,
       LAST_VALUE(event_type) OVER w2 AS last_type,
       NTH_VALUE(event_type, 2) OVER w2 AS second_type,
       LAG(event_type, 1, 'none') OVER w1 AS prev_type
FROM events
WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id),
       w2 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

# ---------------------------------------------------------------------------
# a75 -- regexp_extract_all: pull every long token per document (the regex
# tokenization primitive PII/quality scanners build on).  Pure projection,
# zero exchanges; the null-safe element accessors match across engines
# (ANSI element_at would throw on empty matches).
# ---------------------------------------------------------------------------


def a75_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = F.regexp_extract_all(F.col("text"), F.lit("[a-z]{7,}"), 0)
    return d.select(
        "doc_id",
        F.size(m).alias("n_long"),
        F.try_element_at(m, F.lit(1)).alias("first_long"),
        F.try_element_at(m, F.lit(-1)).alias("last_long"),
    )


A75_SQL = """
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]{7,}')) AS n_long,
       regexp_extract_all(text, '[a-z]{7,}')[1] AS first_long,
       regexp_extract_all(text, '[a-z]{7,}')[-1] AS last_long
FROM documents
"""

# ---------------------------------------------------------------------------
# c25 -- CSV ingestion with corrupt-record quarantine (sources/
# text_ingest.read_csv_clean made driver-checkable): well-formed rows and
# deterministically malformed lines land in one directory; PERMISSIVE
# parsing splits them without losing either side.
# ---------------------------------------------------------------------------


def c25_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..sources.text_ingest import read_csv_clean

    o = load_table(spark, sf_dir, "orders")
    sel = o.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    bad = o.where(F.col("o_orderkey") % 97 == 0).select(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(",not_a_number,MANGLED,extra_field"),
        ).alias("value")
    )
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
        ]
    )
    scratch = tempfile.mkdtemp(prefix="ods_spark_c25_")
    try:
        sel.write.csv(f"{scratch}/in", header=False)
        bad.coalesce(1).write.mode("append").text(f"{scratch}/in")
        good, quarantined = read_csv_clean(
            spark, f"{scratch}/in", schema, header=False
        )
        out = good.agg(
            F.lit("good").alias("kind"),
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            dsum("o_totalprice").alias("price_sum"),
        ).unionByName(
            quarantined.agg(
                F.lit("quarantined").alias("kind"),
                F.count(F.lit(1)).alias("n"),
                F.lit(None).cast("bigint").alias("key_sum"),
                F.lit(None).cast("double").alias("price_sum"),
            )
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


C25_SQL = """
SELECT 'good' AS kind, count(*) AS n, SUM(o_orderkey) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
FROM orders WHERE o_orderkey % 10 = 0
UNION ALL
SELECT 'quarantined', count(*), NULL, NULL
FROM orders WHERE o_orderkey % 97 = 0
"""

# ---------------------------------------------------------------------------
# c26 -- schema-evolution read (sources/evolution.read_evolved made
# driver-checkable): files written under two schema versions read back as
# one frame; rows from the old layout surface the new column as NULL.
# ---------------------------------------------------------------------------


def c26_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.evolution import read_evolved

    o = load_table(spark, sf_dir, "orders")
    scratch = tempfile.mkdtemp(prefix="ods_spark_c26_")
    try:
        v1 = o.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        v2 = o.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        v1.write.parquet(f"{scratch}/t")
        v2.write.mode("append").parquet(f"{scratch}/t")
        back = read_evolved(spark, f"{scratch}/t")
        out = back.groupBy(
            F.col("o_orderpriority").isNotNull().alias("has_priority")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            dsum("o_totalprice").alias("price_sum"),
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


C26_SQL = """
SELECT (o_orderkey % 2 = 1) AS has_priority, count(*) AS n,
       SUM(o_orderkey) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
FROM orders GROUP BY 1
"""


QUERIES.update(
    {
        "a73_grouping_sets": QuerySpec(a73_grouping_sets, A73_SQL),
        "a74_window_navigation": QuerySpec(a74_window_navigation, A74_SQL),
        "a75_regexp_extract": QuerySpec(a75_regexp_extract, A75_SQL),
        "c25_csv_quarantine": QuerySpec(c25_csv_quarantine, C25_SQL),
        "c26_schema_evolution": QuerySpec(c26_schema_evolution, C26_SQL),
    }
)

# ---------------------------------------------------------------------------
# a76 -- product-quantization ANN over the FROZEN trained codebooks
# (queries/quantizers.py; round 13, VERDICT r11/r12 task #2): embeddings
# normalize and compress to m=16 byte-codes (32x memory at
# float32/64-dim), candidates rank by asymmetric distance (exact query
# subvectors vs quantized corpus codes), the top-`refine` pool is
# exactly re-ranked, and `recall_at_k` vs the brute-force baseline rides
# in the result.  Every stage -- encode argmin, ADC term folds, rerank
# cosine, recall -- is a plan-side fold over the same literal doubles
# the DuckDB oracle embeds, so the query is exact-match checked end to
# end (it was rows-only while the codebooks trained at runtime).
# Scale: encoding is per-row (map-only); the ADC join reads codes + the
# literal books, never raw vectors; only the `refine` pool rereads them.
# ---------------------------------------------------------------------------

_A76_M, _A76_KSUB, _A76_REFINE = 16, 16, 50
_A76_RECALL_FLOOR = 0.7  # mirrors test_pq_ann_recall_and_code_shape


def a76_embedding_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import (
        cosine_topk,
        dot_product,
        pq_adc_topk_partials,
    )
    from .analytics import _TOPK_K, _TOPK_NQ, _ann_with_recall, _norm_sql
    from .quantizers import A76_CODEBOOKS

    e = load_table(spark, sf_dir, "embeddings")

    # Round 18 (guide §4.2): the encode + ADC legs used to inline the
    # 16x16x4 frozen codebook as literal Spark-SQL fold trees (256
    # zip_with/aggregate folds for the encode, ~16k double literals in
    # the ADC term forest) -- parse + codegen dominated the query (~4 s
    # of driver time at ANY data size; 8c/32c scaling ratio 1.07).  The
    # identical arithmetic -- same sequential folds, same first-min
    # argmin, same j-ordered ADC sum -- now runs in ONE Arrow pass
    # against a broadcast numpy codebook (pq_adc_topk_partials's
    # bit-exactness contract); the oracle twin is unchanged.
    queries = e.where(F.col("vec_id") < _TOPK_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("__q_vec"),
        _norm_sql("embedding").alias("__q_norm"),
    )
    parts = pq_adc_topk_partials(
        e,
        e.where(F.col("vec_id") < _TOPK_NQ),
        A76_CODEBOOKS,
        _A76_REFINE,
        normalize=True,
    )
    wp = Window.partitionBy("q_id").orderBy(
        F.col("__dist").asc(), F.col("n_id").asc()
    )
    pool = (
        parts.withColumn("__pr", F.row_number().over(wp))
        .where(F.col("__pr") <= _A76_REFINE)
        .select("q_id", "n_id", "__dist")
    )
    cv = e.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("__c_vec"),
        _norm_sql("embedding").alias("__c_norm"),
    )
    rer = (
        cv.join(  # pool is refine*nq rows -- broadcast it onto the scan
            F.broadcast(pool.join(F.broadcast(queries), "q_id")), "n_id"
        )
        .withColumn(
            "cosine",
            F.round(
                dot_product(F.col("__q_vec"), F.col("__c_vec"))
                / (F.col("__q_norm") * F.col("__c_norm")),
                6,
            ),
        )
    )
    wk = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("n_id").asc()
    )

    ann = pin_frame(  # recall consumes ann twice; never re-encode the corpus
        rer.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= _TOPK_K)
        .select(
            "q_id",
            "n_id",
            F.round("__dist", 6).alias("approx_dist"),
            "cosine",
            "rank",
        )
    )
    q = e.where(F.col("vec_id") < _TOPK_NQ)
    return _ann_with_recall(
        ann,
        cosine_topk(e, q, k=_TOPK_K),
        _TOPK_K,
        floor=_A76_RECALL_FLOOR,
    )


def _a76_books_values_sql() -> str:
    """DuckDB VALUES table (j 0-based, cid 1-based, DOUBLE[dsub] cv) of
    the frozen PQ codebooks -- the literal half of the a76 oracle."""
    from .quantizers import A76_CODEBOOKS

    rows = [
        f"({j}, {c + 1}, [{', '.join(repr(float(x)) for x in cv)}])"
        for j, book in enumerate(A76_CODEBOOKS)
        for c, cv in enumerate(book)
    ]
    return "(VALUES\n    " + ",\n    ".join(rows) + ") AS t(j, cid, cv)"


def _a76_sql() -> str:
    from ..operators.similarity import DOT_SQL as dot

    from .analytics import _TOPK_K, _TOPK_NQ

    books = _a76_books_values_sql()
    dsub = 4
    ee = dot.format(a="embeddings.embedding", b="embeddings.embedding")
    l2c = (
        f"list_reduce(list_transform(generate_series(1, {dsub}), "
        f"i -> (CAST(e.embedding[(b.j * {dsub}) + i] AS DOUBLE) / e.nrm "
        f"- CAST(b.cv[i] AS DOUBLE)) "
        f"* (CAST(e.embedding[(b.j * {dsub}) + i] AS DOUBLE) / e.nrm "
        f"- CAST(b.cv[i] AS DOUBLE))), (acc, x) -> acc + x)"
    )
    l2q = (
        f"list_reduce(list_transform(generate_series(1, {dsub}), "
        f"i -> (CAST(q.qv[(c.j * {dsub}) + i] AS DOUBLE) / q.qnrm "
        f"- CAST(b.cv[i] AS DOUBLE)) "
        f"* (CAST(q.qv[(c.j * {dsub}) + i] AS DOUBLE) / q.qnrm "
        f"- CAST(b.cv[i] AS DOUBLE))), (acc, x) -> acc + x)"
    )
    qq, cc = dot.format(a="q.qv", b="q.qv"), dot.format(a="c2.cv2", b="c2.cv2")
    qc = dot.format(a="q.qv", b="c2.cv2")
    xq, xc = dot.format(a="qv", b="qv"), dot.format(a="cv", b="cv")
    xqc = dot.format(a="qv", b="cv")
    return f"""
WITH books AS (SELECT * FROM {books}),
e AS (
  SELECT vec_id, embedding, sqrt({ee}) AS nrm FROM embeddings
), codes AS (
  SELECT n_id, j, cid AS code FROM (
    SELECT e.vec_id AS n_id, b.j, b.cid,
           row_number() OVER (
             PARTITION BY e.vec_id, b.j ORDER BY {l2c} ASC, b.cid ASC
           ) AS rn
    FROM e CROSS JOIN books b
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS q_id, embedding AS qv,
         sqrt({dot.format(a="embedding", b="embedding")}) AS qnrm
  FROM embeddings WHERE vec_id < {_TOPK_NQ}
), terms AS (
  SELECT q.q_id, c.n_id, c.j, {l2q} AS t
  FROM codes c
  JOIN books b ON b.j = c.j AND b.cid = c.code
  CROSS JOIN q
  WHERE q.q_id <> c.n_id
), adc AS (
  SELECT q_id, n_id,
         list_reduce(list(t ORDER BY j), (acc, x) -> acc + x) AS dist
  FROM terms GROUP BY q_id, n_id
), pool AS (
  SELECT q_id, n_id, dist FROM (
    SELECT q_id, n_id, dist,
           row_number() OVER (
             PARTITION BY q_id ORDER BY dist ASC, n_id ASC) AS pr
    FROM adc
  ) WHERE pr <= {_A76_REFINE}
), rer AS (
  SELECT p.q_id, p.n_id, round(p.dist, 6) AS approx_dist,
         round({qc} / (sqrt({qq}) * sqrt({cc})), 6) AS cosine
  FROM pool p
  JOIN (SELECT vec_id, embedding AS cv2 FROM embeddings) c2
    ON c2.vec_id = p.n_id
  JOIN q ON q.q_id = p.q_id
), ann AS (
  SELECT q_id, n_id, approx_dist, cosine, rank FROM (
    SELECT q_id, n_id, approx_dist, cosine,
           row_number() OVER (
             PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
    FROM rer
  ) WHERE rank <= {_TOPK_K}
), exact AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (
             PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rk
    FROM (
      SELECT xq.vec_id AS q_id, xc.vec_id AS n_id,
             round({xqc} / (sqrt({xq}) * sqrt({xc})), 6) AS cosine
      FROM (SELECT vec_id, embedding AS cv FROM embeddings) xc,
           (SELECT vec_id, embedding AS qv FROM embeddings
            WHERE vec_id < {_TOPK_NQ}) xq
      WHERE xq.vec_id <> xc.vec_id
    )
  ) WHERE rk <= {_TOPK_K}
), hits AS (
  SELECT a.q_id, count(*) AS h
  FROM ann a JOIN exact x ON a.q_id = x.q_id AND a.n_id = x.n_id
  GROUP BY a.q_id
), per AS (
  SELECT a.q_id, a.n_id, a.approx_dist, a.cosine, a.rank,
         round(CAST(COALESCE(h.h, 0) AS DOUBLE) / {_TOPK_K}, 4)
           AS recall_at_k
  FROM ann a LEFT JOIN hits h ON a.q_id = h.q_id
), mr AS (
  SELECT round(avg(recall_at_k), 4) AS mean_recall
  FROM (SELECT DISTINCT q_id, recall_at_k FROM per)
)
SELECT p.q_id, p.n_id, p.approx_dist, p.cosine, p.rank, p.recall_at_k,
       m.mean_recall, m.mean_recall >= {_A76_RECALL_FLOOR} AS recall_ok
FROM per p CROSS JOIN mr m
"""


QUERIES["a76_embedding_pq_ann"] = QuerySpec(a76_embedding_pq_ann, _a76_sql())

# ---------------------------------------------------------------------------
# c27 -- bucketed co-located join (Warehouse.write_bucketed made driver-
# checkable): both sides hash-bucketed on the join key at write time, so
# the join itself needs ZERO exchanges -- the 100 TB pattern of paying a
# fact table's shuffle once and amortizing it over every later join.
# The no-Exchange plan property is asserted in
# test_bucketed_join_has_no_exchange; here the VALUES are checked.
# ---------------------------------------------------------------------------


def c27_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import Warehouse

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    scratch = tempfile.mkdtemp(prefix="ods_spark_c27_")
    try:
        wh = Warehouse(spark, scratch)
        wh.write_bucketed(
            o.select("o_orderkey", "o_orderstatus"),
            "dwd", "c27_orders", ["o_orderkey"], buckets=8,
            sort_cols=["o_orderkey"],
        )
        wh.write_bucketed(
            li.select(
                F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
            ),
            "dwd", "c27_items", ["o_orderkey"], buckets=8,
            sort_cols=["o_orderkey"],
        )
        j = wh.bucketed_table("dwd", "c27_orders").join(
            wh.bucketed_table("dwd", "c27_items"), "o_orderkey"
        )
        out = j.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            dsum("l_extendedprice").alias("revenue"),
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        spark.sql("DROP TABLE IF EXISTS dwd_c27_orders")
        spark.sql("DROP TABLE IF EXISTS dwd_c27_items")
        shutil.rmtree(scratch, ignore_errors=True)


C27_SQL = """
SELECT o.o_orderstatus,
       count(*) AS n_items,
       count(DISTINCT o.o_orderkey) AS n_orders,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
"""

QUERIES["c27_bucketed_join"] = QuerySpec(c27_bucketed_join, C27_SQL)

# ---------------------------------------------------------------------------
# a77 -- per-group OLS regression via grouped-map applyInPandas (the
# Arrow per-group model-fitting path; mapInPandas/pandas_udf/
# applyInPandasWithState cover the other Pandas-API shapes).  x is days
# since 2022-01-01 so the normal-equation sums stay well-conditioned.
# ---------------------------------------------------------------------------

_A77_EPOCH = 1640995200  # 2022-01-01 00:00:00 UTC


def a77_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pandas_ops import grouped_ols

    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "event_type",
        "event_id",
        (
            (F.unix_micros("ts") - F.lit(_A77_EPOCH * 1_000_000))
            / (86400.0 * 1_000_000)
        ).alias("x"),
        F.col("value").alias("y"),
    )
    return grouped_ols(
        src, ["event_type"], "x", "y", sort_cols=["event_id"]
    )


A77_SQL = f"""
WITH src AS (
  SELECT event_type, event_id,
         (epoch_us(ts) - CAST({_A77_EPOCH} AS BIGINT) * 1000000) / (86400.0 * 1000000) AS x,
         value AS y
  FROM events
)
SELECT event_type,
       round(regr_slope(y, x), 6) AS slope,
       round(regr_intercept(y, x), 6) AS intercept,
       round(regr_r2(y, x), 6) AS r2,
       count(*) AS n
FROM src GROUP BY event_type
"""

QUERIES["a77_group_regression"] = QuerySpec(a77_group_regression, A77_SQL)

# ---------------------------------------------------------------------------
# c28 -- mergeable sketch rollup (HLL distinct + KLL quantile + Theta),
# the incremental pattern that replaces exact COUNT(DISTINCT)/percentile
# at 100 TB: per-day partial sketches (a few KB each) stored next to the
# rollup, merged on read -- bytes shuffled O(partitions), not O(keys).
# Estimates are engine-specific, so the query emits exact companions plus
# error-bound booleans the oracle asserts TRUE (the a27 pattern): HLL RSE
# at lgK=12 is ~1.6% (5% bound = >3 sigma), KLL rank error at k=200 is
# ~1.7% (checked as the RANK of the estimated median, bounded +-5 points).
# ---------------------------------------------------------------------------


def c28_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import sketch_rollup, theta_distinct_by

    e = load_table(spark, sf_dir, "events").withColumn("day", day_str("ts"))
    est = sketch_rollup(e, ["event_type"], "day", "user_id", "value")
    theta = theta_distinct_by(e, ["event_type"], "user_id").select(
        "event_type", "theta_distinct_est"
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("exact_p50"),
    )
    # rank of the KLL median estimate within the true distribution
    kll_rank = (
        e.join(F.broadcast(est.select("event_type", "p50_est")), "event_type")
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.when(F.col("value") <= F.col("p50_est"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("__rank")
        )
    )
    rel = lambda est_c, ex_c: F.abs(est_c.cast("double") - ex_c) / ex_c  # noqa: E731
    return (
        est.join(exact, "event_type")
        .join(F.broadcast(theta), "event_type")
        .join(F.broadcast(kll_rank), "event_type")
        .select(
            "event_type",
            "exact_users",
            F.col("n_rows").cast("long").alias("n_rows"),
            "exact_p50",
            (rel(F.col("distinct_est"), F.col("exact_users")) <= 0.05).alias(
                "hll_ok"
            ),
            (rel(F.col("theta_distinct_est"), F.col("exact_users")) <= 0.05).alias(
                "theta_ok"
            ),
            ((F.col("__rank") >= 0.45) & (F.col("__rank") <= 0.55)).alias(
                "kll_ok"
            ),
        )
    )


C28_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(*) AS n_rows,
       round(quantile_cont(value, 0.5), 6) AS exact_p50,
       true AS hll_ok, true AS theta_ok, true AS kll_ok
FROM events GROUP BY event_type
"""

QUERIES["c28_sketch_rollup"] = QuerySpec(c28_sketch_rollup, C28_SQL)

# ---------------------------------------------------------------------------
# a78 -- PageRank over the co-purchase part graph, fixed-point integer
# arithmetic (operators/graph.py): float PageRank is order-dependent under
# shuffles; scaled-BIGINT ranks with integer floor-division are
# bit-deterministic on any cluster layout AND exactly reproducible by the
# oracle's unrolled CTE chain.  Same support-pruned edge set as a69.
# ---------------------------------------------------------------------------

_PR_ITERS = 5


def a78_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import co_purchase_edges, pagerank

    li = load_table(spark, sf_dir, "lineitem")
    # whale-basket-bounded pair generation (round-9 hardening; the cap
    # never fires on TPC-H baskets -- graph.co_purchase_edges).
    # The symmetrizing union references this subtree twice; persist so
    # the distinct + self-join + support agg runs once, not twice.
    # NOT materialized here: pagerank's final eager checkpoint runs the
    # whole DAG as one job, within which the persist dedups the two
    # union branches -- a separate count() job re-measured as a ~2s
    # pure cost once that checkpoint existed (it was a saving only
    # under the old lazy-output shape)
    half = co_purchase_edges(
        li.select("l_orderkey", "l_partkey"), min_support=_TRI_MIN_SUPPORT
    ).persist()
    edges = half.union(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
    pr = pagerank(edges, iters=_PR_ITERS)
    # pagerank eagerly checkpoints its final rank table, so the edge
    # construction cache can be released here instead of leaking into a
    # long-lived session
    half.unpersist()
    # top-20 via orderBy().limit() -- plans as TakeOrderedAndProject
    # (per-partition take + merge), never a full-node-table window; pos is
    # derived by a window over the already-bounded 20-row result.
    top = pr.orderBy(F.col("pr").desc(), F.col("node").asc()).limit(20)
    w = Window.orderBy(F.col("pr").desc(), F.col("node").asc())
    return top.withColumn("pos", F.row_number().over(w)).select(
        F.col("node").alias("part"), "pr", "pos"
    )


def _a78_sql() -> str:
    from ..operators.graph import PR_SCALE, co_edges_cte

    base = (PR_SCALE * 15) // 100
    cte = [
        f"""WITH {co_edges_cte("half", min_support=_TRI_MIN_SUPPORT)}, e AS (
  SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half
), deg AS (
  SELECT u, count(*) AS deg FROM e GROUP BY u
), r0 AS (
  SELECT u, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg
)"""
    ]
    for i in range(_PR_ITERS):
        cte.append(
            f""", r{i + 1} AS (
  SELECT e.v AS u,
         CAST({base} + (85 * sum(r{i}.pr // deg.deg)) // 100 AS BIGINT) AS pr
  FROM e JOIN r{i} ON e.u = r{i}.u JOIN deg ON e.u = deg.u
  GROUP BY e.v
)"""
        )
    return "".join(cte) + f"""
SELECT u AS part, pr,
       row_number() OVER (ORDER BY pr DESC, u ASC) AS pos
FROM r{_PR_ITERS} QUALIFY pos <= 20
"""


QUERIES["a78_pagerank"] = QuerySpec(a78_pagerank, _a78_sql())

# ---------------------------------------------------------------------------
# c29 -- k-anonymity audit (operators/quality.k_anonymity): equivalence-
# class sizes over the quasi-identifier tuple (nation, segment, coarse
# balance bucket); classes under k=5 are the re-identification risk the
# release pipeline must suppress or generalize.
# ---------------------------------------------------------------------------


def c29_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import k_anonymity

    c = load_table(spark, sf_dir, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 2000).cast("long")
    )
    return k_anonymity(c, ["c_nationkey", "c_mktsegment", "bal_bucket"], k=5)


C29_SQL = """
SELECT c_nationkey, c_mktsegment,
       CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
       count(*) AS group_n,
       count(*) >= 5 AS k_anon
FROM customer GROUP BY 1, 2, 3
"""

QUERIES["c29_k_anonymity"] = QuerySpec(c29_k_anonymity, C29_SQL)

# ---------------------------------------------------------------------------
# a79 -- out-of-vocabulary rate per document against the corpus-trained
# vocab (text.vocab_build at min_count=5): the tokenizer-coverage check
# before committing a vocabulary.  Vocab is broadcast; the token stream
# shuffles once on the doc id.
# ---------------------------------------------------------------------------


def a79_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import oov_rate, vocab_build

    d = load_table(spark, sf_dir, "documents")
    return oov_rate(d, vocab_build(d, min_count=5))


A79_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), stream AS (
  SELECT doc_id, token FROM toks WHERE token <> ''
), vocab AS (
  SELECT token FROM stream GROUP BY token HAVING count(*) >= 5
)
SELECT s.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) / count(*), 6)
         AS oov_ratio
FROM stream s LEFT JOIN vocab v ON s.token = v.token
GROUP BY s.doc_id
"""

QUERIES["a79_oov_rate"] = QuerySpec(a79_oov_rate, A79_SQL)

# ---------------------------------------------------------------------------
# a80 -- top collocations by PMI (text.pmi_collocations): exact integer
# bigram/unigram counts, one ln at the end written identically in both
# engines and rounded to 6.
# ---------------------------------------------------------------------------


def a80_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pmi_collocations

    d = load_table(spark, sf_dir, "documents")
    return pmi_collocations(d, min_count=5, top=20)


A80_SQL = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), grams AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM docs
), c12 AS (
  SELECT gram, count(*) AS c12 FROM grams GROUP BY gram
  HAVING count(*) >= 5
), stream AS (
  SELECT unnest(t) AS token FROM docs
), c1 AS (
  SELECT token, count(*) AS c FROM stream GROUP BY token
), totals AS (
  SELECT (SELECT count(*) FROM grams) AS nb,
         (SELECT count(*) FROM stream) AS nt
)
SELECT gram, c12, w1.c AS c1, w2.c AS c2,
       round(ln((CAST(c12 AS DOUBLE) * nt * nt)
                / (CAST(nb AS DOUBLE) * w1.c * w2.c)), 6) AS pmi
FROM c12
JOIN c1 w1 ON w1.token = string_split(gram, ' ')[1]
JOIN c1 w2 ON w2.token = string_split(gram, ' ')[2]
CROSS JOIN totals
ORDER BY pmi DESC, gram LIMIT 20
"""

QUERIES["a80_pmi_collocations"] = QuerySpec(a80_pmi_collocations, A80_SQL)

# ---------------------------------------------------------------------------
# c30 -- incremental JOIN-view maintenance (incremental.delta_join_rows):
# deltas arrive on BOTH sides of a materialized join view; the three
# disjoint delta-join terms append in O(|delta| x fanout) while the big
# accumulated sides never re-shuffle (delta sides broadcast -- plan gate).
# The maintained view must equal the from-scratch join: the oracle IS the
# full join, so the driver hash proves the delta algebra.
# ---------------------------------------------------------------------------


def c30_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import delta_join_rows

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        "l_extendedprice",
    )
    a_old = o.where(F.col("o_orderkey") % 10 != 0)
    da = o.where(F.col("o_orderkey") % 10 == 0)
    b_old = li.where(F.col("o_orderkey") % 7 != 0)
    db = li.where(F.col("o_orderkey") % 7 == 0)
    view_old = a_old.join(b_old, ["o_orderkey"])
    delta = delta_join_rows(a_old, da, b_old, db, ["o_orderkey"])
    return view_old.unionByName(delta).select(
        "o_orderkey", "l_linenumber", "o_orderstatus", "l_extendedprice"
    )


C30_SQL = """
SELECT o.o_orderkey, l.l_linenumber, o.o_orderstatus, l.l_extendedprice
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""

QUERIES["c30_ivm_join"] = QuerySpec(c30_ivm_join, C30_SQL)

# ---------------------------------------------------------------------------
# c31 -- RAG indexing pipeline end to end: sliding-window chunking (a54's
# operator) -> per-chunk embedding -> top-3 retrieval per query chunk with
# same-document exclusion.  The embedder here is a deterministic md5-hash
# featurizer so the ENTIRE pipeline has an exact DuckDB twin (a model
# embedder plugs in as an Arrow mapInPandas, the multimodal path -- the
# retrieval plumbing is identical).  Dot products and norms are explicit
# left-associated sums over the 8 components, written identically in both
# engines -> bit-identical doubles before the round-to-6.
# Scale shape: chunks build narrow (posexplode), the query side is small
# and broadcast, corpus chunks stream map-side through the scored join and
# shuffle once on the query key for the per-query top-k window.
# ---------------------------------------------------------------------------

_RAG_DIM = 8
_RAG_NQ_DOCS = 3
_RAG_K = 3


def c31_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..operators.packing import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(d, chunk_tokens=64, overlap=16)

    def comp(j: int):
        h = F.conv(
            F.substring(F.md5(F.concat(F.col("chunk_text"), F.lit(f"|{j}"))), 1, 8),
            16, 10,
        ).cast("bigint")
        return ((h % 1000) / F.lit(1000.0) - 0.5).alias(f"e{j}")

    emb = ch.select("doc_id", "chunk_id", *[comp(j) for j in range(_RAG_DIM)])
    norm = F.sqrt(
        reduce(lambda a, j: a + F.col(f"e{j}") * F.col(f"e{j}"),
               range(1, _RAG_DIM), F.col("e0") * F.col("e0"))
    )
    c = emb.select(
        F.col("doc_id").alias("n_doc"), F.col("chunk_id").alias("n_chunk"),
        *[F.col(f"e{j}").alias(f"c{j}") for j in range(_RAG_DIM)],
        norm.alias("cn"),
    )
    q = emb.where(F.col("doc_id") < _RAG_NQ_DOCS).select(
        F.col("doc_id").alias("q_doc"), F.col("chunk_id").alias("q_chunk"),
        *[F.col(f"e{j}").alias(f"q{j}") for j in range(_RAG_DIM)],
        norm.alias("qn"),
    )
    dot = reduce(
        lambda a, j: a + F.col(f"q{j}") * F.col(f"c{j}"),
        range(1, _RAG_DIM), F.col("q0") * F.col("c0"),
    )
    scored = c.join(
        F.broadcast(q), F.col("n_doc") != F.col("q_doc")
    ).withColumn("cosine", F.round(dot / (F.col("qn") * F.col("cn")), 6))
    w = Window.partitionBy("q_doc", "q_chunk").orderBy(
        F.col("cosine").desc(), F.col("n_doc").asc(), F.col("n_chunk").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _RAG_K)
        .select("q_doc", "q_chunk", "n_doc", "n_chunk", "cosine", "rank")
    )


def _c31_sql() -> str:
    def comps(alias: str) -> str:
        return ",\n         ".join(
            f"(CAST(('0x' || substr(md5(chunk_text || '|{j}'), 1, 8)) AS BIGINT)"
            f" % 1000) / 1000.0 - 0.5 AS {alias}{j}"
            for j in range(_RAG_DIM)
        )

    qnorm = " + ".join(f"q{j} * q{j}" for j in range(_RAG_DIM))
    cnorm = " + ".join(f"c{j} * c{j}" for j in range(_RAG_DIM))
    dot = " + ".join(f"q{j} * c{j}" for j in range(_RAG_DIM))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), base AS (
  SELECT doc_id, t,
         1 + CAST((greatest(len(t) - 64, 0) + 47) // 48 AS BIGINT) AS n_chunks
  FROM toks
), chunks AS (
  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         array_to_string(t[(i*48+1):(i*48+64)], ' ') AS chunk_text
  FROM base, LATERAL unnest(generate_series(0, CAST(n_chunks - 1 AS INT))) AS u(i)
), cemb AS (
  SELECT doc_id AS n_doc, chunk_id AS n_chunk,
         {comps('c')}
  FROM chunks
), qemb AS (
  SELECT doc_id AS q_doc, chunk_id AS q_chunk,
         {comps('q')}
  FROM chunks WHERE doc_id < {_RAG_NQ_DOCS}
), scored AS (
  SELECT q_doc, q_chunk, n_doc, n_chunk,
         round(({dot}) / (sqrt({qnorm}) * sqrt({cnorm})), 6) AS cosine
  FROM cemb JOIN qemb ON n_doc <> q_doc
)
SELECT q_doc, q_chunk, n_doc, n_chunk, cosine,
       row_number() OVER (PARTITION BY q_doc, q_chunk
                          ORDER BY cosine DESC, n_doc ASC, n_chunk ASC) AS rank
FROM scored QUALIFY rank <= {_RAG_K}
"""


QUERIES["c31_rag_retrieval"] = QuerySpec(c31_rag_retrieval, _c31_sql())

# ---------------------------------------------------------------------------
# c32 -- EXACT mergeable distinct counts via bitmap partials (the
# no-error sibling of c28's HLL path, for bounded integer id spaces):
# per-(event_type, day, bucket) bitmaps stored, OR-merged on read.  The
# oracle is plain COUNT(DISTINCT) -- the driver hash proves exactness,
# no tolerance booleans needed.
# ---------------------------------------------------------------------------


def c32_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        bitmap_distinct_partials,
        merge_bitmap_distinct,
    )

    e = load_table(spark, sf_dir, "events").withColumn("day", day_str("ts"))
    partials = bitmap_distinct_partials(e, ["event_type"], "day", "user_id")
    return merge_bitmap_distinct(partials, ["event_type"])


C32_SQL = """
SELECT event_type, count(DISTINCT user_id) AS distinct_count
FROM events GROUP BY event_type
"""

QUERIES["c32_bitmap_distinct"] = QuerySpec(c32_bitmap_distinct, C32_SQL)


# c33-c38 / a81-a90 live in extensions_b (round-10 split, VERDICT r9 #7);
# merging here keeps the registry order identical (the cut is a suffix)
from .extensions_b import (  # noqa: E402,F401
    c33_dpp_join,
    C33_SQL,
    c34_drift_kl,
    C34_SQL,
    a81_rank_functions,
    A81_SQL,
    a82_join_hints,
    A82_SQL,
    a83_binary_segments,
    A83_SQL,
    a84_cdc_chunking,
    A84_SQL,
    c35_retraction_agg,
    C35_SQL,
    _C36_MAX_BLOCK,
    c36_golden_record,
    _c36_sql,
    a85_pareto_frontier,
    A85_SQL,
    a86_variant_rollup,
    A86_SQL,
    a87_cumulative_distinct,
    A87_SQL,
    a88_decayed_sum,
    A88_SQL,
    c37_sqlwh_roundtrip,
    C37_SQL,
    a89_benford_audit,
    A89_SQL,
    a90_event_streaks,
    A90_SQL,
    c38_multi_format_union,
    C38_SQL,
)
from .extensions_b import QUERIES as _QUERIES_B  # noqa: E402

QUERIES.update(_QUERIES_B)
