"""Round-7 queries: distributed-tile reports, curation quality rules,
cohort/funnel analytics, exact grouped quantiles, and a streamed PSI.

a141 price decile report (distributed_ntile over the DATA-SIZED lineitem
frame -- the operator the round-7 a118/a139 fix introduced, exercised as
a first-class query), a142 intra-document repetition (Gopher/C4-style
duplicate-3-gram quality rule, computed entirely map-side), a143 monthly
cohort retention, a144 view->click->purchase funnel conversion, a145
ship-latency grouped exact percentiles (operators/ordering
grouped_exact_percentiles vs DuckDB quantile_cont), a146 supplier
revenue concentration (Herfindahl-Hirschman index per nation), a147
weekday seasonality indices, s14 streamed PSI (a139's report fed by
streamed current-half partials; shares a139's oracle verbatim, the
s13/a122 pattern), a148 quality-score calibration deciles
(distributed_ntile under heavy value ties), a149 inter-event dwell-time
p50/p90 per event type (user-keyed lag + grouped exact percentiles),
a150 growth accounting (new/retained/resurrected/churned stock-and-flow),
a151 train/test split leakage (md5 hash split + digest & long-gram
contamination probes), a152 per-source unigram KL drift (Laplace KL over
the floor vocabulary without a vocab x sources materialization), c57
bitemporal as-of lookup (transaction-time + valid-time point query),
a153 corpus distinct-n diversity, a154 int8 scalar-quantization error
(per-dim ranges broadcast, floor bucketing for cross-engine exactness),
c58 partition retention/expiry plan, a155 deterministic weighted
Bernoulli sample (salted-hash threshold), a156 bigram conditional
entropy / perplexity per language, c59 CDC replay-idempotence audit
(same batch applied twice must land on the same checksum).

All floats follow the repo rule (``_util`` docstring): per-term
``round(expr, 9)`` -> exact ``DECIMAL(28,9)`` sums (order-independent)
-> final ``round(., 6)``; decimal PRODUCTS cast operands before
multiplying.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import dsum, load_table

QUERIES: dict[str, QuerySpec] = {}

_DEC = "decimal(28,9)"


# ---------------------------------------------------------------------------
# a141 -- price decile report: distributed_ntile over the raw lineitem
# frame (data-sized -- exactly the shape the unpartitioned-window plan
# gate forbids; the two-level value rank makes it scale-safe)
# ---------------------------------------------------------------------------


def a141_price_decile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordering import distributed_ntile_value_counts

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    # Round 18 (guide §1.2): the report aggregates per decile by
    # functions of the ORDER COLUMN alone (count, min/max, decimal sum
    # of the price), so the row-level tile assignment -- two data-sized
    # join-backs plus a tie-break window in distributed_ntile -- was
    # computed and thrown away.  The value-tile census yields the same
    # aggregates from rank arithmetic on the per-price count table:
    # n_rows sums the per-tile census, lo/hi are min/max over occupied
    # values, and the decimal sum multiplies each price by its per-tile
    # row count (integer x DECIMAL(18,2) is exact == repeated
    # addition).  Tie order never mattered to these aggregates, so the
    # output is bit-identical; the ntile(10) oracle is unchanged.
    census = distributed_ntile_value_counts(
        li, 10, "l_extendedprice", tile_col="decile"
    )
    return census.groupBy("decile").agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)") * F.col("n_rows")
        )
        .cast("double")
        .alias("sum_price"),
    )


A141_SQL = """
WITH tiled AS (
  SELECT l_extendedprice,
         ntile(10) OVER (ORDER BY l_extendedprice ASC, l_orderkey ASC,
                         l_linenumber ASC) AS decile
  FROM lineitem
)
SELECT decile, count(*) AS n_rows,
       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM tiled GROUP BY decile
"""

QUERIES["a141_price_decile_report"] = QuerySpec(
    a141_price_decile_report, A141_SQL
)


# ---------------------------------------------------------------------------
# a142 -- intra-document repetition: duplicate-3-gram fraction per doc
# (the Gopher/C4 repetition quality rule), rolled up per language.  The
# gram arrays never explode: total and distinct gram counts are two
# ``size()`` calls in ONE projection, so the whole rule is map-side and
# the only shuffle is the per-language rollup.
# ---------------------------------------------------------------------------

_A142_N = 3
_A142_FLAG = 0.2  # dup fraction above which a doc is repetition-flagged


def a142_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import word_ngrams

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = word_ngrams(toks, _A142_N)
    n_g = F.size(grams)
    d_g = F.size(F.array_distinct(grams))
    dup = F.round(
        F.lit(1.0) - d_g.cast("double") / n_g.cast("double"), 9
    )
    per_doc = d.select("lang", dup.alias("dup_frac"))
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("dup_frac").cast(_DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_dup_frac"),
        F.sum(
            F.when(F.col("dup_frac") > _A142_FLAG, 1).otherwise(0)
        ).alias("n_flagged"),
    )


A142_SQL = f"""
WITH toks AS (
  SELECT lang, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT lang,
         list_transform(generate_series(1, greatest(len(t) - {_A142_N - 1}, 1)),
                        i -> array_to_string(t[i:i+{_A142_N - 1}], ' ')) AS g
  FROM toks
), per_doc AS (
  SELECT lang,
         round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                     / CAST(len(g) AS DOUBLE), 9) AS dup_frac
  FROM grams
)
SELECT lang, count(*) AS n_docs,
       round(CAST(sum(CAST(dup_frac AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS mean_dup_frac,
       sum(CASE WHEN dup_frac > {_A142_FLAG} THEN 1 ELSE 0 END) AS n_flagged
FROM per_doc GROUP BY lang
"""

QUERIES["a142_doc_repetition"] = QuerySpec(a142_doc_repetition, A142_SQL)


# ---------------------------------------------------------------------------
# a143 -- monthly cohort retention: customers grouped by first-order
# month; share still ordering k months later.  Month arithmetic is pure
# integers (year*12 + month-1) so both engines cut identical cohorts.
# ---------------------------------------------------------------------------

_A143_MAX_K = 6


def a143_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
    ).distinct()  # one row per (customer, active month)
    first = om.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    sizes = first.groupBy("m0").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    act = (
        om.join(first, "o_custkey")
        .select("m0", (F.col("m") - F.col("m0")).alias("months_since"))
        .where(F.col("months_since") <= _A143_MAX_K)
        .groupBy("m0", "months_since")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return act.join(F.broadcast(sizes), "m0").select(
        F.format_string(
            "%04d-%02d", (F.col("m0") / 12).cast("int"), F.col("m0") % 12 + 1
        ).alias("cohort_month"),
        "months_since",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


A143_SQL = f"""
WITH om AS (
  SELECT DISTINCT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m
  FROM orders
), first AS (
  SELECT o_custkey, min(m) AS m0 FROM om GROUP BY 1
), sizes AS (
  SELECT m0, count(*) AS cohort_size FROM first GROUP BY 1
), act AS (
  SELECT f.m0, om.m - f.m0 AS months_since, count(*) AS n_active
  FROM om JOIN first f USING (o_custkey)
  WHERE om.m - f.m0 <= {_A143_MAX_K}
  GROUP BY 1, 2
)
SELECT printf('%04d-%02d', a.m0 // 12, a.m0 % 12 + 1) AS cohort_month,
       a.months_since, a.n_active, s.cohort_size,
       round(CAST(a.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM act a JOIN sizes s USING (m0)
"""

QUERIES["a143_cohort_retention"] = QuerySpec(a143_cohort_retention, A143_SQL)


# ---------------------------------------------------------------------------
# a144 -- ordered funnel conversion: users whose first view precedes
# their first click precedes their first purchase.  ONE groupBy(user)
# with conditional min-timestamps, then a 1-row fold -- no joins, no
# windows, no per-step passes.
# ---------------------------------------------------------------------------


def a144_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.where(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("t_v"),
            F.min(
                F.when(F.col("event_type") == "click", F.col("ts"))
            ).alias("t_c"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("t_p"),
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("t_v").isNotNull(), 1).otherwise(0)).alias(
            "n_viewers"
        ),
        F.sum(
            F.when(F.col("t_v") < F.col("t_c"), 1).otherwise(0)
        ).alias("n_view_click"),
        F.sum(
            F.when(
                (F.col("t_v") < F.col("t_c")) & (F.col("t_c") < F.col("t_p")),
                1,
            ).otherwise(0)
        ).alias("n_full_funnel"),
    )
    return agg.select(
        "n_viewers",
        "n_view_click",
        "n_full_funnel",
        F.round(F.col("n_view_click") / F.col("n_viewers"), 6).alias(
            "click_rate"
        ),
        F.round(F.col("n_full_funnel") / F.col("n_viewers"), 6).alias(
            "funnel_rate"
        ),
    )


A144_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_v,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_c,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_p
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id
), agg AS (
  SELECT sum(CASE WHEN t_v IS NOT NULL THEN 1 ELSE 0 END) AS n_viewers,
         sum(CASE WHEN t_v < t_c THEN 1 ELSE 0 END) AS n_view_click,
         sum(CASE WHEN t_v < t_c AND t_c < t_p THEN 1 ELSE 0 END)
           AS n_full_funnel
  FROM per_user
)
SELECT n_viewers, n_view_click, n_full_funnel,
       round(CAST(n_view_click AS DOUBLE) / n_viewers, 6) AS click_rate,
       round(CAST(n_full_funnel AS DOUBLE) / n_viewers, 6) AS funnel_rate
FROM agg
"""

QUERIES["a144_funnel_conversion"] = QuerySpec(a144_funnel_conversion, A144_SQL)


# ---------------------------------------------------------------------------
# a145 -- ship-latency exact grouped percentiles: p25/p50/p90 of
# (shipdate - orderdate) days per linestatus, via the declarative
# grouped_exact_percentiles construction (no per-group value buffers) --
# bit-identical to DuckDB's quantile_cont.
# ---------------------------------------------------------------------------

_A145_QS = [0.25, 0.5, 0.9]


def a145_ship_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordering import grouped_exact_percentiles_by_value

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # Round 18 (guide §1.2): lat_days is a DOMAIN-bounded integer (an
    # order-to-ship day gap -- its distinct count is a business constant,
    # not a function of corpus size), so the value-collapsed one-pass
    # percentile construction applies: the join is scanned ONCE into a
    # per-(status, days) count table and the quantiles are rank
    # arithmetic over it -- replacing the r17 pin + 3-pass bucket
    # machinery (which regressed: the pinned LogicalRDD carried no stats
    # and the internal joins degraded, VERDICT r17).  Bit-identical
    # interpolation; oracle unchanged.
    lat = li.join(
        o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"),
        "l_orderkey",
    ).select(
        "l_linestatus",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("lat_days"),
    )
    out = grouped_exact_percentiles_by_value(
        lat, ["l_linestatus"], "lat_days", _A145_QS
    )
    return out.select(
        "l_linestatus",
        "q",
        F.round("value", 6).alias("lat_days_q"),
    )


A145_SQL = """
WITH lat AS (
  SELECT l_linestatus,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
           AS lat_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT l_linestatus, CAST(0.25 AS DOUBLE) AS q,
       round(quantile_cont(lat_days, 0.25), 6) AS lat_days_q
FROM lat GROUP BY 1
UNION ALL
SELECT l_linestatus, CAST(0.5 AS DOUBLE) AS q,
       round(quantile_cont(lat_days, 0.5), 6) AS lat_days_q
FROM lat GROUP BY 1
UNION ALL
SELECT l_linestatus, CAST(0.9 AS DOUBLE) AS q,
       round(quantile_cont(lat_days, 0.9), 6) AS lat_days_q
FROM lat GROUP BY 1
"""

QUERIES["a145_ship_latency_quantiles"] = QuerySpec(
    a145_ship_latency_quantiles, A145_SQL
)


# ---------------------------------------------------------------------------
# a146 -- supplier revenue concentration per nation: Herfindahl-Hirschman
# index over supplier revenue shares.  Two chained aggregations (supplier
# rollup -> nation rollup); the share terms follow the decimal-product +
# round-9 decimal-sum discipline.
# ---------------------------------------------------------------------------


def a146_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(
            F.broadcast(
                s.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
                )
            ),
            "l_suppkey",
        )
        .join(
            F.broadcast(
                n.select(F.col("n_nationkey").alias("s_nationkey"), "n_name")
            ),
            "s_nationkey",
        )
        .groupBy("n_name", "l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("sup_rev")
        )
    )
    nat = rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("sup_rev").alias("nat_rev"),
        F.max("sup_rev").alias("top_rev"),
    )
    shares = rev.join(F.broadcast(nat.select("n_name", "nat_rev")), "n_name")
    hhi = shares.groupBy("n_name").agg(
        F.sum(
            F.round(
                (
                    F.col("sup_rev").cast("double")
                    / F.col("nat_rev").cast("double")
                )
                * (
                    F.col("sup_rev").cast("double")
                    / F.col("nat_rev").cast("double")
                ),
                9,
            ).cast(_DEC)
        )
        .cast("double")
        .alias("hhi_raw")
    )
    return nat.join(F.broadcast(hhi), "n_name").select(
        "n_name",
        "n_suppliers",
        F.round(
            F.col("top_rev").cast("double") / F.col("nat_rev").cast("double"),
            6,
        ).alias("top_share"),
        F.round("hhi_raw", 6).alias("hhi"),
    )


A146_SQL = """
WITH rev AS (
  SELECT n.n_name, l.l_suppkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS sup_rev
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
), nat AS (
  SELECT n_name, count(*) AS n_suppliers, sum(sup_rev) AS nat_rev,
         max(sup_rev) AS top_rev
  FROM rev GROUP BY 1
), hhi AS (
  SELECT r.n_name,
         CAST(sum(CAST(round((CAST(r.sup_rev AS DOUBLE)
                              / CAST(t.nat_rev AS DOUBLE))
                             * (CAST(r.sup_rev AS DOUBLE)
                                / CAST(t.nat_rev AS DOUBLE)), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS hhi_raw
  FROM rev r JOIN nat t USING (n_name)
  GROUP BY 1
)
SELECT n.n_name, n.n_suppliers,
       round(CAST(n.top_rev AS DOUBLE) / CAST(n.nat_rev AS DOUBLE), 6)
         AS top_share,
       round(h.hhi_raw, 6) AS hhi
FROM nat n JOIN hhi h USING (n_name)
"""

QUERIES["a146_hhi_concentration"] = QuerySpec(a146_hhi_concentration, A146_SQL)


# ---------------------------------------------------------------------------
# a147 -- weekday seasonality indices: average daily event volume per
# weekday relative to the overall daily average.  One day-grain
# aggregation; everything after runs on the <=7-row weekday frame.
# ---------------------------------------------------------------------------


def a147_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import day_str

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(day_str("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wk = daily.select(
        F.date_format(F.to_date("day", "yyyyMMdd"), "EEEE").alias("weekday"),
        "n",
    )
    per_wd = wk.groupBy("weekday").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("n_events"),
    )
    overall = daily.agg(
        F.sum("n").alias("tot_events"), F.count(F.lit(1)).alias("tot_days")
    )
    return per_wd.crossJoin(F.broadcast(overall)).select(
        "weekday",
        "n_days",
        "n_events",
        F.round(F.col("n_events") / F.col("n_days"), 6).alias("daily_avg"),
        F.round(
            (F.col("n_events") / F.col("n_days"))
            / (F.col("tot_events") / F.col("tot_days")),
            6,
        ).alias("seasonal_index"),
    )


A147_SQL = """
WITH daily AS (
  SELECT strftime(ts, '%Y%m%d') AS day, count(*) AS n
  FROM events GROUP BY 1
), wk AS (
  SELECT strftime(strptime(day, '%Y%m%d'), '%A') AS weekday, n FROM daily
), per_wd AS (
  SELECT weekday, count(*) AS n_days, sum(n) AS n_events
  FROM wk GROUP BY 1
), overall AS (
  SELECT sum(n) AS tot_events, count(*) AS tot_days FROM daily
)
SELECT weekday, n_days, n_events,
       round(CAST(n_events AS DOUBLE) / n_days, 6) AS daily_avg,
       round((CAST(n_events AS DOUBLE) / n_days)
             / (CAST(tot_events AS DOUBLE) / tot_days), 6) AS seasonal_index
FROM per_wd CROSS JOIN overall
"""

QUERIES["a147_weekday_seasonality"] = QuerySpec(
    a147_weekday_seasonality, A147_SQL
)


# ---------------------------------------------------------------------------
# s14 -- streamed PSI: a139's drift report with the CURRENT half's bucket
# counts maintained by a streaming count-partials job (the s13/a122
# pattern: identical scoring, one shared oracle).  Decile bounds come
# from the batch baseline via distributed_ntile; the stream assigns
# buckets with a pure projection over the <=9 broadcast bound literals
# (a documented bounded collect), so the stream side never joins.
# ---------------------------------------------------------------------------


def s14_stream_psi(
    spark: SparkSession, sf_dir: str, *, n_slices: int = 2
) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.ordering import distributed_ntile
    from ..streaming.jobs import stream_count_partials
    from .round6 import _A139_BUCKETS, _psi_report

    o = load_table(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice"
    )
    tiled = distributed_ntile(
        base, _A139_BUCKETS, "o_totalprice", tie_cols=["o_orderkey"],
        tile_col="bucket",
    ).select("o_totalprice", "bucket")
    # ONE pass over the tiled baseline for BOTH per-bucket count and
    # interior bound (r17, guide §1.2: the former separate
    # groupBy().max().collect() re-ran the whole ntile pipeline);
    # <= 10 rows come back -- the same documented bounded driver fetch
    # -- and n_base is rebuilt from them as literals
    bstats = (
        tiled.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_base"),
            F.max("o_totalprice").alias("hi"),
        )
        .collect()
    )
    n_base = spark.createDataFrame(
        [(int(r["bucket"]), int(r["n_base"])) for r in bstats],
        "bucket int, n_base bigint",
    )
    bounds = sorted(
        r["hi"] for r in bstats if r["bucket"] < _A139_BUCKETS
    )
    bucket_expr = F.least(
        F.lit(1)
        + sum(
            (F.col("o_totalprice") > F.lit(b)).cast("int") for b in bounds
        ),
        F.lit(_A139_BUCKETS),
    )
    scratch = tempfile.mkdtemp(prefix="ods_spark_s14_")
    try:
        src = f"{scratch}/src"
        # n_slices micro-batches; the merged partials are linear, so the
        # report is split-invariant (pytest-pinned 1 vs 3 -- the r16
        # bench-budget rule: smallest SF-visible split, was 4)
        cur.repartition(n_slices).write.parquet(src)
        stream = (
            spark.readStream.schema("o_orderkey long, o_totalprice double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .select(bucket_expr.alias("bucket"))
        )
        store = f"{scratch}/partials"
        q = (
            stream_count_partials(stream, store, ["bucket"])
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .start()
        )
        q.awaitTermination()
        n_cur = (
            spark.read.parquet(store)
            .groupBy("bucket")
            .agg(F.sum("cnt").alias("n_cur"))
        )
        tot = base.agg(F.count(F.lit(1)).alias("nb")).crossJoin(
            cur.agg(F.count(F.lit(1)).alias("nc"))
        )
        out = _psi_report(n_base, n_cur, tot)
        return pin_frame(out, eager=True)  # pre-rmtree, executor-side
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


from .round6 import A139_SQL as _A139_SQL_SHARED  # noqa: E402

QUERIES["s14_stream_psi"] = QuerySpec(s14_stream_psi, _A139_SQL_SHARED)


# ---------------------------------------------------------------------------
# a148 -- quality-score calibration: docs bucketed into score deciles
# (distributed_ntile again, this time with HEAVY ties -- uniq_ratio is a
# ratio of small ints, so whole value groups straddle tile boundaries),
# then per-decile English rate vs mean score.
# ---------------------------------------------------------------------------


def a148_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordering import distributed_ntile

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    score = (
        F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
    )
    scored = d.select(
        "doc_id", score.alias("score"), (F.col("lang") == "en").alias("is_en")
    )
    tiled = distributed_ntile(
        scored, 10, "score", tie_cols=["doc_id"], tile_col="decile"
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.round("score", 9).cast(_DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_score"),
        F.round(
            F.sum(F.when(F.col("is_en"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("en_rate"),
    )


A148_SQL = """
WITH scored AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
         lang = 'en' AS is_en
  FROM documents
), tiled AS (
  SELECT score, is_en,
         ntile(10) OVER (ORDER BY score ASC, doc_id ASC) AS decile
  FROM scored
)
SELECT decile, count(*) AS n_docs,
       round(CAST(sum(CAST(round(score, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS mean_score,
       round(CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS en_rate
FROM tiled GROUP BY decile
"""

QUERIES["a148_quality_calibration"] = QuerySpec(
    a148_quality_calibration, A148_SQL
)


# ---------------------------------------------------------------------------
# a149 -- inter-event dwell time: per-user gap to the previous event
# (lag over the user partition -- the window is keyed, never global),
# then exact p50/p90 of the gap per event type via
# grouped_exact_percentiles.  Millisecond integers in both engines
# (unix_millis / epoch_ms both truncate microseconds identically).
# ---------------------------------------------------------------------------

_A149_QS = [0.5, 0.9]


def a149_dwell_time_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.ordering import grouped_exact_percentiles

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        e.select(
            "event_type",
            (
                F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
            ).alias("gap_ms"),
        )
        .where(F.col("gap_ms").isNotNull())
    )
    out = grouped_exact_percentiles(
        gaps, ["event_type"], "gap_ms", _A149_QS, small_groups=True
    )
    return out.select(
        "event_type", "q", F.round("value", 6).alias("gap_ms_q")
    )


A149_SQL = """
WITH gaps AS (
  SELECT event_type,
         epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts ASC,
                                               event_id ASC)) AS gap_ms
  FROM events
)
SELECT event_type, CAST(0.5 AS DOUBLE) AS q,
       round(quantile_cont(gap_ms, 0.5), 6) AS gap_ms_q
FROM gaps WHERE gap_ms IS NOT NULL GROUP BY 1
UNION ALL
SELECT event_type, CAST(0.9 AS DOUBLE) AS q,
       round(quantile_cont(gap_ms, 0.9), 6) AS gap_ms_q
FROM gaps WHERE gap_ms IS NOT NULL GROUP BY 1
"""

QUERIES["a149_dwell_time_quantiles"] = QuerySpec(
    a149_dwell_time_quantiles, A149_SQL
)


# ---------------------------------------------------------------------------
# a150 -- growth accounting: each (customer, active month) classified as
# new / retained / resurrected from the customer's previous active month
# (user-keyed lag window); churned(m) = active(m-1) - retained(m), via a
# month-on-month equi-join of the monthly aggregate (no calendar-frame
# window).  The standard stock-and-flow decomposition of an active base.
# ---------------------------------------------------------------------------


def a150_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("m")
    staged = om.select(
        "m",
        F.lag("m").over(w).alias("prev"),
    ).select(
        "m",
        F.when(F.col("prev").isNull(), F.lit("new"))
        .when(F.col("m") - F.col("prev") == 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("state"),
    )
    monthly = staged.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.when(F.col("state") == "new", 1).otherwise(0)).alias("n_new"),
        F.sum(
            F.when(F.col("state") == "retained", 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(F.col("state") == "resurrected", 1).otherwise(0)
        ).alias("n_resurrected"),
    )
    prev = monthly.select(
        (F.col("m") + 1).alias("m"), F.col("n_active").alias("prev_active")
    )
    return monthly.join(prev, "m", "left").select(
        F.format_string(
            "%04d-%02d", (F.col("m") / 12).cast("int"), F.col("m") % 12 + 1
        ).alias("month"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        (
            F.coalesce("prev_active", F.lit(0)) - F.col("n_retained")
        ).alias("n_churned"),
    )


A150_SQL = """
WITH om AS (
  SELECT DISTINCT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m
  FROM orders
), staged AS (
  SELECT m,
         CASE WHEN prev IS NULL THEN 'new'
              WHEN m - prev = 1 THEN 'retained'
              ELSE 'resurrected' END AS state
  FROM (SELECT m, lag(m) OVER (PARTITION BY o_custkey ORDER BY m) AS prev
        FROM om)
), monthly AS (
  SELECT m, count(*) AS n_active,
         sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS n_new,
         sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS n_retained,
         sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
           AS n_resurrected
  FROM staged GROUP BY m
)
SELECT printf('%04d-%02d', c.m // 12, c.m % 12 + 1) AS month,
       c.n_active, c.n_new, c.n_retained, c.n_resurrected,
       coalesce(p.n_active, 0) - c.n_retained AS n_churned
FROM monthly c LEFT JOIN monthly p ON p.m = c.m - 1
"""

QUERIES["a150_growth_accounting"] = QuerySpec(a150_growth_accounting, A150_SQL)



# the remaining sections live in round7_b (round-10 split, VERDICT r9 #7);
# merging here keeps the registry order identical (the cut is a suffix)
from .round7_b import (  # noqa: E402,F401
    _A151_N,
    a151_split_leakage,
    _A151_NIB,
    A151_SQL,
    a152_source_kl_drift,
    A152_SQL,
    _C57_T0,
    _C57_V0,
    c57_bitemporal_asof,
    C57_SQL,
    a153_distinct_ngram_diversity,
    _a153_cte,
    A153_SQL,
    a154_quantization_error,
    A154_SQL,
    _C58_KEEP_DAYS,
    c58_retention_expiry,
    C58_SQL,
    _A155_SALT,
    _A155_SCALE,
    a155_weighted_sample,
    A155_SQL,
    a156_bigram_cond_entropy,
    A156_SQL,
    c59_cdc_replay_idempotence,
    C59_SQL,
)
from .round7_b import QUERIES as _QUERIES_B  # noqa: E402

QUERIES.update(_QUERIES_B)
