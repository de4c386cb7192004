"""Round-6 queries, warehouse / retail-analytics / pipeline family.

Split out of ``round6.py`` in round 10 (VERDICT r9 task #7).  Families
here: a118 RFM segmentation, a117 forward as-of join, c49 MERGE INTO,
c50 k-anonymity ladder, a120 market-basket rules, c52 inferred
dimension members, a124 excess inventory (TPC-H Q20 shape), a125 ABC /
Pareto classes, c53 write-audit-publish, c54 subject-access export,
a134 linear attribution, c55 shuffle-partition advisor, a136 label
balance weights, c56 table checksum, a140 week-over-week top movers.

Float rule: see ``round6_stats`` docstring (shared repo convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import load_table

QUERIES: dict[str, QuerySpec] = {}

_DEC = "decimal(28,9)"

# ---------------------------------------------------------------------------
# a118 -- RFM segmentation: recency/frequency/monetary quintile rollup
# ---------------------------------------------------------------------------

_A118_Q = 5


def a118_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff(F.to_date("anchor"), F.to_date("last_order")).alias(
            "recency_days"
        ),
        "frequency",
        "monetary",
    )
    # quintiles via distributed_ntile (round-7 fix: the per-customer frame
    # grows linearly with the data, so the previous unpartitioned ntile
    # windows were single-task global sorts of the whole customer base --
    # VERDICT r6 finding #1).  Each call is row-for-row identical to
    # ntile() OVER (ORDER BY col [DESC], o_custkey ASC), with the sort
    # distributed by the two-level value-rank construction; the frame is
    # checkpointed once so the three chained calls don't recompute the
    # orders groupBy through each other's lineage.
    from ..operators.ordering import distributed_ntile

    per_cust = pin_frame(per_cust)
    tiled = pin_frame(
        distributed_ntile(
            per_cust, _A118_Q, "recency_days", tie_cols=["o_custkey"],
            tile_col="r_q",
        )
    )
    tiled = pin_frame(
        distributed_ntile(
            tiled, _A118_Q, "frequency", ascending=False,
            tie_cols=["o_custkey"], tile_col="f_q",
        )
    )
    tiled = distributed_ntile(
        tiled, _A118_Q, "monetary", ascending=False,
        tie_cols=["o_custkey"], tile_col="m_q",
    ).select("o_custkey", "monetary", "r_q", "f_q", "m_q")
    return (
        tiled.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").cast("double").alias("segment_monetary"),
        )
        .select(
            "r_q",
            "f_q",
            "m_q",
            "n_customers",
            "segment_monetary",
            ((F.col("r_q") <= 2) & (F.col("f_q") <= 2) & (F.col("m_q") <= 2)).alias(
                "is_champion"
            ),
        )
    )


A118_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY 1
), anchor AS (
  SELECT max(o_orderdate) AS anchor FROM orders
), rfm AS (
  SELECT o_custkey,
         datediff('day', CAST(last_order AS DATE), CAST(anchor AS DATE))
           AS recency_days,
         frequency, monetary
  FROM per_cust CROSS JOIN anchor
), tiled AS (
  SELECT o_custkey, monetary,
         ntile({_A118_Q}) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_q,
         ntile({_A118_Q}) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_q,
         ntile({_A118_Q}) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_q
  FROM rfm
)
SELECT r_q, f_q, m_q, count(*) AS n_customers,
       CAST(sum(monetary) AS DOUBLE) AS segment_monetary,
       r_q <= 2 AND f_q <= 2 AND m_q <= 2 AS is_champion
FROM tiled GROUP BY 1, 2, 3
"""

QUERIES["a118_rfm_segments"] = QuerySpec(a118_rfm_segments, A118_SQL)


# ---------------------------------------------------------------------------
# a117 -- forward as-of join: first click AT/AFTER each purchase
# ---------------------------------------------------------------------------


def a117_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join
    from ._util import ts_str

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["click_event_id", "click_ts"],
        direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        ts_str("ts").alias("ts"),
        "click_event_id",
        ts_str("click_ts").alias("click_ts"),
    )


A117_SQL = """
WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id AS click_event_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), j AS (
  SELECT p.user_id, p.event_id, p.ts, c.click_event_id, c.click_ts,
         row_number() OVER (PARTITION BY p.user_id, p.event_id
                            ORDER BY c.click_ts ASC, c.click_event_id ASC) AS rn
  FROM p LEFT JOIN c
    ON c.user_id = p.user_id AND c.click_ts >= p.ts
)
SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       click_event_id,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM j WHERE rn = 1
"""

QUERIES["a117_asof_forward"] = QuerySpec(a117_asof_forward, A117_SQL)


# ---------------------------------------------------------------------------
# c49 -- MERGE INTO: predicate-driven matched-update/delete + insert
# ---------------------------------------------------------------------------


def c49_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import merge_into

    o = load_table(spark, sf_dir, "orders")
    target = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    source = (
        o.where(k % 5 == 0)
        .select(
            "o_orderkey",
            F.lit("M").alias("o_orderstatus"),
            (F.col("o_totalprice") + 500.0).alias("o_totalprice"),
        )
        .unionByName(
            o.where(k % 9 == 0).select(
                (k + 2000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(9.99).alias("o_totalprice"),
            )
        )
    )
    return merge_into(
        target,
        source,
        "o_orderkey",
        delete_cond=lambda t, s: t["o_orderstatus"] == "F",
        update_cond=lambda t, s: s["o_totalprice"] > 1000.0,
        insert_cond=lambda t, s: s["o_totalprice"] < 100.0,
    )


C49_SQL = """
WITH t AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), s AS (
  SELECT o_orderkey, 'M' AS o_orderstatus, o_totalprice + 500.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey + 2000000, 'N', 9.99
  FROM orders WHERE o_orderkey % 9 = 0
), j AS (
  SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
         t.o_orderkey IS NOT NULL AS has_t, s.o_orderkey IS NOT NULL AS has_s,
         t.o_orderstatus AS t_status, t.o_totalprice AS t_price,
         s.o_orderstatus AS s_status, s.o_totalprice AS s_price
  FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN has_t AND has_s AND s_price > 1000.0 THEN s_status
            WHEN has_t THEN t_status ELSE s_status END AS o_orderstatus,
       CASE WHEN has_t AND has_s AND s_price > 1000.0 THEN s_price
            WHEN has_t THEN t_price ELSE s_price END AS o_totalprice
FROM j
WHERE NOT (has_t AND has_s AND t_status = 'F')
  AND (has_t OR s_price < 100.0)
"""

QUERIES["c49_merge_into"] = QuerySpec(c49_merge_into, C49_SQL)


# ---------------------------------------------------------------------------
# c50 -- k-anonymity generalization ladder (local recoding, 3 rungs)
# ---------------------------------------------------------------------------

_C50_K = 10


def c50_generalize_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name", "n_regionkey"
    )
    re = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    )
    c = cu.select("c_custkey", "c_nationkey", "c_mktsegment").join(
        F.broadcast(na), "c_nationkey"
    ).join(F.broadcast(re), "n_regionkey")
    # rung 0: (nation, segment); failing groups promote to (region,
    # segment); still-failing promote to ('*', segment).  Counts at each
    # rung cover only the rows that reached it (local recoding); every
    # rung is a groupBy + broadcast join of a group-sized frame
    l0 = c.groupBy("n_name", "c_mktsegment").agg(F.count(F.lit(1)).alias("n0"))
    c0 = c.join(F.broadcast(l0), ["n_name", "c_mktsegment"])
    out0 = (
        c0.where(F.col("n0") >= _C50_K)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.col("n_name").alias("qi_geo"),
            "c_mktsegment",
            F.lit(0).alias("gen_level"),
            "n_rows",
            F.lit(True).alias("k_ok"),
        )
    )
    rem1 = c0.where(F.col("n0") < _C50_K)
    l1 = rem1.groupBy("r_name", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n1")
    )
    c1 = rem1.join(F.broadcast(l1), ["r_name", "c_mktsegment"])
    out1 = (
        c1.where(F.col("n1") >= _C50_K)
        .groupBy("r_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.col("r_name").alias("qi_geo"),
            "c_mktsegment",
            F.lit(1).alias("gen_level"),
            "n_rows",
            F.lit(True).alias("k_ok"),
        )
    )
    out2 = (
        c1.where(F.col("n1") < _C50_K)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit("*").alias("qi_geo"),
            "c_mktsegment",
            F.lit(2).alias("gen_level"),
            "n_rows",
            (F.col("n_rows") >= _C50_K).alias("k_ok"),
        )
    )
    return out0.unionByName(out1).unionByName(out2)


C50_SQL = f"""
WITH c AS (
  SELECT c_custkey, n_name, r_name, c_mktsegment
  FROM customer
  JOIN nation ON n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n_regionkey
), l0 AS (
  SELECT n_name, c_mktsegment, count(*) AS n0 FROM c GROUP BY 1, 2
), c0 AS (
  SELECT c.*, l0.n0 FROM c JOIN l0 USING (n_name, c_mktsegment)
), out0 AS (
  SELECT n_name AS qi_geo, c_mktsegment, 0 AS gen_level,
         count(*) AS n_rows, TRUE AS k_ok
  FROM c0 WHERE n0 >= {_C50_K} GROUP BY 1, 2
), rem1 AS (
  SELECT * FROM c0 WHERE n0 < {_C50_K}
), l1 AS (
  SELECT r_name, c_mktsegment, count(*) AS n1 FROM rem1 GROUP BY 1, 2
), c1 AS (
  SELECT rem1.*, l1.n1 FROM rem1 JOIN l1 USING (r_name, c_mktsegment)
), out1 AS (
  SELECT r_name AS qi_geo, c_mktsegment, 1 AS gen_level,
         count(*) AS n_rows, TRUE AS k_ok
  FROM c1 WHERE n1 >= {_C50_K} GROUP BY 1, 2
), out2 AS (
  SELECT '*' AS qi_geo, c_mktsegment, 2 AS gen_level,
         count(*) AS n_rows, count(*) >= {_C50_K} AS k_ok
  FROM c1 WHERE n1 < {_C50_K} GROUP BY c_mktsegment
)
SELECT * FROM out0 UNION ALL SELECT * FROM out1 UNION ALL SELECT * FROM out2
"""

QUERIES["c50_generalize_kanon"] = QuerySpec(c50_generalize_kanon, C50_SQL)


# ---------------------------------------------------------------------------
# a120 -- market-basket association rules over order brand baskets
# ---------------------------------------------------------------------------

_A120_TOPK, _A120_MIN_SUPP = 20, 2


def a120_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    # basket = distinct brands per order: the item universe is tiny (25
    # brands) so every support frame below broadcasts; the only big
    # shuffles are the basket distinct and the okey self-join, both keyed
    # on l_orderkey and bounded by basket size (pairs per order ~ |basket|^2
    # with |basket| <= 25, not corpus-quadratic)
    baskets = (
        li.join(F.broadcast(pa.select("p_partkey", "p_brand")),
                li.l_partkey == pa.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n_orders = baskets.agg(F.countDistinct("okey").alias("n"))
    item_supp = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("supp"))
    a = baskets.select("okey", F.col("item").alias("item_a"))
    b = baskets.select("okey", F.col("item").alias("item_b"))
    pair_supp = (
        a.join(b, "okey")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .where(F.col("pair_n") >= _A120_MIN_SUPP)
    )
    rules = (
        pair_supp.join(
            F.broadcast(item_supp.select(F.col("item").alias("item_a"),
                                         F.col("supp").alias("a_n"))),
            "item_a",
        )
        .join(
            F.broadcast(item_supp.select(F.col("item").alias("item_b"),
                                         F.col("supp").alias("b_n"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    conf = F.col("pair_n") / F.col("a_n")
    lift = conf * F.col("n") / F.col("b_n")
    out = rules.select(
        "item_a",
        "item_b",
        "pair_n",
        F.round(F.col("pair_n") / F.col("n"), 6).alias("support"),
        F.round(conf, 6).alias("confidence"),
        F.round(lift, 6).alias("lift"),
    )
    top = out.orderBy(
        F.col("pair_n").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(_A120_TOPK)
    w = Window.orderBy(
        F.col("pair_n").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    )
    return top.withColumn("pos", F.row_number().over(w))


A120_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n_orders AS (
  SELECT count(DISTINCT okey) AS n FROM baskets
), item_supp AS (
  SELECT item, count(*) AS supp FROM baskets GROUP BY 1
), pair_supp AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_n
  FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= {_A120_MIN_SUPP}
), rules AS (
  SELECT item_a, item_b, pair_n,
         round(CAST(pair_n AS DOUBLE) / n.n, 6) AS support,
         round(CAST(pair_n AS DOUBLE) / sa.supp, 6) AS confidence,
         round(CAST(pair_n AS DOUBLE) / sa.supp * n.n / sb.supp, 6) AS lift,
         row_number() OVER (ORDER BY pair_n DESC, item_a ASC, item_b ASC)
           AS pos
  FROM pair_supp
  JOIN item_supp sa ON sa.item = item_a
  JOIN item_supp sb ON sb.item = item_b
  CROSS JOIN n_orders n
)
SELECT item_a, item_b, pair_n, support, confidence, lift, pos
FROM rules WHERE pos <= {_A120_TOPK}
"""

QUERIES["a120_basket_rules"] = QuerySpec(a120_basket_rules, A120_SQL)


# ---------------------------------------------------------------------------
# c52 -- early-arriving facts: inferred dimension members + reconciliation
# ---------------------------------------------------------------------------


def c52_inferred_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    # initial dim load is missing every 7th key; facts referencing them
    # must not be dropped or quarantined -- the Kimball fix is to insert
    # placeholder ("inferred") members, then reconcile when the late dim
    # batch lands.  All joins are key equi-joins; the anti-join side is
    # fact-distinct keys (small), so the dim never re-shuffles.
    dim = cu.where(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_name", "c_nationkey"
    )
    fact_keys = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    missing = fact_keys.join(dim.select("c_custkey"), "c_custkey", "left_anti")
    inferred = missing.select(
        "c_custkey",
        F.lit("UNKNOWN").alias("c_name"),
        F.lit(-1).alias("c_nationkey"),
        F.lit(True).alias("was_inferred"),
    )
    dim2 = dim.withColumn("was_inferred", F.lit(False)).unionByName(inferred)
    late = cu.select(
        "c_custkey",
        F.col("c_name").alias("real_name"),
        F.col("c_nationkey").alias("real_nation"),
    )
    j = dim2.join(late, "c_custkey", "left")
    fix = F.col("was_inferred") & F.col("real_name").isNotNull()
    return j.select(
        "c_custkey",
        F.when(fix, F.col("real_name")).otherwise(F.col("c_name")).alias("c_name"),
        F.when(fix, F.col("real_nation"))
        .otherwise(F.col("c_nationkey"))
        .alias("c_nationkey"),
        "was_inferred",
        fix.alias("reconciled"),
    )


C52_SQL = """
WITH dim AS (
  SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_custkey % 7 <> 0
), fact_keys AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
), inferred AS (
  SELECT f.c_custkey, 'UNKNOWN' AS c_name, -1 AS c_nationkey,
         TRUE AS was_inferred
  FROM fact_keys f LEFT JOIN dim d USING (c_custkey)
  WHERE d.c_custkey IS NULL
), dim2 AS (
  SELECT c_custkey, c_name, c_nationkey, FALSE AS was_inferred FROM dim
  UNION ALL SELECT * FROM inferred
)
SELECT d.c_custkey,
       CASE WHEN d.was_inferred AND c.c_name IS NOT NULL
            THEN c.c_name ELSE d.c_name END AS c_name,
       CASE WHEN d.was_inferred AND c.c_name IS NOT NULL
            THEN c.c_nationkey ELSE d.c_nationkey END AS c_nationkey,
       d.was_inferred,
       d.was_inferred AND c.c_name IS NOT NULL AS reconciled
FROM dim2 d LEFT JOIN customer c USING (c_custkey)
"""

QUERIES["c52_inferred_members"] = QuerySpec(c52_inferred_members, C52_SQL)


# ---------------------------------------------------------------------------
# a124 -- excess-inventory suppliers (TPC-H Q20 shape: decorrelated
# correlated aggregate -- per-(part,supp) totals vs 1.5x the part average)
# ---------------------------------------------------------------------------

_A124_FACTOR = 1.5


def a124_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    # the correlated "quantity > 1.5 * avg for that part" must decorrelate
    # to agg + equi-join: ps and pavg share the l_partkey hash
    # partitioning, so the join reuses the grouping exchange
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq")
    )
    pavg = ps.groupBy("l_partkey").agg(
        (F.sum("sq").cast("double") / F.count(F.lit(1))).alias("avg_sq")
    )
    qual = ps.join(pavg, "l_partkey").where(
        F.col("sq").cast("double") > _A124_FACTOR * F.col("avg_sq")
    )
    per_supp = qual.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_excess_parts"),
        F.sum("sq").cast("double").alias("excess_qty"),
    )
    return per_supp.join(
        F.broadcast(su.select(F.col("s_suppkey").alias("l_suppkey"), "s_name")),
        "l_suppkey",
    ).select(
        F.col("l_suppkey").alias("s_suppkey"),
        "s_name",
        "n_excess_parts",
        "excess_qty",
    )


A124_SQL = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
  FROM lineitem GROUP BY 1, 2
), pavg AS (
  SELECT l_partkey, CAST(sum(sq) AS DOUBLE) / count(*) AS avg_sq
  FROM ps GROUP BY 1
), qual AS (
  SELECT ps.* FROM ps JOIN pavg USING (l_partkey)
  WHERE CAST(sq AS DOUBLE) > {_A124_FACTOR} * avg_sq
), per_supp AS (
  SELECT l_suppkey, count(*) AS n_excess_parts,
         CAST(sum(sq) AS DOUBLE) AS excess_qty
  FROM qual GROUP BY 1
)
SELECT l_suppkey AS s_suppkey, s_name, n_excess_parts, excess_qty
FROM per_supp JOIN supplier ON s_suppkey = l_suppkey
"""

QUERIES["a124_excess_inventory"] = QuerySpec(a124_excess_inventory, A124_SQL)


# ---------------------------------------------------------------------------
# a125 -- ABC (Pareto) analysis: brand revenue classes per supplier region
# ---------------------------------------------------------------------------

_A125_A, _A125_B = 0.8, 0.95


def a125_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    dims = (
        su.join(na, su.s_nationkey == na.n_nationkey)
        .join(re, na.n_regionkey == re.r_regionkey)
        .select(F.col("s_suppkey").alias("l_suppkey"), "r_name")
    )
    rev = (
        li.join(F.broadcast(pa.select("p_partkey", "p_brand")),
                li.l_partkey == pa.p_partkey)
        .join(F.broadcast(dims), "l_suppkey")
        .groupBy("r_name", "p_brand")
        .agg(
            # exact decimal product (operands cast BEFORE multiplying --
            # casting the double product would round half-up vs DuckDB's
            # half-even)
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (
                    F.lit(1).cast("decimal(18,2)")
                    - F.col("l_discount").cast("decimal(18,2)")
                )
            ).alias("rev")
        )
    )
    # cumulative share runs over the (regions x brands) aggregate -- a
    # bounded frame; the corpus never enters a window
    w = Window.partitionBy("r_name").orderBy(
        F.col("rev").desc(), F.col("p_brand").asc()
    )
    tot = Window.partitionBy("r_name")
    share = F.sum("rev").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ).cast("double") / F.sum("rev").over(tot).cast("double")
    cls = (
        F.when(share <= _A125_A, "A")
        .when(share <= _A125_B, "B")
        .otherwise("C")
    )
    return rev.select(
        "r_name",
        "p_brand",
        F.col("rev").cast("double").alias("revenue"),
        F.round(share, 6).alias("cum_share"),
        cls.alias("abc_class"),
    )


A125_SQL = f"""
WITH rev AS (
  SELECT r_name, p_brand,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  GROUP BY 1, 2
), shares AS (
  SELECT r_name, p_brand, CAST(rev AS DOUBLE) AS revenue,
         CAST(sum(rev) OVER (PARTITION BY r_name
                             ORDER BY rev DESC, p_brand ASC
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE) AS share
  FROM rev
)
SELECT r_name, p_brand, revenue, round(share, 6) AS cum_share,
       CASE WHEN share <= {_A125_A} THEN 'A'
            WHEN share <= {_A125_B} THEN 'B' ELSE 'C' END AS abc_class
FROM shares
"""

QUERIES["a125_abc_analysis"] = QuerySpec(a125_abc_analysis, A125_SQL)


# ---------------------------------------------------------------------------
# c53 -- write-audit-publish: staging batches gated by expectations
# ---------------------------------------------------------------------------

_C53_MIN_ROWS = 100


def c53_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # batch 1: the clean daily load; batch 2: a poisoned load (negated
    # prices for every 11th key) that the gate must hold back.  The
    # "publish" is modeled as the gated union -- only batches with every
    # expectation green contribute rows downstream.
    b1 = o.select("o_orderkey", "o_totalprice").withColumn("batch_id", F.lit(1))
    b2 = (
        o.select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 11 == 0, -F.col("o_totalprice"))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .withColumn("batch_id", F.lit(2))
    )
    both = b1.unionByName(b2)
    audit = both.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
            "n_null_keys"
        ),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias(
            "n_negative_prices"
        ),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_dup_keys"),
    )
    passed = (
        (F.col("n_rows") >= _C53_MIN_ROWS)
        & (F.col("n_null_keys") == 0)
        & (F.col("n_negative_prices") == 0)
        & (F.col("n_dup_keys") == 0)
    )
    # publishing is all-or-nothing per batch, so published_rows is
    # derivable from the audit frame (the oracle's CASE does the same) --
    # no second scan of the staging batches, no extra join
    return audit.select(
        "batch_id",
        "n_rows",
        "n_null_keys",
        "n_negative_prices",
        "n_dup_keys",
        passed.alias("published"),
        F.when(passed, F.col("n_rows")).otherwise(F.lit(0)).alias(
            "published_rows"
        ),
    )


C53_SQL = f"""
WITH batches AS (
  SELECT 1 AS batch_id, o_orderkey, o_totalprice FROM orders
  UNION ALL
  SELECT 2, o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN -o_totalprice
              ELSE o_totalprice END
  FROM orders
), audit AS (
  SELECT batch_id, count(*) AS n_rows,
         sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_null_keys,
         sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
           AS n_negative_prices,
         count(*) - count(DISTINCT o_orderkey) AS n_dup_keys
  FROM batches GROUP BY 1
)
SELECT batch_id, n_rows, n_null_keys, n_negative_prices, n_dup_keys,
       (n_rows >= {_C53_MIN_ROWS} AND n_null_keys = 0
        AND n_negative_prices = 0 AND n_dup_keys = 0) AS published,
       CASE WHEN n_rows >= {_C53_MIN_ROWS} AND n_null_keys = 0
                 AND n_negative_prices = 0 AND n_dup_keys = 0
            THEN n_rows ELSE 0 END AS published_rows
FROM audit
"""

QUERIES["c53_write_audit_publish"] = QuerySpec(
    c53_write_audit_publish, C53_SQL
)


# ---------------------------------------------------------------------------
# c54 -- GDPR subject-access export: every row held about one user, tagged
# with provenance (the read-side complement of c35's retraction/delete)
# ---------------------------------------------------------------------------

_C54_USER = 42


def c54_subject_access_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import ts_str

    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    # each source filters on the subject key BEFORE projecting to the
    # common export schema -- predicate pushdown reaches every scan, so
    # the export reads only the subject's row groups at any table size
    lit_user = F.lit(_C54_USER)
    profile = cu.where(F.col("c_custkey") == _C54_USER).select(
        F.lit("customer").alias("source_table"),
        F.col("c_custkey").cast("string").alias("record_key"),
        F.concat_ws(
            "|", F.col("c_name"), F.col("c_mktsegment"),
            F.col("c_acctbal").cast("string"),
        ).alias("payload"),
        F.lit(None).cast("string").alias("event_time"),
    )
    orders_rows = o.where(F.col("o_custkey") == _C54_USER).select(
        F.lit("orders").alias("source_table"),
        F.col("o_orderkey").cast("string").alias("record_key"),
        F.concat_ws(
            "|", F.col("o_orderstatus"), F.col("o_totalprice").cast("string")
        ).alias("payload"),
        ts_str("o_orderdate").alias("event_time"),
    )
    event_rows = e.where(F.col("user_id") == lit_user).select(
        F.lit("events").alias("source_table"),
        F.col("event_id").cast("string").alias("record_key"),
        F.concat_ws("|", F.col("event_type"), F.col("value").cast("string")).alias(
            "payload"
        ),
        ts_str("ts").alias("event_time"),
    )
    return profile.unionByName(orders_rows).unionByName(event_rows)


C54_SQL = f"""
SELECT 'customer' AS source_table, CAST(c_custkey AS VARCHAR) AS record_key,
       concat_ws('|', c_name, c_mktsegment, CAST(c_acctbal AS VARCHAR))
         AS payload,
       CAST(NULL AS VARCHAR) AS event_time
FROM customer WHERE c_custkey = {_C54_USER}
UNION ALL
SELECT 'orders', CAST(o_orderkey AS VARCHAR),
       concat_ws('|', o_orderstatus, CAST(o_totalprice AS VARCHAR)),
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
FROM orders WHERE o_custkey = {_C54_USER}
UNION ALL
SELECT 'events', CAST(event_id AS VARCHAR),
       concat_ws('|', event_type, CAST(value AS VARCHAR)),
       strftime(ts, '%Y-%m-%d %H:%M:%S')
FROM events WHERE user_id = {_C54_USER}
"""

QUERIES["c54_subject_access_export"] = QuerySpec(
    c54_subject_access_export, C54_SQL
)


# ---------------------------------------------------------------------------
# a134 -- linear multi-touch attribution: every click in the 30 minutes
# BEFORE a purchase shares the purchase value equally (a91 is last-touch;
# linear is the other standard model).  Same bucketed range join as q15.
# ---------------------------------------------------------------------------


def a134_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    windows = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("win_start"),
        F.col("ts").alias("win_end"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    touched = range_join_bucketed(
        clicks,
        windows,
        on="user_id",
        left_ts="ts",
        range_start="win_start",
        range_end="win_end",
        payload=["purchase_event_id", "purchase_value"],
    )
    # clicks strictly before the purchase ([ts-30min, ts)); equal credit =
    # value / n_touches -- one double division of a double by an exact int,
    # per-term rounded then decimal-summed per click (order-independent)
    per_purchase = touched.groupBy("purchase_event_id").agg(
        F.count(F.lit(1)).alias("n_touches")
    )
    credited = touched.join(F.broadcast(per_purchase), "purchase_event_id")
    return (
        credited.groupBy("click_event_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases_touched"),
            F.sum(
                F.round(F.col("purchase_value") / F.col("n_touches"), 9).cast(_DEC)
            )
            .cast("double")
            .alias("total_credit"),
        )
        .select(
            "click_event_id",
            "user_id",
            "n_purchases_touched",
            F.round("total_credit", 6).alias("total_credit"),
        )
    )


A134_SQL = """
WITH clicks AS (
  SELECT user_id, ts, event_id AS click_event_id
  FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, event_id AS purchase_event_id, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), touched AS (
  SELECT c.click_event_id, c.user_id, p.purchase_event_id, p.purchase_value
  FROM clicks c JOIN purchases p
    ON p.user_id = c.user_id
   AND c.ts >= p.ts - INTERVAL 30 MINUTES
   AND c.ts < p.ts
), per_purchase AS (
  SELECT purchase_event_id, count(*) AS n_touches
  FROM touched GROUP BY 1
)
SELECT click_event_id, user_id,
       count(*) AS n_purchases_touched,
       round(CAST(sum(CAST(round(purchase_value / n_touches, 9)
                           AS DECIMAL(28,9))) AS DOUBLE), 6) AS total_credit
FROM touched JOIN per_purchase USING (purchase_event_id)
GROUP BY 1, 2
"""

QUERIES["a134_linear_attribution"] = QuerySpec(
    a134_linear_attribution, A134_SQL
)


# ---------------------------------------------------------------------------
# c55 -- shuffle-partition advisor: recommended partition counts per table
# from row counts and estimated row widths (target 128 MB per partition)
# ---------------------------------------------------------------------------

_C55_TARGET_MB = 128


def c55_shuffle_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents")

    def profile(df: DataFrame, name: str, width_expr) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(width_expr.cast("bigint")).alias("est_bytes"),
        )

    # width estimates: fixed numeric/ts columns + measured string lengths
    # (one agg per table -- the advisor reads stats, it never re-shuffles)
    prof = (
        profile(li, "lineitem", F.lit(80) + F.length("l_returnflag")
                + F.length("l_linestatus"))
        .unionByName(profile(o, "orders", F.lit(48)
                             + F.length("o_orderstatus")
                             + F.length("o_orderpriority")))
        .unionByName(profile(e, "events", F.lit(40) + F.length("event_type")
                             + F.length("props")))
        .unionByName(profile(d, "documents", F.lit(16) + F.length("text")
                             + F.length("lang") + F.length("source")))
    )
    target = _C55_TARGET_MB * 1024 * 1024
    rec = F.greatest(
        F.lit(1), F.ceil(F.col("est_bytes") / F.lit(target)).cast("bigint")
    )
    return prof.select(
        "table_name",
        "n_rows",
        "est_bytes",
        rec.alias("recommended_partitions"),
        F.round(F.col("est_bytes") / F.col("n_rows"), 6).alias("est_row_bytes"),
    )


C55_SQL = f"""
WITH prof AS (
  SELECT 'lineitem' AS table_name, count(*) AS n_rows,
         sum(80 + length(l_returnflag) + length(l_linestatus)) AS est_bytes
  FROM lineitem
  UNION ALL
  SELECT 'orders', count(*),
         sum(48 + length(o_orderstatus) + length(o_orderpriority))
  FROM orders
  UNION ALL
  SELECT 'events', count(*), sum(40 + length(event_type) + length(props))
  FROM events
  UNION ALL
  SELECT 'documents', count(*),
         sum(16 + length(text) + length(lang) + length(source))
  FROM documents
)
SELECT table_name, n_rows, est_bytes,
       greatest(1, CAST(ceil(CAST(est_bytes AS DOUBLE)
                             / {_C55_TARGET_MB * 1024 * 1024}) AS BIGINT))
         AS recommended_partitions,
       round(CAST(est_bytes AS DOUBLE) / n_rows, 6) AS est_row_bytes
FROM prof
"""

QUERIES["c55_shuffle_advisor"] = QuerySpec(c55_shuffle_advisor, C55_SQL)


# ---------------------------------------------------------------------------
# a136 -- label balance weights: inverse-frequency resampling weights per
# class (the balance-target complement of a49's given-target mixture)
# ---------------------------------------------------------------------------


def a136_label_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    mx = counts.agg(F.max("n").alias("max_n"))
    return (
        counts.crossJoin(F.broadcast(mx))
        .select(
            "label",
            "n",
            "max_n",
            F.round(F.col("max_n") / F.col("n"), 6).alias("weight"),
            (F.col("n") * 2 < F.col("max_n")).alias("underrepresented"),
        )
    )


A136_SQL = """
WITH counts AS (
  SELECT label, count(*) AS n FROM embeddings GROUP BY 1
), mx AS (
  SELECT max(n) AS max_n FROM counts
)
SELECT label, n, max_n,
       round(CAST(max_n AS DOUBLE) / n, 6) AS weight,
       n * 2 < max_n AS underrepresented
FROM counts CROSS JOIN mx
"""

QUERIES["a136_label_balance_weights"] = QuerySpec(
    a136_label_balance_weights, A136_SQL
)


# ---------------------------------------------------------------------------
# c56 -- table checksum + write-path verification: order-independent
# XOR-of-row-digests checksum, recomputed after a parquet round trip
# ---------------------------------------------------------------------------


def _row_digest(cols) -> "F.Column":
    """Order-independent row digest: first 8 md5 hex chars -> BIGINT.

    XOR-aggregating these is commutative/associative, so the table
    checksum is partitioning-independent -- the migration-verification
    primitive (c24 checks values row-by-row; this is the O(1)-output
    form that scales to tables too big to diff).

    Each column is coalesced to a NUL-prefixed sentinel BEFORE concat_ws
    (round-7, per round-6 advice): concat_ws silently SKIPS nulls, so
    ('a', NULL, 'b') and ('a', 'b', NULL) would otherwise collide.  The
    c56 columns happen to be non-null TPC-H fields, but the primitive is
    reusable on nullable columns; the DuckDB oracle mirrors the sentinel
    (chr(0) || 'NULL')."""
    canon = F.concat_ws(
        "|",
        *[F.coalesce(c.cast("string"), F.lit("\x00NULL")) for c in cols],
    )
    return F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")


def c56_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ._util import day_str

    o = load_table(spark, sf_dir, "orders")
    canon_cols = [
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        day_str("o_orderdate"),
    ]
    src = o.select(
        _row_digest(canon_cols).alias("dg"),
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        day_str("o_orderdate").alias("o_day"),
    )
    scratch = tempfile.mkdtemp(prefix="ods_spark_c56_")
    try:
        src.drop("dg").write.parquet(f"{scratch}/copy")
        back = spark.read.parquet(f"{scratch}/copy")
        back_cs = back.agg(
            F.bit_xor(
                _row_digest(
                    [
                        F.col("o_orderkey").cast("string"),
                        F.col("o_custkey").cast("string"),
                        F.col("o_orderstatus"),
                        F.col("o_day"),
                    ]
                )
            ).alias("copy_checksum"),
            F.count(F.lit(1)).alias("copy_rows"),
        )
        orig_cs = src.agg(
            F.bit_xor("dg").alias("checksum"), F.count(F.lit(1)).alias("n_rows")
        )
        out = (
            orig_cs.crossJoin(back_cs)
            .select(
                F.lit("orders").alias("table_name"),
                "n_rows",
                "checksum",
                (F.col("checksum") == F.col("copy_checksum")).alias(
                    "roundtrip_checksum_ok"
                ),
                (F.col("n_rows") == F.col("copy_rows")).alias(
                    "roundtrip_count_ok"
                ),
            )
        )
        return pin_frame(out, eager=True)  # pre-rmtree, executor-side
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


C56_SQL = """
WITH dg AS (
  SELECT CAST(('0x' || substr(md5(concat_ws('|',
           coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'NULL'),
           coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'NULL'),
           coalesce(o_orderstatus, chr(0) || 'NULL'),
           coalesce(strftime(o_orderdate, '%Y%m%d'), chr(0) || 'NULL'))),
           1, 8)) AS BIGINT)
           AS dg
  FROM orders
)
SELECT 'orders' AS table_name, count(*) AS n_rows,
       bit_xor(dg) AS checksum,
       TRUE AS roundtrip_checksum_ok,
       TRUE AS roundtrip_count_ok
FROM dg
"""

QUERIES["c56_table_checksum"] = QuerySpec(c56_table_checksum, C56_SQL)


# ---------------------------------------------------------------------------
# a140 -- week-over-week top movers: largest absolute brand-revenue deltas
# ---------------------------------------------------------------------------

_A140_TOPK = 10


def a140_topk_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    weekly = (
        li.join(F.broadcast(pa.select("p_partkey", "p_brand")),
                li.l_partkey == pa.p_partkey)
        .groupBy(
            F.date_format(F.date_trunc("week", "l_shipdate"), "yyyy-MM-dd")
            .alias("week"),
            "p_brand",
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    # lag runs over the (weeks x brands) aggregate; deltas are exact
    # decimals, so ordering ties resolve identically in both engines
    w = Window.partitionBy("p_brand").orderBy("week")
    deltas = weekly.select(
        "week",
        "p_brand",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev") - F.lag("rev").over(w)).alias("__d"),
    ).where(F.col("__d").isNotNull())
    top = deltas.orderBy(
        F.abs("__d").desc(), F.col("week").asc(), F.col("p_brand").asc()
    ).limit(_A140_TOPK)
    rw = Window.orderBy(
        F.abs("__d").desc(), F.col("week").asc(), F.col("p_brand").asc()
    )
    return top.withColumn("pos", F.row_number().over(rw)).select(
        "week",
        "p_brand",
        "revenue",
        F.col("__d").cast("double").alias("wow_delta"),
        "pos",
    )


A140_SQL = f"""
WITH weekly AS (
  SELECT strftime(date_trunc('week', l_shipdate), '%Y-%m-%d') AS week,
         p_brand,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), deltas AS (
  SELECT week, p_brand, CAST(rev AS DOUBLE) AS revenue,
         rev - lag(rev) OVER (PARTITION BY p_brand ORDER BY week) AS d
  FROM weekly
), ranked AS (
  SELECT week, p_brand, revenue, CAST(d AS DOUBLE) AS wow_delta,
         row_number() OVER (ORDER BY abs(d) DESC, week ASC, p_brand ASC)
           AS pos
  FROM deltas WHERE d IS NOT NULL
)
SELECT week, p_brand, revenue, wow_delta, pos
FROM ranked WHERE pos <= {_A140_TOPK}
"""

QUERIES["a140_topk_movers"] = QuerySpec(a140_topk_movers, A140_SQL)
