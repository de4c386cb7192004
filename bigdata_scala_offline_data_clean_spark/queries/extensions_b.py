"""Round-4/5 extension queries, part two (c33-c38, a81-a90).

Split out of ``extensions.py`` in round 10 (VERDICT r9 task #7: no
module over 1500 LoC); ``extensions.py`` imports this module and merges
``QUERIES`` so the global registry order is unchanged (the cut is a
contiguous suffix).  Families here: warehouse/pipeline (c33 dynamic
partition pruning, c34 KL drift, c35 retraction aggregate, c36 golden
record, c37 SQL-warehouse round-trip, c38 multi-format union) and
analytics/window shapes (a81 rank family, a82 join hints, a83 binary
segments, a84 CDC chunking, a85 Pareto frontier, a86 VARIANT rollup,
a87 cumulative distinct, a88 decayed sum, a89 Benford audit, a90
event streaks).

Float rule: see ``extensions.py`` docstring (shared repo convention).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import day_str, dsum, load_table, ts_str

QUERIES: dict[str, QuerySpec] = {}

# ---------------------------------------------------------------------------
# c33 -- dynamic partition pruning: the fact table is written partitioned
# by etl_date; the dim side's filter is only known at run time (it reads a
# table), so Catalyst injects a dynamicpruning subquery into the fact
# scan's PartitionFilters and the fact reads ONLY the matching partition
# directories.  At 100 TB this is the difference between scanning 3 days
# and scanning 3 years.  The plan gate asserts the dynamicpruning
# expression; the oracle checks the values.
# ---------------------------------------------------------------------------


def c33_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import Warehouse

    ev = load_table(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="ods_spark_c33_")
    try:
        wh = Warehouse(spark, scratch)
        fact = ev.select(
            "event_id", "user_id", "value", day_str("ts").alias("etl_date")
        )
        wh.overwrite_partitions(fact, "dwd", "c33_events")
        w = Window.orderBy("etl_date")
        # day dim with a run-time attribute; the window runs over the tiny
        # distinct-day frame, not the events
        dim = (
            fact.select("etl_date").distinct()
            .withColumn("day_rank", F.row_number().over(w))
        )
        wh.overwrite_table(dim, "dwd", "c33_days")
        f = wh.table("dwd", "c33_events")
        d = wh.table("dwd", "c33_days").where(F.col("day_rank") <= 3)
        out = (
            f.join(F.broadcast(d), "etl_date")
            # partition-directory values read back type-inferred (int);
            # normalize to the string form the oracle computes
            .groupBy(F.col("etl_date").cast("string").alias("etl_date"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("value_sum"),
            )
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


C33_SQL = """
WITH days AS (
  SELECT DISTINCT strftime(ts, '%Y%m%d') AS etl_date FROM events
  ORDER BY etl_date LIMIT 3
)
SELECT strftime(ts, '%Y%m%d') AS etl_date,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
WHERE strftime(ts, '%Y%m%d') IN (SELECT etl_date FROM days)
GROUP BY 1
"""

QUERIES["c33_dpp_join"] = QuerySpec(c33_dpp_join, C33_SQL)

# ---------------------------------------------------------------------------
# c34 -- distribution-drift monitor (quality.histogram_kl_drift): per-day
# KL divergence of the value histogram vs the event type's overall
# distribution -- catches statistically-wrong ingests that pass row-level
# expectations.  Exact integer bucket ratios; ln terms rounded to 9 and
# summed through DECIMAL(28,9) (order-independent, engine-portable).
# ---------------------------------------------------------------------------


def c34_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import histogram_kl_drift

    e = load_table(spark, sf_dir, "events").withColumn("day", day_str("ts"))
    return histogram_kl_drift(e, ["event_type"], "day", "value")


C34_SQL = """
WITH bounds AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM events GROUP BY event_type
), b AS (
  SELECT e.event_type, strftime(ts, '%Y%m%d') AS day,
         CASE WHEN hi = lo THEN 0
              ELSE least(9, CAST(floor((value - lo) / ((hi - lo) / 10))
                               AS INTEGER)) END AS bucket
  FROM events e JOIN bounds USING (event_type)
), dc AS (
  SELECT event_type, day, bucket, count(*) AS dcnt
  FROM b GROUP BY 1, 2, 3
), ac AS (
  SELECT event_type, bucket, count(*) AS acnt FROM b GROUP BY 1, 2
), dn AS (
  SELECT event_type, day, count(*) AS dtot FROM b GROUP BY 1, 2
), an AS (
  SELECT event_type, count(*) AS atot FROM b GROUP BY 1
)
SELECT dc.event_type, dc.day,
       round(CAST(sum(CAST(round(
           (dcnt / dtot) * ln((dcnt / dtot) / (acnt / atot)), 9)
         AS DECIMAL(28,9))) AS DOUBLE), 6) AS kl_divergence
FROM dc
JOIN ac ON ac.event_type = dc.event_type AND ac.bucket = dc.bucket
JOIN dn ON dn.event_type = dc.event_type AND dn.day = dc.day
JOIN an ON an.event_type = dc.event_type
GROUP BY dc.event_type, dc.day
"""

QUERIES["c34_drift_kl"] = QuerySpec(c34_drift_kl, C34_SQL)

# ---------------------------------------------------------------------------
# a81 -- relative-rank window functions (ntile / percent_rank / cume_dist)
# over a per-event-type partition with a (value, event_id) total order:
# the remaining stock ranking functions not exercised by a74's navigation
# set.  Partitioned windows -- no global sort anywhere.
# ---------------------------------------------------------------------------


def a81_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


A81_SQL = """
SELECT event_id, event_type,
       ntile(10) OVER w AS decile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""

QUERIES["a81_rank_functions"] = QuerySpec(a81_rank_functions, A81_SQL)

# ---------------------------------------------------------------------------
# a82 -- join-strategy hint: SHUFFLE_HASH forces a ShuffledHashJoin where
# AQE/statistics would pick sort-merge.  The mid-size-side regime where
# building a hash map beats sorting both inputs is a real cluster tuning
# lever; the plan gate asserts the hint is honored, the oracle checks the
# values are unchanged (hints affect strategy, never semantics).
# ---------------------------------------------------------------------------


def a82_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").hint("shuffle_hash")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice").alias("revenue"),
    )


A82_SQL = """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority
"""

QUERIES["a82_join_hints"] = QuerySpec(a82_join_hints, A82_SQL)

# ---------------------------------------------------------------------------
# a83 -- binary payload segmentation (multimodal.binary_segments): blobs
# split into fixed 256-byte windows as pure column arithmetic (substring
# has byte semantics on BINARY) -- the audio/video chunking plumbing.
# The testdata payload is utf-8 of ASCII text, so the oracle slices the
# text form byte-for-byte.
# ---------------------------------------------------------------------------


def a83_binary_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, binary_segments

    d = load_table(spark, sf_dir, "documents")
    return binary_segments(attach_binary_payload(d))


A83_SQL = """
SELECT doc_id, CAST(i AS BIGINT) AS seg_id,
       strlen(substr(text, i * 256 + 1, 256)) AS seg_len,
       md5(substr(text, i * 256 + 1, 256)) AS seg_md5
FROM documents,
     LATERAL unnest(generate_series(
         0, CAST(ceil(strlen(text) / 256.0) - 1 AS INT))) AS u(i)
"""

QUERIES["a83_binary_segments"] = QuerySpec(a83_binary_segments, A83_SQL)

# ---------------------------------------------------------------------------
# a84 -- content-defined chunking (dedup.cdc_chunks): boundaries where the
# trailing 16-char window hashes to 0 mod 64.  Unlike a47's fixed windows,
# CDC boundaries re-synchronize after insertions, so shifted-but-identical
# content keeps identical chunk digests -- the storage-dedup primitive.
# ---------------------------------------------------------------------------


def a84_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cdc_chunks

    d = load_table(spark, sf_dir, "documents")
    return cdc_chunks(d, window=16, mask=64)


A84_SQL = """
WITH d AS (
  SELECT doc_id, text, strlen(text) AS n FROM documents
), pos AS (
  SELECT doc_id, text, unnest(generate_series(16, n)) AS p
  FROM d WHERE n >= 16
), bnd AS (
  SELECT doc_id, p FROM pos
  WHERE CAST(('0x' || substr(md5(substr(text, p - 15, 16)), 1, 8)) AS BIGINT)
        % 64 = 0
), ends AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT doc_id, p FROM bnd
        UNION ALL SELECT doc_id, n AS p FROM d)
), seg AS (
  SELECT e.doc_id,
         row_number() OVER (PARTITION BY e.doc_id ORDER BY p) AS seg_no,
         COALESCE(LAG(p) OVER (PARTITION BY e.doc_id ORDER BY p), 0) + 1 AS s,
         p AS en, d.text
  FROM ends e JOIN d ON d.doc_id = e.doc_id
)
SELECT doc_id, seg_no,
       strlen(substr(text, s, en - s + 1)) AS seg_len,
       md5(substr(text, s, en - s + 1)) AS seg_md5
FROM seg
"""

QUERIES["a84_cdc_chunking"] = QuerySpec(a84_cdc_chunking, A84_SQL)

# ---------------------------------------------------------------------------
# c35 -- GDPR delete propagation via retraction (incremental.retract_rows):
# purged users' rows become NEGATED partials merged into the cumulative
# rollup in O(|deleted|) -- no history rescan.  The oracle aggregates the
# surviving rows from scratch; the driver hash proves retract-then-merge
# equals full recompute (decimal-exact sums make it bit-equal).
# ---------------------------------------------------------------------------


def c35_retraction_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import finalize_agg, partial_agg, retract_rows

    e = load_table(spark, sf_dir, "events")
    cum = partial_agg(e, ["event_type"], sum_cols=("value",))
    forgotten = e.where(F.col("user_id") % 17 == 0)
    corrected = retract_rows(cum, forgotten, ["event_type"], sum_cols=("value",))
    # retract_rows leaves n_rows=0 tombstones for fully-retracted keys; the
    # oracle aggregates surviving rows only, so filter them symmetrically
    # (no event_type group is fully deleted in this fixture, but the query
    # must not depend on that)
    return (
        finalize_agg(corrected)
        .where(F.col("n_rows") > 0)
        .select(
            "event_type", F.col("sum_value").alias("value_sum"), "n_rows"
        )
    )


C35_SQL = """
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS value_sum,
       count(*) AS n_rows
FROM events WHERE user_id % 17 != 0
GROUP BY event_type
"""

QUERIES["c35_retraction_agg"] = QuerySpec(c35_retraction_agg, C35_SQL)

# ---------------------------------------------------------------------------
# c36 -- entity resolution end to end, golden record: a58's blocked fuzzy
# pairs -> transitive clusters (a25's star-contraction) -> deterministic
# survivorship per entity.  Rules: canonical name = the minimum-key
# member's, price = cluster max, brands counted distinct -- every rule a
# total-order aggregate, so the golden record is engine-identical.
# Singletons are suppressed (the interesting output is merged entities).
# ---------------------------------------------------------------------------


_C36_MAX_BLOCK = 2000


def c36_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters
    from ..operators.linkage import blocked_fuzzy_pairs

    p = load_table(spark, sf_dir, "part")
    pairs = blocked_fuzzy_pairs(
        p,
        id_col="p_partkey",
        text_col="p_name",
        block_exprs={
            "blk_brand": F.col("p_brand"),
            "blk_noun": F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)),
        },
        max_dist=2,
        min_dist=1,
        # skew guard: a degenerate (brand, noun) block is quadratic in the
        # verify join; blocks above the cap are dropped (entities that
        # common are boilerplate, not duplicates).  Mirrored in the oracle
        # SQL so the result stays exact at any SF.
        max_block=_C36_MAX_BLOCK,
    ).select(F.col("p_partkey_a").alias("a"), F.col("p_partkey_b").alias("b"))
    clusters = dedup_clusters(p, pairs, id_col="p_partkey")
    members = p.join(clusters, "p_partkey")
    golden = (
        members.groupBy("rep_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(
                F.struct(F.col("p_partkey"), F.col("p_name"))
            )["p_name"].alias("golden_name"),
            F.max("p_retailprice").alias("golden_price"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
        .where(F.col("n_members") >= 2)
    )
    return golden.select(
        F.col("rep_id").alias("entity_id"),
        "n_members",
        "golden_name",
        "golden_price",
        "n_brands",
    )


def _c36_sql() -> str:
    return f"""
WITH RECURSIVE eligible AS MATERIALIZED (
  SELECT * FROM (
    SELECT p_partkey, p_name, p_brand,
           count(*) OVER (
             PARTITION BY p_brand, split_part(p_name, ' ', 2)
           ) AS __bn
    FROM part
  ) WHERE __bn <= {_C36_MAX_BLOCK}
), pairs AS MATERIALIZED (
  SELECT a.p_partkey AS a, b.p_partkey AS b
  FROM eligible a JOIN eligible b
    ON a.p_brand = b.p_brand
   AND split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
   AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
), sym AS (
  SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs
), reach(node, r) AS (
  SELECT p_partkey, p_partkey FROM part
  UNION
  SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.node
), clusters AS (
  SELECT node AS p_partkey, min(r) AS rep_id FROM reach GROUP BY node
), members AS (
  SELECT p.*, c.rep_id FROM part p JOIN clusters c USING (p_partkey)
)
SELECT rep_id AS entity_id,
       count(*) AS n_members,
       min(struct_pack(k := p_partkey, p_name := p_name)).p_name AS golden_name,
       max(p_retailprice) AS golden_price,
       count(DISTINCT p_brand) AS n_brands
FROM members
GROUP BY rep_id HAVING count(*) >= 2
"""


QUERIES["c36_golden_record"] = QuerySpec(c36_golden_record, _c36_sql())

# ---------------------------------------------------------------------------
# a85 -- per-brand Pareto frontier (skyline): parts not strictly dominated
# on (retailprice, size).  The naive formulation is an O(n^2) self-join;
# this is two windows over one (brand) exchange: min size over strictly
# cheaper rows (RANGE frame on integer cents -- cents-1 == strictly
# cheaper), plus the same-price min.  Strict dominance: exact duplicates
# both stay on the frontier.
# ---------------------------------------------------------------------------


def a85_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    src = p.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("__cents"),
    )
    cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("__cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    same = Window.partitionBy("p_brand", "__cents")
    out = (
        src.withColumn("__min_cheaper", F.min("p_size").over(cheaper))
        .withColumn("__min_same", F.min("p_size").over(same))
        .where(
            (
                F.col("__min_cheaper").isNull()
                | (F.col("__min_cheaper") > F.col("p_size"))
            )
            & (F.col("p_size") == F.col("__min_same"))
        )
    )
    return out.select("p_brand", "p_partkey", "p_retailprice", "p_size")


A85_SQL = """
WITH src AS (
  SELECT p_brand, p_partkey, p_retailprice, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
), m AS (
  SELECT *,
         MIN(p_size) OVER (PARTITION BY p_brand ORDER BY cents
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS min_cheaper,
         MIN(p_size) OVER (PARTITION BY p_brand, cents) AS min_same
  FROM src
)
SELECT p_brand, p_partkey, p_retailprice, p_size
FROM m
WHERE (min_cheaper IS NULL OR min_cheaper > p_size)
  AND p_size = min_same
"""

QUERIES["a85_pareto_frontier"] = QuerySpec(a85_pareto_frontier, A85_SQL)

# ---------------------------------------------------------------------------
# a86 -- VARIANT semi-structured rollup: props parsed ONCE into Spark 4's
# binary VARIANT type (shredded, not a string re-parse per access), typed
# fields pulled with try_variant_get (permissive: malformed -> NULL, like
# from_json).  The semi-structured-at-scale story: parse on ingest, store
# VARIANT, extract cheaply at query time.  Oracle mirrors with DuckDB's
# TRY_CAST(json_extract_string(...)).
# ---------------------------------------------------------------------------


def a86_variant_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum(F.col("k").cast("bigint")).alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    )


A86_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
         AS n_with_k,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum,
       min(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
       max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max
FROM events GROUP BY event_type
"""

QUERIES["a86_variant_rollup"] = QuerySpec(a86_variant_rollup, A86_SQL)

# ---------------------------------------------------------------------------
# a87 -- exact cumulative distinct users by day ("users to date"): the
# classic hard-at-scale series, because COUNT(DISTINCT) doesn't compose
# across a running window.  Bitmap partials make it algebraic: per-day
# bitmaps OR-merge over day' <= day -- the triangular join runs over
# O(days x buckets) bitmap ROWS (kilobytes each), never over the event
# stream, which is scanned exactly once.  Oracle recomputes each prefix
# from scratch; the hash proves the running merge exact.
# ---------------------------------------------------------------------------


def a87_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bitmap_distinct_partials

    e = load_table(spark, sf_dir, "events").withColumn("day", day_str("ts"))
    partials = bitmap_distinct_partials(e, [], "day", "user_id")
    days = partials.select(F.col("day").alias("as_of")).distinct()
    tri = partials.join(
        F.broadcast(days), F.col("day") <= F.col("as_of")
    )
    merged = tri.groupBy("as_of", "bucket").agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).alias("n_bits")
    )
    return (
        merged.groupBy("as_of")
        .agg(F.sum("n_bits").alias("users_to_date"))
        .select(F.col("as_of").alias("day"), "users_to_date")
    )


A87_SQL = """
WITH days AS (
  SELECT DISTINCT strftime(ts, '%Y%m%d') AS as_of FROM events
)
SELECT d.as_of AS day,
       count(DISTINCT e.user_id) AS users_to_date
FROM days d JOIN events e ON strftime(e.ts, '%Y%m%d') <= d.as_of
GROUP BY d.as_of
"""

QUERIES["a87_cumulative_distinct"] = QuerySpec(
    a87_cumulative_distinct, A87_SQL
)

# ---------------------------------------------------------------------------
# a88 -- half-life-decayed rollup (recency-weighted metrics): weight
# 0.5^(age_days/7) anchored at the corpus max timestamp.  The weight
# expression is written identically in both engines and each term rounds
# to 9 before an exact DECIMAL(28,9) sum (the a55 pattern) --
# deterministic under any shuffle order and engine-portable, unlike a
# raw SUM(double).  One scalar broadcast (the anchor), one aggregation.
# ---------------------------------------------------------------------------


def a88_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.to_date("ts")).alias("__d1"))
    aged = e.crossJoin(F.broadcast(anchor)).withColumn(
        "__age", F.datediff(F.col("__d1"), F.to_date("ts"))
    )
    term = F.round(
        F.col("value") * F.pow(F.lit(0.5), F.col("__age") / F.lit(7.0)), 9
    ).cast("decimal(28,9)")
    return (
        aged.groupBy("event_type")
        .agg(
            F.round(F.sum(term).cast("double"), 6).alias("decayed_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


A88_SQL = """
WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS d1 FROM events)
SELECT event_type,
       round(CAST(sum(CAST(round(
           value * pow(0.5, datediff('day', CAST(ts AS DATE), d1) / 7.0), 9)
         AS DECIMAL(28,9))) AS DOUBLE), 6) AS decayed_value,
       count(*) AS n_events
FROM events, anchor
GROUP BY event_type
"""

QUERIES["a88_decayed_sum"] = QuerySpec(a88_decayed_sum, A88_SQL)

# ---------------------------------------------------------------------------
# c37 -- catalog-named warehouse round-trip, SQL statement forms: the
# reference's literal user surface (CREATE DATABASE ods/dwd, saveAsTable
# shell, INSERT OVERWRITE TABLE ... PARTITION (etl_date) over a temp
# view, INSERT INTO append, spark.table / SHOW PARTITIONS reads --
# CustomerInfDataClean.scala:70-88, Constants.scala:9-12).  Dynamic
# overwrite is exercised twice (the second pass rewrites only the max
# day's partition and must leave the rest intact); the append doubles
# one slice.  Oracle = the same arithmetic over the raw events.
# ---------------------------------------------------------------------------


def c37_sqlwh_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..sources.catalog import SqlWarehouse

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", day_str("ts").alias("etl_date")
    )
    prefix = f"c37_{uuid.uuid4().hex[:8]}_"
    wh = SqlWarehouse(spark, db_prefix=prefix, layers=("dwd",))
    try:
        wh.overwrite_partitions(e, "dwd", "fact_events")
        top = wh.latest_partition("dwd", "fact_events")
        # dynamic overwrite: rewriting ONE partition must not touch others
        wh.overwrite_partitions(
            e.where(F.col("etl_date") == top), "dwd", "fact_events"
        )
        # SQL INSERT INTO append: double a deterministic slice of the top day
        slice_ = e.where(
            (F.col("etl_date") == top) & (F.col("user_id") % 50 == 0)
        )
        wh.append(slice_, "dwd", "fact_events")
        out = (
            wh.table("dwd", "fact_events")
            .groupBy("etl_date")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum("value").alias("value_sum"),
            )
        )
        return pin_frame(out, eager=True)  # pre-drop
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {prefix}dwd CASCADE")


C37_SQL = """
WITH e AS (
  SELECT event_id, user_id, value, strftime(ts, '%Y%m%d') AS etl_date
  FROM events
), top AS (SELECT max(etl_date) AS d FROM e),
stored AS (
  SELECT * FROM e
  UNION ALL
  SELECT e.* FROM e, top WHERE e.etl_date = top.d AND e.user_id % 50 = 0
)
SELECT etl_date, count(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM stored GROUP BY etl_date
"""

QUERIES["c37_sqlwh_roundtrip"] = QuerySpec(c37_sqlwh_roundtrip, C37_SQL)

# ---------------------------------------------------------------------------
# a89 -- Benford's-law audit: first-significant-digit distribution of
# order totals vs the log10(1+1/d) expectation, with the chi-square
# statistic -- the classic fabricated-data / unit-bug screen for
# financial facts.  Counts are exact integers; the 9 expected
# frequencies are closed-form constants written identically in both
# engines; each chi2 term rounds to 9 before an exact decimal sum.
# ---------------------------------------------------------------------------


def a89_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.regexp_replace(F.format_number(F.col("o_totalprice"), 6), "[0.,]", ""),
        1, 1,
    ).cast("int")
    counts = (
        o.where(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("n_total"))
    j = counts.crossJoin(F.broadcast(total))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d")) * F.col("n_total")
    chi_term = F.round(
        (F.col("n") - expected) * (F.col("n") - expected) / expected, 9
    ).cast("decimal(28,9)")
    return (
        j.select(
            "d",
            "n",
            F.round(expected, 6).alias("n_expected"),
            chi_term.alias("__t"),
        )
        .groupBy()
        .pivot("d", list(range(1, 10)))
        .sum("n")
        .crossJoin(
            F.broadcast(
                j.agg(
                    F.round(F.sum(chi_term).cast("double"), 6).alias("chi2")
                )
            )
        )
    )


A89_SQL = """
WITH src AS (
  SELECT CAST(substr(regexp_replace(format('{:.6f}', o_totalprice),
                                    '[0.,]', '', 'g'), 1, 1) AS INTEGER) AS d
  FROM orders WHERE o_totalprice > 0
), counts AS (
  SELECT d, count(*) AS n FROM src GROUP BY d
), tot AS (SELECT sum(n) AS n_total FROM counts),
terms AS (
  SELECT d, n,
         CAST(round(pow(n - log10(1.0 + 1.0 / d) * n_total, 2)
                    / (log10(1.0 + 1.0 / d) * n_total), 9)
              AS DECIMAL(28,9)) AS t
  FROM counts, tot
)
SELECT
  max(CASE WHEN d = 1 THEN n END) AS "1",
  max(CASE WHEN d = 2 THEN n END) AS "2",
  max(CASE WHEN d = 3 THEN n END) AS "3",
  max(CASE WHEN d = 4 THEN n END) AS "4",
  max(CASE WHEN d = 5 THEN n END) AS "5",
  max(CASE WHEN d = 6 THEN n END) AS "6",
  max(CASE WHEN d = 7 THEN n END) AS "7",
  max(CASE WHEN d = 8 THEN n END) AS "8",
  max(CASE WHEN d = 9 THEN n END) AS "9",
  round(CAST(sum(t) AS DOUBLE), 6) AS chi2
FROM terms
"""

QUERIES["a89_benford_audit"] = QuerySpec(a89_benford_audit, A89_SQL)

# ---------------------------------------------------------------------------
# a90 -- per-user event-type streaks (value-change gaps-and-islands): runs
# of consecutive identical event types, the engagement/anomaly variant of
# a65's time-gap islands.  lag + cumulative-sum island ids over one
# (user_id) exchange shared by both windows and the rollup.
# ---------------------------------------------------------------------------


def a90_event_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = ev.withColumn("__new_run", changed).withColumn(
        "__run",
        F.sum("__new_run")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    return runs.groupBy("user_id", "__run").agg(
        # all rows of a run share one type by construction; min = that type
        F.min("event_type").alias("event_type"),
        F.count(F.lit(1)).alias("streak_len"),
        ts_str(F.min("ts")).alias("start_ts"),
    ).select("user_id", F.col("__run").alias("run_no"), "event_type",
             "streak_len", "start_ts")


A90_SQL = """
WITH r AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS new_run
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT *, CAST(SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS run_no
  FROM r
)
SELECT user_id, run_no,
       min(event_type) AS event_type,
       count(*) AS streak_len,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts
FROM g GROUP BY user_id, run_no
"""

QUERIES["a90_event_streaks"] = QuerySpec(a90_event_streaks, A90_SQL)

# ---------------------------------------------------------------------------
# c38 -- federated multi-format ingestion: one logical table assembled
# from parquet + CSV + JSON-lines slices (the landing-zone reality of a
# warehouse: upstreams deliver whatever they deliver).  Each format
# round-trips through its writer, the three reads union by name, and the
# cleaned rollup must equal the single-source aggregate -- proving the
# format hops are lossless for the carried columns.
# ---------------------------------------------------------------------------


def c38_multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.col("value").cast("double").alias("value"),
    )
    scratch = tempfile.mkdtemp(prefix="ods_spark_c38_")
    try:
        e.where(F.col("event_id") % 3 == 0).write.parquet(f"{scratch}/p")
        e.where(F.col("event_id") % 3 == 1).write.option(
            "header", True
        ).csv(f"{scratch}/c")
        e.where(F.col("event_id") % 3 == 2).write.json(f"{scratch}/j")
        schema = "event_id long, user_id long, event_type string, value double"
        u = (
            spark.read.parquet(f"{scratch}/p")
            .unionByName(
                spark.read.schema(schema).option("header", True)
                .csv(f"{scratch}/c")
            )
            .unionByName(spark.read.schema(schema).json(f"{scratch}/j"))
        )
        out = u.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("value_sum"),
        )
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


C38_SQL = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events GROUP BY event_type
"""

QUERIES["c38_multi_format_union"] = QuerySpec(c38_multi_format_union, C38_SQL)
