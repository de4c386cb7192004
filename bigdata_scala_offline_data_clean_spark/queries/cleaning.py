"""Cleaning/pipeline queries: sinks and end-to-end archetype runs.

These exercise the write paths (S8 append, S9 dynamic-partition overwrite,
S10 overwrite table -- SimpleDataCleanUtils.scala:30,
CustomerInfDataClean.scala:70-88, CustomerAddrLevelAggrDataClean.scala:41-44)
by writing to a scratch warehouse and reading back; the oracle states the
expected final table contents, so the round-trip is value-checked, not just
row-counted.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import Warehouse
from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import load_table, ts_str

ORDER_SEL = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def _orders_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", ts_str("o_orderdate")
    )


# ---------------------------------------------------------------------------
# c01 -- S8 + S9: append two partitions, dynamic-overwrite one, read back.
# Expected final state: partition 20220101 (even keys, intact) +
# partition 20220102 rewritten to the %5==0 subset with a marker priority.
# ---------------------------------------------------------------------------


def c01_write_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders_str(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="ods_spark_wh_")
    try:
        wh = Warehouse(spark, scratch)
        d1 = o.where(F.col("o_orderkey") % 2 == 0).withColumn(
            "etl_date", F.lit("20220101")
        )
        d2 = o.where(F.col("o_orderkey") % 2 == 1).withColumn(
            "etl_date", F.lit("20220102")
        )
        wh.append(d1, "dwd", "fact_orders")  # S8
        wh.append(d2, "dwd", "fact_orders")  # S8
        d3 = (
            o.where(F.col("o_orderkey") % 5 == 0)
            .withColumn("o_orderpriority", F.lit("REWRITTEN"))
            .withColumn("etl_date", F.lit("20220102"))
        )
        wh.overwrite_partitions(d3, "dwd", "fact_orders")  # S9 dynamic
        back = wh.table("dwd", "fact_orders")
        # partition col may be type-inferred by the reading session; pin string
        back = back.withColumn("etl_date", F.col("etl_date").cast("string"))
        out = back.select(*ORDER_SEL, "o_orderdate", "etl_date")
        # materialize executor-side before rmtree
        out = pin_frame(out, eager=True)
        return out
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


C01_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
  FROM orders
)
SELECT *, '20220101' AS etl_date FROM o WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       'REWRITTEN' AS o_orderpriority, o_orderdate, '20220102' AS etl_date
FROM o WHERE o_orderkey % 5 = 0
"""


# ---------------------------------------------------------------------------
# c02 -- archetype C end-to-end: ODS base partition + delta snapshot with
# rowkey regex (S4/S5) and a decoder hook (S6), merged full-outer with
# base-wins coalesce (J1/J3), audit-stamped (pinned ts), appended, read back.
# The oracle restates the whole pipeline in SQL.
# ---------------------------------------------------------------------------

PIN_TS = "2022-10-01 00:00:00"


def c02_delta_merge_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipelines import run_delta_merge  # noqa: F401 (used below)
    from ..sources.catalog import Warehouse

    o = _orders_str(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="ods_spark_c02_")
    try:
        wh = Warehouse(spark, scratch)
        # ODS base: odd keys as the 20221001 partition
        base = o.where(F.col("o_orderkey") % 2 == 1).withColumn(
            "etl_date", F.lit("20221001")
        )
        wh.append(base, "ods", "order_master")
        # delta snapshot: keys %3==0, supplement rows; rowkey embeds a date,
        # amount arrives as a string for the decoder hook (S6)
        delta = (
            o.where(F.col("o_orderkey") % 3 == 0)
            .withColumn(
                "row_key",
                F.concat(
                    F.when(F.col("o_orderkey") % 6 == 0, F.lit("rk_20221001_"))
                    .otherwise(F.lit("rk_20220930_")),
                    F.col("o_orderkey").cast("string"),
                ),
            )
            .withColumn("o_orderpriority", F.lit("OFFLINE-SUPPLEMENT"))
            .withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
        )
        delta.write.parquet(f"{scratch}/delta/order_master_offline")

        run_delta_merge(
            wh,
            "order_master",
            "fact_order_master",
            f"{scratch}/delta/order_master_offline",
            "o_orderkey",
            rowkey_regex=".*20221001.*",
            ts=F.lit(PIN_TS),
            decoders={"o_totalprice": lambda c: c.cast("double")},
        )
        back = wh.table("dwd", "fact_order_master").withColumn(
            "etl_date", F.col("etl_date").cast("string")
        )
        out = back.select(
            *ORDER_SEL,
            "o_orderdate",
            "dwd_insert_user",
            "dwd_insert_time",
            "dwd_modify_user",
            "dwd_modify_time",
            "etl_date",
        )
        return pin_frame(out, eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


C02_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
  FROM orders
), base AS (
  SELECT * FROM o WHERE o_orderkey % 2 = 1
), delta AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         'OFFLINE-SUPPLEMENT' AS o_orderpriority, o_orderdate
  FROM o WHERE o_orderkey % 3 = 0 AND o_orderkey % 6 = 0
), merged AS (
  SELECT COALESCE(b.o_orderkey, d.o_orderkey)           AS o_orderkey,
         COALESCE(b.o_custkey, d.o_custkey)             AS o_custkey,
         COALESCE(b.o_orderstatus, d.o_orderstatus)     AS o_orderstatus,
         COALESCE(b.o_totalprice, d.o_totalprice)       AS o_totalprice,
         COALESCE(b.o_orderpriority, d.o_orderpriority) AS o_orderpriority,
         COALESCE(b.o_orderdate, d.o_orderdate)         AS o_orderdate
  FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
       o_orderdate,
       'user1' AS dwd_insert_user, '{PIN_TS}' AS dwd_insert_time,
       'user1' AS dwd_modify_user, '{PIN_TS}' AS dwd_modify_time,
       '20221001' AS etl_date
FROM merged
"""


# ---------------------------------------------------------------------------
# c03 -- string standardization (the day-to-day of data cleaning): trim,
# whitespace collapse, case-fold, null-vs-empty normalization
# ---------------------------------------------------------------------------


def c03_standardize_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    messy = c.select(
        "c_custkey",
        F.concat(F.lit("  "), F.col("c_name"), F.lit("   extra  ")).alias("raw_name"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("")).otherwise(
            F.col("c_mktsegment")
        ).alias("raw_segment"),
    )
    return messy.select(
        "c_custkey",
        F.regexp_replace(F.trim(F.col("raw_name")), " +", " ").alias("clean_name"),
        F.upper(
            F.when(F.col("raw_segment") == "", F.lit(None)).otherwise(
                F.col("raw_segment")
            )
        ).alias("clean_segment"),
    )


C03_SQL = """
WITH messy AS (
  SELECT c_custkey,
         concat('  ', c_name, '   extra  ') AS raw_name,
         CASE WHEN c_custkey % 7 = 0 THEN '' ELSE c_mktsegment END AS raw_segment
  FROM customer
)
SELECT c_custkey,
       regexp_replace(trim(raw_name), ' +', ' ', 'g') AS clean_name,
       upper(CASE WHEN raw_segment = '' THEN NULL ELSE raw_segment END) AS clean_segment
FROM messy
"""


# ---------------------------------------------------------------------------
# c04 -- data profiling: one-pass per-column stats (null/distinct/min/max)
# ---------------------------------------------------------------------------


def c04_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import profile_columns

    c = load_table(spark, sf_dir, "customer")
    return profile_columns(c, ["c_custkey", "c_name", "c_nationkey", "c_acctbal"])


C04_SQL = """
WITH s AS (
  SELECT count(*) AS n,
         sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS nu_k,
         count(DISTINCT c_custkey) AS d_k,
         min(CAST(c_custkey AS VARCHAR)) AS mn_k, max(CAST(c_custkey AS VARCHAR)) AS mx_k,
         sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS nu_n,
         count(DISTINCT c_name) AS d_n,
         min(CAST(c_name AS VARCHAR)) AS mn_n, max(CAST(c_name AS VARCHAR)) AS mx_n,
         sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS nu_na,
         count(DISTINCT c_nationkey) AS d_na,
         min(CAST(c_nationkey AS VARCHAR)) AS mn_na, max(CAST(c_nationkey AS VARCHAR)) AS mx_na,
         sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS nu_a,
         count(DISTINCT c_acctbal) AS d_a,
         min(CAST(c_acctbal AS VARCHAR)) AS mn_a, max(CAST(c_acctbal AS VARCHAR)) AS mx_a
  FROM customer
)
SELECT 'c_custkey' AS col_name, n AS n_rows, nu_k AS n_nulls, d_k AS n_distinct,
       mn_k AS min_str, mx_k AS max_str FROM s
UNION ALL
SELECT 'c_name', n, nu_n, d_n, mn_n, mx_n FROM s
UNION ALL
SELECT 'c_nationkey', n, nu_na, d_na, mn_na, mx_na FROM s
UNION ALL
SELECT 'c_acctbal', n, nu_a, d_a, mn_a, mx_a FROM s
"""

# ---------------------------------------------------------------------------
# c05 -- referential integrity: lineitems referencing missing parts
# (synthetically orphaned by excluding a slice of the dimension)
# ---------------------------------------------------------------------------


def c05_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import orphan_rows

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") % 10 != 0)
    orphans = orphan_rows(li, part, "l_partkey", "p_partkey")
    return orphans.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orphan_rows"))


C05_SQL = """
SELECT l_partkey, count(*) AS n_orphan_rows
FROM lineitem l
WHERE NOT EXISTS (
  SELECT 1 FROM part p WHERE p.p_partkey % 10 <> 0 AND p.p_partkey = l.l_partkey
)
GROUP BY l_partkey
"""


# ---------------------------------------------------------------------------
# c06 -- the composed training-data pipeline: quality filter -> exact dedup
# -> MinHash-LSH near-dedup.  The oracle restates every stage in SQL.
# ---------------------------------------------------------------------------

_TP_MIN_TOKENS, _TP_MIN_UNIQ, _TP_THRESHOLD, _TP_SHINGLE = 10, 0.3, 0.6, 2


def c06_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipelines import training_data_pipeline

    d = load_table(spark, sf_dir, "documents")
    out = training_data_pipeline(
        d,
        min_tokens=_TP_MIN_TOKENS,
        min_uniq_ratio=_TP_MIN_UNIQ,
        neardup_threshold=_TP_THRESHOLD,
        shingle_n=_TP_SHINGLE,
    )
    return out.select("doc_id", "lang", "source", "n_chars")


def _c06_sql() -> str:
    n = _TP_SHINGLE
    from ..operators.dedup import _MH_MOD, _mh_consts
    from .analytics import _MH_BANDS, _MH_N

    # oracle twin of minhash_signatures' universal-hash family
    base = "CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT)"
    mins = ",\n         ".join(
        f"min(({a} * {base} + {b}) % {_MH_MOD}) AS mh_{i}"
        for i, (a, b) in ((i, _mh_consts(i)) for i in range(_MH_N))
    )
    rows = _MH_N // _MH_BANDS
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, md5(concat_ws('|', "
        + ", ".join(f"mh_{b * rows + i}" for i in range(rows))
        + ")) AS band_sig FROM sigs"
        for b in range(_MH_BANDS)
    )
    return f"""
WITH stats AS (
  SELECT *, len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_uniq
  FROM documents
), kept AS (
  SELECT doc_id, text, lang, source, n_chars FROM stats
  WHERE n_tokens >= {_TP_MIN_TOKENS}
    AND CAST(n_uniq AS DOUBLE) / n_tokens >= {_TP_MIN_UNIQ}
), exact AS (
  SELECT * FROM kept
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) = 1
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM exact
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(t) - {n - 1}, 1)),
                   i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS gram
  FROM toks
), sigs AS (
  SELECT doc_id,
         {mins}
  FROM grams GROUP BY doc_id
), bands AS (
{band_selects}
), cands AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
), counts AS (
  SELECT doc_id, count(*) AS ng FROM grams GROUP BY doc_id
), verified AS (
  SELECT c.a, c.b,
         CAST(count(*) AS DOUBLE) / (ca.ng + cb.ng - count(*)) AS jac
  FROM cands c
  JOIN grams ga ON ga.doc_id = c.a
  JOIN grams gb ON gb.doc_id = c.b AND gb.gram = ga.gram
  JOIN counts ca ON ca.doc_id = c.a
  JOIN counts cb ON cb.doc_id = c.b
  GROUP BY c.a, c.b, ca.ng, cb.ng
), dropped AS (
  SELECT DISTINCT b AS doc_id FROM verified WHERE jac >= {_TP_THRESHOLD}
)
SELECT e.doc_id, e.lang, e.source, e.n_chars
FROM exact e WHERE e.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


# ---------------------------------------------------------------------------
# c07 -- PII redaction (email / phone / IPv4 -> typed placeholders).
# PII is synthesized deterministically from doc_id so every row exercises
# every pattern (the corpus itself is PII-free).
# ---------------------------------------------------------------------------


def c07_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import redact_pii

    d = load_table(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
            F.lit(" via 192.168.0.1."),
        ).alias("text"),
    )
    return redact_pii(synth, out_col="redacted").select("doc_id", "redacted")


C07_SQL = r"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(
    text || ' Contact u' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
         || lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' via 192.168.0.1.',
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
    '\+?[0-9][0-9()\-]{6,}[0-9]', '[PHONE]', 'g'),
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')
    AS redacted
FROM documents
"""


# ---------------------------------------------------------------------------
# c08 -- HTML boilerplate strip + entity unescape + whitespace collapse.
# Markup wrapped around each document deterministically.
# ---------------------------------------------------------------------------


def c08_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import strip_html

    d = load_table(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.concat(
            F.lit('<html><p class="b">'),
            F.col("text"),
            F.lit('</p>&nbsp;<a href="http://x.example">link &amp; more</a> </html>'),
        ).alias("text"),
    )
    return strip_html(synth, out_col="cleaned").select("doc_id", "cleaned")


C08_SQL = r"""
SELECT doc_id,
  trim(regexp_replace(
    replace(replace(replace(replace(
      regexp_replace(
        '<html><p class="b">' || text
          || '</p>&nbsp;<a href="http://x.example">link &amp; more</a> </html>',
        '<[^>]*>', ' ', 'g'),
      '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
    '\s+', ' ', 'g')) AS cleaned
FROM documents
"""


# ---------------------------------------------------------------------------
# c09 -- incremental aggregate maintenance: the cumulative per-customer
# rollup built by folding one year of orders at a time (the O(delta)
# daily-update pattern), oracle = one-shot GROUP BY over everything.
# Decimal partials make merge order irrelevant, so incremental == full.
# ---------------------------------------------------------------------------


def c09_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import finalize_agg, merge_partial_aggs, partial_agg

    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    years = [r[0] for r in o.select("o_year").distinct().collect()]
    cum = None
    for y in sorted(years):  # one "daily run" per year-partition
        delta = partial_agg(
            o.where(F.col("o_year") == y),
            ["o_custkey"],
            sum_cols=("o_totalprice",),
            max_cols=("o_orderdate",),
        )
        cum = merge_partial_aggs(cum, delta, ["o_custkey"])
    out = finalize_agg(cum, avg_of={"avg_price": "sum_o_totalprice"})
    return out.select(
        "o_custkey",
        F.col("sum_o_totalprice").alias("total_price"),
        "n_rows",
        "avg_price",
        ts_str("max_o_orderdate").alias("last_order"),
    )


C09_SQL = """
SELECT o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price,
       COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
            / COUNT(*) AS DOUBLE) AS avg_price,
       strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_order
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# c10 -- incremental-ingest dedup: "today's batch" (odd doc_ids) deduped
# against the "historical corpus" digest table (even doc_ids) and within
# itself.  The anti-join moves digests, never documents.
# ---------------------------------------------------------------------------


def c10_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_ingest_dedup

    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 2 == 0).select(
        F.md5(F.col("text")).alias("text_hash")
    ).distinct()
    incoming = d.where(F.col("doc_id") % 2 == 1)
    out = incremental_ingest_dedup(incoming, corpus)
    return out.select("doc_id", "lang", "source", "text_hash")


C10_SQL = """
WITH corpus AS (
  SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 2 = 0
), incoming AS (
  SELECT *, md5(text) AS text_hash FROM documents WHERE doc_id % 2 = 1
), fresh AS (
  SELECT * FROM incoming WHERE text_hash NOT IN (SELECT text_hash FROM corpus)
)
SELECT doc_id, lang, source, text_hash
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id)
        AS rn FROM fresh)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# c11 -- deterministic train/val/test split (hash-bucketed, partitioning-
# independent -- unlike randomSplit, a doc keeps its split forever).
# ---------------------------------------------------------------------------


def c11_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.split import hash_split

    d = load_table(spark, sf_dir, "documents")
    out = hash_split(d, {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.select("doc_id", "split")


_C11_NIB = (
    "(CASE WHEN ascii(substr(hh,{i},1)) >= 97 THEN ascii(substr(hh,{i},1))-87 "
    "ELSE ascii(substr(hh,{i},1))-48 END)"
)

C11_SQL = f"""
WITH h AS (
  SELECT doc_id, md5('split|' || CAST(doc_id AS VARCHAR)) AS hh FROM documents
), b AS (
  SELECT doc_id, {_C11_NIB.format(i=1)} * 16 + {_C11_NIB.format(i=2)} AS bk
  FROM h
)
SELECT doc_id,
       CASE WHEN bk < 204.8 THEN 'train'
            WHEN bk < 230.4 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


# ---------------------------------------------------------------------------
# c12 -- median imputation: fill missing numerics with the column median
# (every 10th customer's balance masked to NULL to make the fixture
# deterministic).  The 1-row median aggregate broadcasts -- no collect().
# ---------------------------------------------------------------------------


def c12_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    masked = c.withColumn(
        "bal",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None)).otherwise(
            F.col("c_acctbal")
        ),
    )
    med = masked.agg(
        F.expr("percentile(bal, 0.5)").alias("__median")
    )
    return (
        masked.crossJoin(F.broadcast(med))
        .select(
            "c_custkey",
            F.coalesce("bal", "__median").alias("acctbal_filled"),
            F.col("bal").isNull().alias("was_imputed"),
        )
    )


C12_SQL = """
WITH masked AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer
), med AS (SELECT quantile_cont(bal, 0.5) AS m FROM masked)
SELECT c_custkey,
       COALESCE(bal, m) AS acctbal_filled,
       bal IS NULL AS was_imputed
FROM masked, med
"""


# ---------------------------------------------------------------------------
# c13 -- IQR outlier detection: orders beyond q3 + k*IQR of o_totalprice.
# k=0.5 (not the textbook 1.5) because the synthetic prices are uniform --
# a bounded distribution has no 1.5-IQR tail; the fixture must fire.
# Exact interpolated quartiles (one pass) broadcast against the table; the
# filter is a narrow scan, no second aggregation.
# ---------------------------------------------------------------------------


def c13_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .where(F.col("o_totalprice") > F.col("q3") + 0.5 * (F.col("q3") - F.col("q1")))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


C13_SQL = """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders, b
WHERE o_totalprice > q3 + 0.5 * (q3 - q1)
"""


# ---------------------------------------------------------------------------
# c14 -- deterministic stratified sampling: mixture construction over three
# sources at different rates (the "30% web, 100% books" primitive).
# Membership is a pure function of (salt, doc_id) -- reproducible anywhere.
# ---------------------------------------------------------------------------

_C14_FRACS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}


def c14_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.split import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    return stratified_sample(d, _C14_FRACS, "source").select(
        "doc_id", "source"
    )


_C14_NIB = (
    "(CASE WHEN ascii(substr(hh,{i},1)) >= 97 THEN ascii(substr(hh,{i},1))-87 "
    "ELSE ascii(substr(hh,{i},1))-48 END)"
)

C14_SQL = f"""
WITH h AS (
  SELECT doc_id, source,
         md5('sample|' || CAST(doc_id AS VARCHAR)) AS hh
  FROM documents
), b AS (
  SELECT doc_id, source,
         {_C14_NIB.format(i=1)} * 16 + {_C14_NIB.format(i=2)} AS bk
  FROM h
)
SELECT doc_id, source FROM b
WHERE (source = 'src0' AND bk < 256.0)
   OR (source = 'src1' AND bk < 128.0)
   OR (source = 'src2' AND bk < 64.0)
"""


# ---------------------------------------------------------------------------
# c15 -- small-file compaction: fragmented appends -> compact_partition
# rewrites ONE partition to a target file count, others untouched.  The
# Spark side MEASURES real parquet file counts from the filesystem; the
# oracle states the expected layout, so the assertion is physical, and the
# per-partition content checksums prove compaction lost no data.
# ---------------------------------------------------------------------------


def _count_parquet_files(root: str, etl_date: str) -> int:
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        if f"etl_date={etl_date}" in dirpath:
            n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def c15_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders_str(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="ods_spark_c15_")
    try:
        wh = Warehouse(spark, scratch)
        # fragment partition 20220101: 4 appends x repartition(3) = 12 files
        for i in range(4):
            chunk = (
                o.where(F.col("o_orderkey") % 4 == i)
                .withColumn("etl_date", F.lit("20220101"))
                .repartition(3)
            )
            wh.append(chunk, "ods", "frag_orders")
        # control partition 20220102: single append, 3 files, never touched
        wh.append(
            o.withColumn("etl_date", F.lit("20220102")).repartition(3),
            "ods",
            "frag_orders",
        )
        tbl_path = wh.path("ods", "frag_orders")
        before = {d: _count_parquet_files(tbl_path, d) for d in ("20220101", "20220102")}
        wh.compact_partition("ods", "frag_orders", "20220101", target_files=2)
        after = {d: _count_parquet_files(tbl_path, d) for d in ("20220101", "20220102")}
        back = wh.table("ods", "frag_orders").withColumn(
            "etl_date", F.col("etl_date").cast("string")
        )
        summary = back.groupBy("etl_date").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("o_orderkey").alias("n_keys"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        files = spark.createDataFrame(
            [(d, before[d], after[d]) for d in sorted(before)],
            "etl_date string, n_files_before long, n_files_after long",
        )
        out = summary.join(files, "etl_date")
        return pin_frame(out, eager=True)  # pre-rmtree
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


C15_SQL = """
SELECT '20220101' AS etl_date, count(*) AS n_rows,
       count(DISTINCT o_orderkey) AS n_keys,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(12 AS BIGINT) AS n_files_before, CAST(2 AS BIGINT) AS n_files_after
FROM orders
UNION ALL
SELECT '20220102', count(*), count(DISTINCT o_orderkey),
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
       CAST(3 AS BIGINT), CAST(3 AS BIGINT)
FROM orders
"""


# ---------------------------------------------------------------------------
# c16 -- the round-3 curation pipeline end to end: quality gate ->
# corpus-level duplicated-segment removal -> temperature mixture sampling
# -> sliding-window chunking.  The flow a training-data team actually
# runs; every stage is the driver-checked operator, composed.  Chunk text
# leaves as md5 so the value hash stays strong and the output small.
# ---------------------------------------------------------------------------


def c16_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import remove_duplicated_segments
    from ..operators.packing import chunk_documents
    from ..operators.split import temperature_sample

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    passed = d.where(
        (F.col("n_chars") >= 150)
        & F.col("lang").isin("en", "es", "fr", "de")
        & (F.size(toks) >= 40)
        & (F.size(F.array_distinct(toks)).cast("double") / F.size(toks) >= 0.3)
    )
    deduped = remove_duplicated_segments(
        passed, seg_tokens=10, min_docs=2
    ).where(F.col("n_kept") >= 2)
    with_lang = deduped.join(passed.select("doc_id", "lang"), "doc_id")
    # sampled feeds the chunker AND the final lang join-back; unpersisted,
    # the whole segment-dedup cascade would run twice
    sampled = temperature_sample(with_lang, "lang", temperature=0.5).persist()
    chunks = chunk_documents(
        sampled, text_col="clean_text", chunk_tokens=64, overlap=16
    )
    return chunks.join(sampled.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "chunk_id",
        F.md5("chunk_text").alias("chunk_md5"),
        "n_tokens",
    )


C16_SQL = """
WITH toks0 AS (
  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS t FROM documents
), passed AS (
  SELECT doc_id, lang, t FROM toks0
  WHERE n_chars >= 150
    AND lang IN ('en','es','fr','de')
    AND len(t) >= 40
    AND CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.3
), segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(t[(i*10+1):(i*10+10)], ' ') AS seg
  FROM passed,
       LATERAL unnest(generate_series(0,
         CAST(greatest((len(t) + 9) // 10, 1) - 1 AS INT))) AS u(i)
), dup AS (
  SELECT md5(seg) AS h FROM segs GROUP BY md5(seg)
  HAVING count(DISTINCT doc_id) >= 2
), kept AS (
  SELECT * FROM segs WHERE md5(seg) NOT IN (SELECT h FROM dup)
), re AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
), survivors AS (
  SELECT p.doc_id, p.lang, re.clean_text
  FROM passed p JOIN re USING (doc_id) WHERE re.n_kept >= 2
), counts AS (
  SELECT lang, count(*) AS n_docs FROM survivors GROUP BY lang
), rates AS (
  SELECT lang,
         round(least(1.0,
           pow(n_docs, 0.5) / sum(pow(n_docs, 0.5)) OVER ()
           * CAST(sum(n_docs) OVER () AS DOUBLE) / n_docs), 9) AS rate
  FROM counts
), sampled AS (
  SELECT s.doc_id, s.lang, string_split(s.clean_text, ' ') AS ct
  FROM survivors s JOIN rates r USING (lang)
  WHERE CAST(CAST('0x' || substr(md5('mix|' || CAST(s.doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) AS DOUBLE) / 4294967296.0 < r.rate
), chunked AS (
  SELECT doc_id, lang, ct,
         1 + CAST((greatest(len(ct) - 64, 0) + 47) // 48 AS BIGINT) AS n_chunks
  FROM sampled
)
SELECT doc_id, lang, CAST(i AS BIGINT) AS chunk_id,
       md5(array_to_string(ct[(i*48+1):(i*48+64)], ' ')) AS chunk_md5,
       CAST(least(64, len(ct) - i*48) AS BIGINT) AS n_tokens
FROM chunked, LATERAL unnest(generate_series(0, CAST(n_chunks - 1 AS INT))) AS u(i)
"""


# ---------------------------------------------------------------------------
# c17 -- snapshot diff: classify every key between two deterministic
# "versions" of orders as added / removed / changed / unchanged.  The audit
# inverse of the archetype-C delta merge (OrderMasterDataClean.scala:157-180):
# a warehouse running that merge loop verifies loads with exactly this query.
# ---------------------------------------------------------------------------


def c17_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 10 < 8).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = o.where(F.col("o_orderkey") % 10 >= 2).select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    return snapshot_diff(old, new, "o_orderkey")


C17_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 10 < 8
), new AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus
  FROM orders WHERE o_orderkey % 10 >= 2
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       o.o_totalprice  AS o_totalprice_old,
       n.o_totalprice  AS o_totalprice_new,
       o.o_orderstatus AS o_orderstatus_old,
       n.o_orderstatus AS o_orderstatus_new,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.o_totalprice  IS DISTINCT FROM n.o_totalprice
              OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                 THEN 'changed'
            ELSE 'unchanged' END AS diff_status
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
"""


# ---------------------------------------------------------------------------
# c18 -- SCD-2 history backfill: collapse the events changelog into
# effective-time intervals per user (the history-keeping extension of the
# reference's SCD-1 merge, CustomerInfDataClean.scala:41-45).
# ---------------------------------------------------------------------------


def c18_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import scd2_from_changelog

    ev = load_table(spark, sf_dir, "events")
    out = scd2_from_changelog(
        ev, "user_id", ["event_type"], "ts", tiebreak="event_id"
    )
    return out.select(
        "user_id",
        "event_type",
        ts_str("effective_from").alias("effective_from"),
        ts_str("effective_to").alias("effective_to"),
        "is_current",
    )


C18_SQL = """
WITH w AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER win AS prev_type,
         lag(ts) OVER win AS prev_ts
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  SELECT user_id, event_type, ts, event_id FROM w
  WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_type
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS effective_from,
       strftime(lead(ts) OVER win2, '%Y-%m-%d %H:%M:%S') AS effective_to,
       lead(ts) OVER win2 IS NULL AS is_current
FROM seg
WINDOW win2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# c19 -- semantic dedup with representative selection: cluster embeddings
# by cosine near-duplicate (transitive closure), join each cluster to its
# documents (doc_id == vec_id alignment in the testdata), and keep the
# longest document per cluster (ties -> smallest doc_id).  The curation
# step after a33: near-dup groups -> one kept exemplar each.
# ---------------------------------------------------------------------------


def c19_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import dedup_clusters
    from ..operators.similarity import embedding_neardup_pairs
    from .analytics import _ND_THRESHOLD

    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        e, embedding_neardup_pairs(e, threshold=_ND_THRESHOLD), id_col="vec_id"
    )
    j = d.join(clusters, d["doc_id"] == clusters["vec_id"])
    part = Window.partitionBy("rep_id")
    w = part.orderBy(F.desc("n_chars"), "doc_id")
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(part))
        .where(F.col("__rn") == 1)
        .select(
            F.col("rep_id").alias("cluster_id"),
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_n_chars"),
            "n_members",
        )
    )


def _c19_sql() -> str:
    from .analytics import _a33_sql

    a33 = _a33_sql().strip().rstrip("\n")
    return f"""
WITH clusters AS (
{a33}
), joined AS (
  SELECT c.rep_vec_id, d.doc_id, d.n_chars
  FROM clusters c JOIN documents d ON d.doc_id = c.vec_id
), ranked AS (
  SELECT rep_vec_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY rep_vec_id
                            ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY rep_vec_id) AS nm
  FROM joined
)
SELECT rep_vec_id AS cluster_id, doc_id AS kept_doc_id,
       n_chars AS kept_n_chars, CAST(nm AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# c20 -- incremental NEAR-dup ingest gate: docs with doc_id % 5 == 0 play
# the incoming batch, the rest the historical corpus; each incoming doc is
# kept/dropped by LSH-bucket collision + exact-Jaccard verify against the
# corpus only.  The MinHash sibling of c10's exact-digest ingest dedup.
# ---------------------------------------------------------------------------


def c20_ingest_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ingest_neardup_dedup
    from .analytics import _MH_BANDS, _MH_N, _MH_SHINGLE, _MH_THRESHOLD

    d = load_table(spark, sf_dir, "documents")
    return ingest_neardup_dedup(
        d.where(F.col("doc_id") % 5 == 0),
        d.where(F.col("doc_id") % 5 != 0),
        shingle_n=_MH_SHINGLE,
        num_hashes=_MH_N,
        bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
    )


def _c20_sql() -> str:
    from .analytics import _a07_sql

    a07 = _a07_sql().strip().rstrip("\n")
    return f"""
WITH pairs AS MATERIALIZED (
{a07}
), cross_pairs AS (
  -- exactly one side of the pair is an incoming (doc_id % 5 = 0) doc
  SELECT CASE WHEN a % 5 = 0 THEN a ELSE b END AS new_id,
         CASE WHEN a % 5 = 0 THEN b ELSE a END AS corpus_id
  FROM pairs WHERE (a % 5 = 0) <> (b % 5 = 0)
), matches AS (
  SELECT new_id, min(corpus_id) AS match_id FROM cross_pairs GROUP BY new_id
)
SELECT d.doc_id,
       CASE WHEN m.match_id IS NULL THEN 'kept' ELSE 'dropped' END AS status,
       m.match_id
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN matches m ON m.new_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# c21 -- winsorization: clip a numeric column to its exact [p05, p95]
# percentile band (outlier capping before model features).  One aggregate
# broadcast back over the scan -- no second shuffle, no sort of the data.
# ---------------------------------------------------------------------------


def c21_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.95)").alias("hi"),
    )
    return o.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        "o_totalprice",
        F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")).alias(
            "o_totalprice_w"
        ),
    )


C21_SQL = """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders
)
SELECT o_orderkey, o_totalprice,
       least(greatest(o_totalprice, lo), hi) AS o_totalprice_w
FROM orders, b
"""


# ---------------------------------------------------------------------------
# c22 -- CDC apply (MERGE INTO semantics): a deterministic change batch of
# updates (%11), deletes (%13), and inserts (key+1000000 for %17) applied
# to the orders snapshot in one anti-join + union.
# ---------------------------------------------------------------------------


def c22_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import apply_cdc

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    updates = (
        base.where((k % 13 != 0) & (k % 11 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("op", F.lit("U"))
    )
    deletes = base.where(k % 13 == 0).withColumn("op", F.lit("D"))
    inserts = base.where(k % 17 == 0).select(
        (k + 1000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
        F.lit("I").alias("op"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return apply_cdc(base, changes, "o_orderkey")


C22_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), changes AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
         'U' AS op
  FROM base WHERE o_orderkey % 13 <> 0 AND o_orderkey % 11 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D' FROM base
  WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey + 1000000, 'N', 1.0, 'I' FROM base
  WHERE o_orderkey % 17 = 0
)
SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice FROM changes WHERE op <> 'D'
"""


# ---------------------------------------------------------------------------
# c23 -- data-contract expectations: four rules (null check, domain check,
# uniqueness, positivity) evaluated in ONE aggregation pass over orders.
# ---------------------------------------------------------------------------


def c23_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import evaluate_expectations

    o = load_table(spark, sf_dir, "orders")
    return evaluate_expectations(
        o,
        {
            "no_null_custkey": (
                F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)),
                lambda m: m == 0,
            ),
            "positive_price": (F.min("o_totalprice"), lambda m: m > 0),
            "unique_orderkey": (
                F.countDistinct("o_orderkey") - F.count(F.lit(1)),
                lambda m: m == 0,
            ),
            "status_in_domain": (
                F.sum(
                    F.when(
                        ~F.col("o_orderstatus").isin("F", "O", "P"), 1
                    ).otherwise(0)
                ),
                lambda m: m == 0,
            ),
        },
    )


C23_SQL = """
SELECT 'no_null_custkey' AS rule,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         AS observed,
       SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'positive_price', CAST(MIN(o_totalprice) AS DOUBLE),
       MIN(o_totalprice) > 0 FROM orders
UNION ALL
SELECT 'unique_orderkey',
       CAST(COUNT(DISTINCT o_orderkey) - COUNT(*) AS DOUBLE),
       COUNT(DISTINCT o_orderkey) - COUNT(*) = 0 FROM orders
UNION ALL
SELECT 'status_in_domain',
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
            AS DOUBLE),
       SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) = 0
FROM orders
"""


QUERIES: dict[str, QuerySpec] = {
    "c01_write_readback": QuerySpec(c01_write_readback, C01_SQL),
    "c06_training_pipeline": QuerySpec(c06_training_pipeline, _c06_sql()),
    "c02_delta_merge_pipeline": QuerySpec(c02_delta_merge_pipeline, C02_SQL),
    "c03_standardize_strings": QuerySpec(c03_standardize_strings, C03_SQL),
    "c04_profile": QuerySpec(c04_profile, C04_SQL),
    "c05_referential_integrity": QuerySpec(c05_referential_integrity, C05_SQL),
    "c07_redact_pii": QuerySpec(c07_redact_pii, C07_SQL),
    "c08_strip_html": QuerySpec(c08_strip_html, C08_SQL),
    "c09_incremental_agg": QuerySpec(c09_incremental_agg, C09_SQL),
    "c10_ingest_dedup": QuerySpec(c10_ingest_dedup, C10_SQL),
    "c11_hash_split": QuerySpec(c11_hash_split, C11_SQL),
    "c12_impute_median": QuerySpec(c12_impute_median, C12_SQL),
    "c13_iqr_outliers": QuerySpec(c13_iqr_outliers, C13_SQL),
    "c14_stratified_sample": QuerySpec(c14_stratified_sample, C14_SQL),
    "c15_compaction": QuerySpec(c15_compaction, C15_SQL),
    "c16_curation_pipeline": QuerySpec(c16_curation_pipeline, C16_SQL),
    "c17_snapshot_diff": QuerySpec(c17_snapshot_diff, C17_SQL),
    "c18_scd2_history": QuerySpec(c18_scd2_history, C18_SQL),
    "c19_semantic_keep": QuerySpec(c19_semantic_keep, _c19_sql()),
    "c20_ingest_neardup": QuerySpec(c20_ingest_neardup, _c20_sql()),
    "c21_winsorize": QuerySpec(c21_winsorize, C21_SQL),
    "c22_apply_cdc": QuerySpec(c22_apply_cdc, C22_SQL),
    "c23_expectations": QuerySpec(c23_expectations, C23_SQL),
}
