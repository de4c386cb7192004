"""Shared helpers for driver-checked queries.

Oracle-parity rules (the driver compares Spark output against DuckDB by
row count + schema + order-insensitive value hash, columns sorted by name):

- **Timestamps.** The driver testdata stores times as parquet
  ``TIMESTAMP(NANOS)``, which Spark cannot read natively
  ([PARQUET_TYPE_ILLEGAL]); DuckDB reads them as microsecond timestamps.
  ``load_table`` sets ``spark.sql.legacy.parquet.nanosAsLong`` and converts
  ``ns-long div 1000 -> timestamp_micros`` (integer division -- exact,
  matching DuckDB's ns->us truncation).  Query *outputs* always format
  timestamps as strings so both engines hash identically.
- **Session timezone** is pinned to UTC at query time (the driver's session
  may differ; ``date_format`` would otherwise shift).
- **Float aggregates.** ``SUM(double)`` is order-dependent in the last bits;
  queries sum through ``DECIMAL(18,2)`` (exact) and cast the final value to
  double, which is deterministic and identical across engines.
- **Ties.** Every window/top-k query carries a total-order tie-break so both
  engines pick the same row.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# tables whose time columns arrive as ns-long under nanosAsLong
TS_NS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

FMT = "yyyy-MM-dd HH:mm:ss"  # canonical output format (DuckDB: %Y-%m-%d %H:%M:%S)
DAY = "yyyyMMdd"  # etl_date partition format (DuckDB: %Y%m%d)


def _pin_session(spark: SparkSession) -> None:
    """Runtime confs every query depends on (driver session is not ours)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # read un-flagged parquet timestamp[us] as LTZ directly: a post-read
    # NTZ->LTZ cast projection would sit between filters and the scan,
    # killing parquet predicate pushdown on every time column
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def load_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one testdata table with time columns normalized to timestamps.

    Handles both testdata vintages: parquet TIMESTAMP(NANOS) (arrives as
    ns-long under ``nanosAsLong``) and parquet timestamp[us] without the
    UTC flag (arrives as TIMESTAMP_NTZ, which Structured Streaming
    watermarks reject).  Both normalize to TIMESTAMP_LTZ under the pinned
    UTC session, so wall-clock values -- and the DuckDB oracle hashes --
    are identical either way.
    """
    _pin_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    for c, t in df.dtypes:
        if c in TS_NS_COLS.get(table, ()) and t == "bigint":
            # ns since epoch -> exact us truncation
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (S11) for spark.sql."""
    for t in TESTDATA_TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def ts_str(c: Column | str) -> Column:
    """Canonical timestamp -> string for hash-stable output."""
    return F.date_format(c, FMT)


def day_str(c: Column | str) -> Column:
    """Timestamp -> yyyyMMdd partition string (the reference's etl_date)."""
    return F.date_format(c, DAY)


def dsum(col: str) -> Column:
    """Order-independent SUM for doubles: exact decimal sum, cast back.

    ``SUM(CAST(x AS DECIMAL(18,2)))`` is exact integer arithmetic -> the
    final double is bit-identical regardless of partitioning, and matches
    DuckDB's ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``.
    """
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


def dec2(col: str) -> Column:
    """Exact ``DECIMAL(18,2)`` operand (cast BEFORE multiplying -- see the
    module docstring's float rules)."""
    return F.col(col).cast("decimal(18,2)")


def rev_term() -> Column:
    """The exact-decimal TPC-H revenue term ``extprice * (1 - discount)``.

    ONE definition (with :data:`REV_SQL` as its oracle twin) shared by
    every decision-support query -- the decimal discipline here is the
    repo's float-parity cornerstone, so a precision change must never be
    able to diverge between copies.
    """
    return dec2("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - dec2("l_discount")
    )


REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


def hash_uniform(key: Column, seed: str) -> Column:
    """Deterministic uniform in (0, 1) from a seeded md5-prefix hash:
    ``u = (hash32(seed || key) + 0.5) / 2^32`` -- never exactly 0, 0.5,
    or 1, so sign/CDF consumers have no boundary case.  The seeded-
    randomness primitive under the Laplace noise (c63/s15), bootstrap
    weights, and every other derived-not-drawn sampling op; oracle twin:
    :func:`hash_uniform_sql`.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), key)), 1, 8), 16, 10
    ).cast("bigint")
    return (h + F.lit(0.5)) / F.lit(4294967296.0)


def hash_uniform_sql(seed: str, key_sql: str) -> str:
    """DuckDB twin of :func:`hash_uniform`."""
    return (
        f"(CAST(('0x' || substr(md5('{seed}' || {key_sql}), 1, 8))"
        f" AS BIGINT) + 0.5) / 4294967296.0"
    )

