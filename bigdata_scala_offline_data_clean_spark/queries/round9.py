"""Round-9 queries: robust statistics over the equi-depth percentile core.

The round-9 ordering-family fix (equi-DEPTH slice/bucket boundaries,
``operators/ordering.py``) exists so that percentile machinery keeps its
task-size bound under exactly the distributions robust statistics are
FOR -- outliers and heavy tails.  These queries exercise that machinery
as first-class curation operators:

a157 MAD outlier counts per event type (median + median-absolute-
deviation via ``grouped_exact_percentiles`` -- the standard robust
dispersion pair; the |x - med| deviation column is itself a heavy-tailed
domain, the shape the equi-depth cut handles), a158 winsorized pricing
stats (clamp at the exact [p05, p95] from ``exact_percentiles``, then
decimal-exact clipped sum -- the standard outlier-taming transform for
training-metric aggregation), a159 Benford first-digit drift
(first-significant-digit distribution vs the Benford expectation with
per-digit chi-square terms -- a classic synthetic-data / fraud screen;
the expected shares are shared literals so both engines compute
identical IEEE terms), a160 per-dimension embedding mean/variance (the
pre-whitening / feature-health pass before indexing or quantizing a
vector corpus), c60 join-skew audit (max key share + p50/p99 group size
per candidate join key -- the measurement a pipeline runs before picking
broadcast/salting/AQE-skew join strategy; the operational counterpart of
the round-9 ``slice_skew_gate``), a161 Matryoshka truncation fidelity
(norm share retained by the first k dims == cosine(full, truncation) --
the MRL decision metric before ANN indexing), a162 bounded k-core
peeling on the co-purchase graph (``operators/graph.kcore_peel``; the
community-core extraction before clustering, work per round proportional
to surviving edges), a163 temperature-scaled language mixture weights
(p^alpha rebalance, the standard multilingual-pretraining upsampling of
tail languages).

All floats follow the repo rule (``_util`` docstring): per-term
``round(expr, 9)`` -> exact ``DECIMAL(28,9)`` sums -> final
``round(., 6)``; percentile values interpolate bit-identically to
DuckDB ``quantile_cont`` (asserted in tests), so downstream
comparisons/clamps agree exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import load_table

QUERIES: dict[str, QuerySpec] = {}

_DEC = "decimal(28,9)"


# ---------------------------------------------------------------------------
# a157 -- MAD outliers per event type: med = median(v), mad = median(|v -
# med|), outlier iff |v - med| > 3 * mad.  Both medians ride
# grouped_exact_percentiles (no per-group value buffering); the group
# stats frames are tiny and broadcast back onto the events.
# ---------------------------------------------------------------------------


def a157_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordering import grouped_exact_percentiles

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.col("value").cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )
    med = grouped_exact_percentiles(
        ev, ["event_type"], "v", [0.5], small_groups=True
    ).select(
        "event_type", F.col("value").alias("med")
    )
    # pin the deviation frame (r17, guide §1.2): it feeds the MAD
    # percentile construction (3 internal passes) plus the final
    # aggregate -- without the pin each pass re-runs the scan + join
    dev = pin_frame(
        ev.join(F.broadcast(med), "event_type").withColumn(
            "d", F.abs(F.col("v") - F.col("med"))
        )
    )
    mad = grouped_exact_percentiles(
        dev, ["event_type"], "d", [0.5], small_groups=True
    ).select(
        "event_type", F.col("value").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.round(F.min("med"), 6).alias("median_value"),
            F.round(F.min("mad"), 6).alias("mad_value"),
        )
    )


A157_SQL = """
WITH ev AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT event_type, quantile_cont(v, 0.5) AS med FROM ev GROUP BY 1
),
dev AS (
  SELECT ev.event_type, v, med, abs(v - med) AS d
  FROM ev JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT dev.event_type AS event_type,
       COUNT(*) AS n_events,
       SUM(CASE WHEN d > 3 * mad THEN 1 ELSE 0 END) AS n_outliers,
       round(MIN(med), 6) AS median_value,
       round(MIN(mad), 6) AS mad_value
FROM dev JOIN mad USING (event_type)
GROUP BY 1
"""

QUERIES["a157_mad_outliers"] = QuerySpec(a157_mad_outliers, A157_SQL)


# ---------------------------------------------------------------------------
# a158 -- winsorized pricing stats: exact [p05, p95] bounds from
# exact_percentiles (bounded driver state, no value buffer), clamp, then
# a decimal-exact winsorized sum + clip counts.  The clamp bounds are
# IEEE-identical to quantile_cont, so the boundary comparisons agree.
# ---------------------------------------------------------------------------


def a158_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ordering import exact_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    pct = exact_percentiles(li, "l_extendedprice", [0.05, 0.95])
    lo, hi = pct[0.05], pct[0.95]
    v = F.col("l_extendedprice").cast("double")
    w = F.least(F.greatest(v, F.lit(lo)), F.lit(hi))
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(v < F.lit(lo), 1).otherwise(0)).alias("n_clip_lo"),
        F.sum(F.when(v > F.lit(hi), 1).otherwise(0)).alias("n_clip_hi"),
        F.round(F.lit(lo), 6).alias("p05"),
        F.round(F.lit(hi), 6).alias("p95"),
        F.round(
            F.sum(F.round(w, 9).cast(_DEC)).cast("double"), 6
        ).alias("winsorized_sum"),
    )


A158_SQL = """
WITH p AS (
  SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo,
         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi
  FROM lineitem
)
SELECT COUNT(*) AS n_rows,
       SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS n_clip_lo,
       SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS n_clip_hi,
       round(MIN(lo), 6) AS p05,
       round(MIN(hi), 6) AS p95,
       round(CAST(SUM(CAST(round(LEAST(GREATEST(v, lo), hi), 9)
                           AS DECIMAL(28,9))) AS DOUBLE), 6)
         AS winsorized_sum
FROM (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem) t, p
"""

QUERIES["a158_winsorized_stats"] = QuerySpec(a158_winsorized_stats, A158_SQL)


# ---------------------------------------------------------------------------
# a159 -- Benford first-digit drift over order totals.  First significant
# digit via floor -> bigint -> leading character (identical string
# semantics in both engines; log10-free, so no cross-engine libm risk).
# The Benford expectation log10(1 + 1/d) is pre-rounded to 6 dp in
# Python and inlined as the SAME literal into both the Spark plan and
# the oracle SQL -- both engines then run identical IEEE arithmetic for
# the chi-square terms.
# ---------------------------------------------------------------------------

_BENFORD = {d: round(math.log10(1 + 1 / d), 6) for d in range(1, 10)}


def a159_benford_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    )
    obs = o.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    total = obs.agg(F.sum("n_orders").alias("__nt"))
    exp_map = F.create_map(
        *[F.lit(x) for d, e in _BENFORD.items() for x in (str(d), e)]
    )
    chi = (
        (F.col("obs_share") - F.col("exp_share"))
        * (F.col("obs_share") - F.col("exp_share"))
        / F.col("exp_share")
    )
    return (
        obs.crossJoin(F.broadcast(total))
        .withColumn("exp_share", exp_map[F.col("digit")])
        .withColumn("obs_share", F.col("n_orders") / F.col("__nt"))
        .select(
            "digit",
            "n_orders",
            F.round("obs_share", 6).alias("obs_share_r"),
            F.col("exp_share"),
            F.round(chi, 9).alias("chi2_term"),
        )
    )


def _benford_case() -> str:
    arms = " ".join(
        f"WHEN digit = '{d}' THEN CAST({e!r} AS DOUBLE)"
        for d, e in _BENFORD.items()
    )
    return f"CASE {arms} END"


A159_SQL = f"""
WITH obs AS (
  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
),
tot AS (SELECT SUM(n_orders) AS nt FROM obs),
shares AS (
  SELECT digit, n_orders,
         CAST(n_orders AS DOUBLE) / nt AS obs_share,
         {_benford_case()} AS exp_share
  FROM obs, tot
)
SELECT digit, n_orders,
       round(obs_share, 6) AS obs_share_r,
       exp_share,
       round((obs_share - exp_share) * (obs_share - exp_share) / exp_share, 9)
         AS chi2_term
FROM shares
"""

QUERIES["a159_benford_drift"] = QuerySpec(a159_benford_drift, A159_SQL)


# ---------------------------------------------------------------------------
# a160 -- per-dimension embedding statistics (mean / population variance):
# the standard pre-whitening / feature-health pass before indexing or
# quantizing a vector corpus.  One posexplode + one per-dim aggregate;
# the (dim) key space is the embedding width, so the shuffle is tiny and
# map-side partials do all the work.  Algebraic variance (E[x^2] -
# E[x]^2) with the repo's round-then-decimal sum discipline keeps both
# engines on identical IEEE doubles.
# ---------------------------------------------------------------------------


def a160_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    dims = em.select(F.posexplode("embedding").alias("dim", "v0")).select(
        "dim", F.col("v0").cast("double").alias("x")
    )
    agg = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum(F.round(F.col("x"), 9).cast(_DEC)).alias("__sx"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast(_DEC)).alias("__sxx"),
    )
    mean = F.col("__sx").cast("double") / F.col("n_values")
    meansq = F.col("__sxx").cast("double") / F.col("n_values")
    return agg.select(
        "dim",
        "n_values",
        F.round(mean, 6).alias("mean_x"),
        F.round(meansq - mean * mean, 6).alias("var_x"),
    )


A160_SQL = """
WITH dims AS (
  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
),
agg AS (
  SELECT dim,
         COUNT(*) AS n_values,
         SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS sx,
         SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS sxx
  FROM dims GROUP BY dim
)
SELECT dim, n_values,
       round(CAST(sx AS DOUBLE) / n_values, 6) AS mean_x,
       round(CAST(sxx AS DOUBLE) / n_values
             - (CAST(sx AS DOUBLE) / n_values)
               * (CAST(sx AS DOUBLE) / n_values), 6) AS var_x
FROM agg
"""

QUERIES["a160_embedding_dim_stats"] = QuerySpec(
    a160_embedding_dim_stats, A160_SQL
)


# ---------------------------------------------------------------------------
# c60 -- join-skew audit: for each candidate join key, the group-size
# distribution stats that decide broadcast/salting/AQE-skew strategy
# (max key share, p50/p99 group size).  The percentiles ride
# exact_percentiles over the per-key COUNT table -- bounded driver
# state at any key cardinality -- and interpolate bit-identically to
# quantile_cont.  This is the measurement counterpart of the round-9
# slice-skew gate: the audit a pipeline runs BEFORE picking a join plan.
# ---------------------------------------------------------------------------

_C60_KEYS = (
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
)


def c60_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..operators.ordering import exact_percentiles

    parts = []
    for table, key in _C60_KEYS:
        df = load_table(spark, sf_dir, table)
        # checkpoint: exact_percentiles runs three jobs over its input
        # and the stats agg below is a fourth -- without the pin each
        # would re-derive this fact-table shuffle (round-9 review fix)
        sizes = pin_frame(df.groupBy(key).agg(F.count(F.lit(1)).alias("n")))
        pct = exact_percentiles(sizes, "n", [0.5, 0.99])
        parts.append(
            sizes.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum("n").alias("n_rows"),
                F.max("n").alias("max_group"),
            ).select(
                F.lit(key).alias("key_name"),
                "n_groups",
                "n_rows",
                "max_group",
                F.round(
                    F.col("max_group").cast("double") / F.col("n_rows"), 9
                ).alias("max_share"),
                F.round(F.lit(pct[0.5]), 6).alias("p50_group"),
                F.round(F.lit(pct[0.99]), 6).alias("p99_group"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def _c60_arm(table: str, key: str) -> str:
    return f"""
SELECT '{key}' AS key_name,
       COUNT(*) AS n_groups,
       SUM(n) AS n_rows,
       MAX(n) AS max_group,
       round(CAST(MAX(n) AS DOUBLE) / SUM(n), 9) AS max_share,
       round(quantile_cont(CAST(n AS DOUBLE), 0.5), 6) AS p50_group,
       round(quantile_cont(CAST(n AS DOUBLE), 0.99), 6) AS p99_group
FROM (SELECT {key}, COUNT(*) AS n FROM {table} GROUP BY 1) s
"""


C60_SQL = " UNION ALL ".join(_c60_arm(t, k) for t, k in _C60_KEYS)

QUERIES["c60_join_skew_audit"] = QuerySpec(c60_join_skew_audit, C60_SQL)


# ---------------------------------------------------------------------------
# a161 -- Matryoshka truncation fidelity: for each candidate truncation
# width k, the share of the embedding norm retained by the first k
# dimensions (which IS cosine(full, zero-padded-truncation)).  The
# decision metric for MRL-style dimension reduction before ANN indexing:
# pick the smallest k whose fidelity distribution clears the bar.  Pure
# JVM-side aggregate/slice folds (same ordered-fold discipline as a10's
# cosine oracle, so both engines produce identical IEEE doubles); one
# tiny per-k aggregate, map-side partials do all the work.
# ---------------------------------------------------------------------------

_A161_KS = (8, 16, 32)
_A161_DIM = 64


def _sq_fold(col):
    return F.aggregate(
        col,
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )


def a161_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE corpus scan: all three truncation fidelities are prefix folds
    # of the same vector, so they project side by side and a single
    # aggregate row carries every per-k statistic; the row then unpivots
    # to the same (trunc_k, ...) output rows the 3-arm UNION oracle
    # produces (round-9 review fix: the previous per-k loop scanned
    # embeddings once per k, re-folding the full square sum each time)
    em = load_table(spark, sf_dir, "embeddings")
    fids = em.select(
        *[
            F.round(
                F.sqrt(
                    _sq_fold(F.slice(F.col("embedding"), 1, k))
                    / _sq_fold(F.col("embedding"))
                ),
                9,
            ).alias(f"__fid_{k}")
            for k in _A161_KS
        ]
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for k in _A161_KS:
        thr = round(math.sqrt(k / _A161_DIM), 6)
        c = F.col(f"__fid_{k}")
        aggs += [
            F.sum(c.cast(_DEC)).alias(f"__sum_{k}"),
            F.min(c).alias(f"__min_{k}"),
            F.sum(F.when(c >= F.lit(thr), 1).otherwise(0)).alias(
                f"__abv_{k}"
            ),
        ]
    row = fids.agg(*aggs)
    arms = F.array(
        *[
            F.struct(
                F.lit(k).alias("trunc_k"),
                F.col("__n").alias("n_vecs"),
                F.round(
                    F.col(f"__sum_{k}").cast("double") / F.col("__n"), 6
                ).alias("mean_fidelity"),
                F.round(F.col(f"__min_{k}"), 6).alias("min_fidelity"),
                F.round(
                    F.col(f"__abv_{k}").cast("double") / F.col("__n"), 6
                ).alias("p_above_isotropic"),
            )
            for k in _A161_KS
        ]
    )
    return row.select(F.explode(arms).alias("__a")).select("__a.*")


def _a161_arm(k: int) -> str:
    thr = round(math.sqrt(k / _A161_DIM), 6)
    sq = (
        "list_reduce(list_transform({col}, x -> "
        "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, v) -> s + v)"
    )
    head = sq.format(col=f"list_slice(embedding, 1, {k})")
    full = sq.format(col="embedding")
    return f"""
SELECT {k} AS trunc_k,
       COUNT(*) AS n_vecs,
       round(CAST(SUM(CAST(fid AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
         AS mean_fidelity,
       round(MIN(fid), 6) AS min_fidelity,
       round(CAST(SUM(CASE WHEN fid >= {thr} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS p_above_isotropic
FROM (SELECT round(sqrt({head} / {full}), 9) AS fid FROM embeddings) s
"""


A161_SQL = " UNION ALL ".join(_a161_arm(k) for k in _A161_KS)

QUERIES["a161_matryoshka_fidelity"] = QuerySpec(
    a161_matryoshka_fidelity, A161_SQL
)


# ---------------------------------------------------------------------------
# a162 -- bounded k-core peeling on the co-purchase graph (a69's edge
# fixture: parts sharing an order, support >= 2, canonical u < v).  The
# degree >= k filter-and-reduce round is the standard community-core
# extraction before clustering; the per-round (n_nodes, n_edges,
# max_degree) summary is the convergence audit.  Work per round is
# proportional to surviving edges; see operators/graph.kcore_peel.
# ---------------------------------------------------------------------------

_A162_K = 3
_A162_ROUNDS = 3
_A162_SUPPORT = 2


def a162_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import co_purchase_edges, kcore_peel

    li = load_table(spark, sf_dir, "lineitem")
    edges = co_purchase_edges(
        li.select("l_orderkey", "l_partkey"), min_support=_A162_SUPPORT
    )
    return kcore_peel(edges, k=_A162_K, rounds=_A162_ROUNDS)


def _a162_sql() -> str:
    from ..operators.graph import co_edges_cte

    stages = [co_edges_cte("e0", min_support=_A162_SUPPORT)]
    arms = []
    for r in range(1, _A162_ROUNDS + 1):
        p = r - 1
        stages.append(
            f"""d{r} AS (
  SELECT node, count(*) AS deg
  FROM (SELECT u AS node FROM e{p} UNION ALL SELECT v AS node FROM e{p}) s
  GROUP BY node
),
k{r} AS (SELECT * FROM d{r} WHERE deg >= {_A162_K}),
e{r} AS (
  SELECT e.u, e.v FROM e{p} e
  JOIN k{r} a ON e.u = a.node
  JOIN k{r} b ON e.v = b.node
)"""
        )
        arms.append(
            f"""SELECT {r} AS round,
       (SELECT count(*) FROM k{r}) AS n_nodes,
       (SELECT count(*) FROM e{r}) AS n_edges,
       (SELECT max(deg) FROM k{r}) AS max_degree"""
        )
    return "WITH " + ",\n".join(stages) + "\n" + "\nUNION ALL\n".join(arms)


A162_SQL = _a162_sql()

QUERIES["a162_kcore_peel"] = QuerySpec(a162_kcore_peel, A162_SQL)


# ---------------------------------------------------------------------------
# a163 -- temperature-scaled language mixture weights: w_l = p_l^alpha /
# sum(p^alpha) with alpha = 0.3, the standard multilingual-pretraining
# rebalance (upsamples tail languages, caps head dominance).  Per-lang
# counts are one tiny aggregate; the normalizer is a 1-row broadcast
# frame.  The power terms follow the repo float rule -- round(.,9) ->
# exact decimal sum -> double -- so the normalizer is order-independent
# and identical across engines.
# ---------------------------------------------------------------------------

_A163_ALPHA = 0.3


def a163_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("__tot"))
    terms = counts.crossJoin(tot).select(
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("__tot")).alias("__p"),
        F.round(
            F.pow(F.col("n_docs").cast("double") / F.col("__tot"),
                  F.lit(_A163_ALPHA)),
            9,
        ).cast(_DEC).alias("__term"),
    )
    z = terms.agg(F.sum("__term").alias("__z"))
    w = F.col("__term").cast("double") / F.col("__z").cast("double")
    return terms.crossJoin(z).select(
        "lang",
        "n_docs",
        F.round("__p", 6).alias("doc_share"),
        F.round(w, 6).alias("sample_weight"),
        F.round(w / F.col("__p"), 6).alias("boost"),
    )


A163_SQL = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n_docs) AS tot FROM counts),
terms AS (
  SELECT lang, n_docs,
         CAST(n_docs AS DOUBLE) / tot AS p,
         CAST(round(power(CAST(n_docs AS DOUBLE) / tot, {_A163_ALPHA}), 9)
              AS DECIMAL(28,9)) AS term
  FROM counts, tot
),
z AS (SELECT SUM(term) AS z FROM terms)
SELECT lang, n_docs,
       round(p, 6) AS doc_share,
       round(CAST(term AS DOUBLE) / CAST(z AS DOUBLE), 6) AS sample_weight,
       round(CAST(term AS DOUBLE) / CAST(z AS DOUBLE) / p, 6) AS boost
FROM terms, z
"""

QUERIES["a163_temperature_mixture"] = QuerySpec(
    a163_temperature_mixture, A163_SQL
)
