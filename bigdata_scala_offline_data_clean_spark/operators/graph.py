"""Distributed graph operators beyond connectivity.

``operators/dedup.connected_components`` covers component finding (the
dedup-cluster primitive); this module adds iterative score propagation --
PageRank -- in the shape that survives 100 TB edge sets:

- Each iteration is ONE join (rank onto out-edges) + ONE aggregation
  (sum contributions by destination), both keyed on node ids, so a cluster
  co-partitions them; no collect, no per-node driver state.
- **Fixed-point integer arithmetic**: ranks are scaled BIGINTs and the
  damping update is ``(1-d)*SCALE + (d_num * sum(contrib)) div d_den``
  with integer floor-division everywhere.  Float PageRank is
  order-dependent (``SUM(double)`` re-associates per shuffle); the integer
  form is bit-deterministic on any cluster layout AND reproducible by the
  DuckDB oracle -- same trick as ``_util.dsum``'s decimal sums, applied to
  an iterative algorithm.  SCALE=1e12 keeps 12 significant digits, far
  below BIGINT overflow for any realistic rank mass.
- Lineage grows linearly with iterations; for the handful of rounds
  PageRank needs (it converges geometrically at rate ``d``) that is fine,
  and callers running many rounds can checkpoint like
  ``connected_components`` does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ordering import pin_frame

PR_SCALE = 1_000_000_000_000  # 1e12: fixed-point unit


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "u",
    dst: str = "v",
    node: str = "node",
) -> DataFrame:
    """Multi-source BFS: ``(node, hop)`` with each node at its MINIMUM hop.

    Real frontier BFS (round-7 fix, VERDICT r6 finding #4): every hop

    1. joins the current frontier onto the edge table (one equi-join on
       the source id),
    2. distincts the reached destinations,
    3. ``left_anti``-subtracts the accumulated visited set, so an
       already-seen node is NEVER re-expanded.

    Without step 3 the frontier of a small-diameter graph converges to
    the whole component and every extra hop pays a full component x edge
    join; with it, hop k's work is proportional to the nodes FIRST
    reached at hop k (empty once the component is exhausted).  The edge
    frame is checkpointed once and reused across hops; per-hop frontiers
    are checkpointed so lineage stays flat.

    ``seeds`` must be distinct on ``node``.  Output rows are unique per
    node (first-visit hop == min hop), identical to the
    union-all-hops + ``min(hop)`` formulation row-for-row.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = pin_frame(e)
    visited = pin_frame(
        seeds.select(F.col(node).alias("node"), F.lit(0).alias("hop"))
    )
    cur = visited.select("node")
    for k in range(1, max_hops + 1):
        nxt = pin_frame(
            e.join(cur.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(k).alias("hop"))
        )
        visited = visited.unionByName(nxt)
        cur = nxt.select("node")
    return visited


CO_MAX_BASKET = 64  # whale-basket bound for co-occurrence pair generation


def co_filtered_items(
    items: DataFrame,
    max_basket: int = CO_MAX_BASKET,
    grp: str = "l_orderkey",
    item: str = "l_partkey",
) -> DataFrame:
    """The whale-bounded DISTINCT ``(g, i)`` frame shared by the pair
    builder and by popularity counts (a173's item-CF denominator) -- one
    definition of the basket hygiene, see ``co_purchase_edges``."""
    it = items.select(
        F.col(grp).alias("g"), F.col(item).alias("i")
    ).distinct()
    ok = (
        it.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__bs"))
        .where(F.col("__bs") <= max_basket)
        .select("g")
    )
    return it.join(ok, "g")


def co_purchase_edges(
    items: DataFrame,
    min_support: int = 2,
    max_basket: int = CO_MAX_BASKET,
    grp: str = "l_orderkey",
    item: str = "l_partkey",
    keep_support: bool = False,
) -> DataFrame:
    """Canonical ``(u, v)`` co-occurrence edges (``u < v``) from an
    ``(group, item)`` frame, with support- and whale-basket bounds.

    Pair generation inside a group is quadratic in group size: one whale
    basket with m items emits m^2/2 join rows before any support filter
    can prune them -- the same single-key skew bomb class as the round-9
    slicer finding, latent here because TPC-H baskets top out at 7
    items.  Groups larger than ``max_basket`` are therefore EXCLUDED
    before pairing (standard market-basket hygiene: a whale basket is
    near-zero co-purchase signal and the dominant pair cost), bounding
    worst-case pair fan-out per group at ``max_basket^2/2``.  The size
    filter is one aggregation + one semi-join on the SAME group key as
    the pair join, so a cluster co-partitions all three.

    At every tested scale the bound never fires (baskets <= 7 << 64), so
    results are identical with or without it; the SQL oracles mirror the
    filter verbatim (`co_edges_cte`) to keep the declared semantics
    honest rather than relying on the fixture never triggering it.

    ``keep_support=True`` keeps the co-occurrence count column
    (``support``) the aggregation computes anyway -- the item-CF
    numerator (a173), so that query reuses this builder instead of
    duplicating the hygiene logic.
    """
    it = co_filtered_items(items, max_basket, grp, item)
    a, b = it.alias("a"), it.alias("b")
    edges = (
        a.join(b, "g")
        .where(F.col("a.i") < F.col("b.i"))
        .groupBy(F.col("a.i").alias("u"), F.col("b.i").alias("v"))
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    return edges if keep_support else edges.select("u", "v")


def co_edges_cte(
    edge_name: str,
    min_support: int = 2,
    max_basket: int = CO_MAX_BASKET,
    keep_support: bool = False,
) -> str:
    """DuckDB-oracle mirror of ``co_purchase_edges`` over ``lineitem``:
    CTE text defining ``items``/``ok_baskets``/``fitems``/``edge_name``.
    Callers embed it as the head of a ``WITH`` chain (``fitems`` stays
    visible to later CTEs -- a173's popularity counts read it)."""
    support_col = ", count(*) AS support" if keep_support else ""
    return f"""items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ok_baskets AS (
  SELECT l_orderkey FROM items GROUP BY 1 HAVING count(*) <= {max_basket}
),
fitems AS (
  SELECT items.* FROM items JOIN ok_baskets USING (l_orderkey)
),
{edge_name} AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v{support_col}
  FROM fitems a JOIN fitems b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {min_support}
)"""


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Per-round ``(round, n_nodes, n_edges, max_degree)`` summary of
    bounded k-core peeling on an undirected canonical edge set.

    Each round: degree = count over both edge orientations (one
    aggregation), keep nodes with ``degree >= k``, keep edges whose BOTH
    endpoints survive (two node-keyed equi-joins -- co-partitioned with
    the degree aggregation on a cluster).  A fixed round budget keeps the
    plan auditable the way ``pagerank`` does; full convergence is the
    same loop run until ``n_edges`` stops changing.  Work per round is
    proportional to SURVIVING edges, which shrinks monotonically -- the
    property that makes peeling viable on 100 TB edge sets, where the
    first round typically drops the long tail of degree-1 nodes.

    The summary frames are 1-row aggregates (their crossJoin is a 1-row
    broadcast, the repo-wide pattern); per-round edge/keep frames are
    lazily checkpointed so lineage stays flat across rounds.  Empty
    survivors yield ``(r, 0, 0, NULL)`` -- same as the SQL mirror.
    """
    from functools import reduce

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = pin_frame(e)
    out = []
    for r in range(1, rounds + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = pin_frame(deg.where(F.col("deg") >= k))
        e = pin_frame(
            e.join(keep.select(F.col("node").alias("u")), "u")
            .join(keep.select(F.col("node").alias("v")), "v")
            .select("u", "v")
        )
        out.append(
            keep.agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.max("deg").alias("max_degree"),
            )
            .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
            .select(
                F.lit(r).alias("round"),
                "n_nodes",
                "n_edges",
                "max_degree",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), out)


def pagerank(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iters: int = 5,
    d_num: int = 85,
    d_den: int = 100,
) -> DataFrame:
    """(node, pr) after ``iters`` damped power iterations, fixed-point.

    ``edges`` is directed; pass both orientations for an undirected graph.
    The node universe is the SOURCE set (nodes with out-edges): the fixed
    no-in-edge node set is computed once and its constant ``(1-d)*SCALE``
    rank rows are unioned into every round's table, so such nodes never
    silently vanish after round 1 (round-5 fix; on symmetrized graphs the
    set is empty and values are unchanged).  Sink nodes (in-edges
    only) and dangling-mass redistribution remain out of scope, as is
    convergence detection (fixed iteration count = fixed, auditable plan).
    """
    # out-degree rides WITH the edges: joining rank onto (u, v, deg) is one
    # equi-join per round instead of two.  The edge frame feeds every
    # iteration, so persist it once -- without this, lineage re-derives the
    # upstream edge construction (often itself a join) iters times.
    # Round 18 (guide §2.4 "establish the partitioning once"): the edge
    # frame is repartitioned on the rank-join key BEFORE the persist, so
    # the cached blocks carry hashpartitioning(u) and every round's
    # rank join exchanges only the node-sized rank table -- the former
    # plan re-shuffled the FAT edge side in all ``iters`` rounds.
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "u").repartition(F.col("u")).persist()
    base = (PR_SCALE * (d_den - d_num)) // d_den
    # Dangling handling without a per-round left join: the set of sources
    # with NO in-edges is FIXED across rounds, and such a node's rank is
    # provably the constant (1-d)*SCALE baseline every round.  Compute that
    # node set once and union its constant rank rows into each round's
    # table -- every round's edge join stays INNER (measured ~1.7x faster
    # than the left-join/coalesce form at sf0.1, and at cluster scale it
    # keeps the coalesce off the fat edge side).
    no_in = pin_frame(
        deg.select("u")
        .join(e.select(F.col("v").alias("u")).distinct(), "u", "left_anti")
        .select("u", F.lit(base).cast("bigint").alias("pr"))
    )
    # rank table starts uniform at SCALE; each round: contribution =
    # rank div degree, summed over in-edges (exact BIGINT), then damp.
    # pin_frame truncates the per-round plan (rank tables are node-sized;
    # replicated when the session has a checkpoint dir).
    r = deg.select("u", F.lit(PR_SCALE).cast("bigint").alias("pr"))
    for _ in range(iters):
        contrib = ed.join(r, "u").select(
            F.col("v").alias("u"),
            F.expr("pr div deg").alias("c"),
        )
        # the union keeps r covering every SOURCE (agg emits nodes with
        # in-edges; no_in supplies the rest), so next round's inner join
        # loses nothing -- bit-identical to the left-join/coalesce form.
        # LAZY checkpoint (r17 A/B: 7.5s -> 5.2s at sf0.1): still
        # truncates each round's lineage and pins its blocks, but all
        # rounds materialize inside the ONE final job instead of paying
        # an eager job barrier per iteration (guide §1.2); with a
        # checkpoint dir each round's pin is eager and replicated
        r = pin_frame(
            contrib.groupBy("u").agg(
                (
                    F.lit(base).cast("bigint")
                    + F.expr(f"({d_num} * sum(c)) div {d_den}")
                ).alias("pr")
            ).unionByName(no_in)
        )
    # one final backfill restores the full source universe in the output
    # (no-in-edge nodes sit at the base rank); eager checkpoint
    # materializes the node-sized result so the edge cache can be released
    out = pin_frame(
        deg.select("u")
        .join(r, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce(F.col("pr"), F.lit(base)).cast("bigint").alias("pr"),
        ),
        eager=True,
    )
    ed.unpersist()
    return out


def triangle_census(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """One-row global triangle census over an undirected canonical
    (``u < v``, deduped) edge set: ``(n_nodes, n_edges, n_wedges,
    n_triangles, global_clustering)``.

    Degree-ORIENTED enumeration (Suri & Vassilvitskii, WWW'11 "the curse
    of the last reducer"): every edge is re-oriented from its lower-
    degree endpoint to its higher-degree endpoint (ties broken by node
    id), so out-degree is bounded by O(sqrt(m)) and the wedge self-join
    emits O(m^1.5) candidates TOTAL regardless of skew -- a star node
    with degree 10^6 generates zero wedges from its center, because all
    its edges point INTO it.  The naive u<v three-way join, by contrast,
    funnels every hub's full neighborhood through one reducer: the
    canonical last-reducer skew bomb at 100 TB.  Each candidate wedge
    (a->b, a->c) closes iff the oriented edge b->c exists (one hash
    semi-join keyed on the pair).  Triangle counts are orientation-
    invariant, so the DuckDB oracle may use the canonical-order 3-way
    join and agree exactly.

    ``n_wedges`` is the open-path count sum(deg*(deg-1)/2) (integer
    exact, from the degree table alone); ``global_clustering`` is the
    standard 3*triangles/wedges transitivity ratio -- the ONE IEEE
    division in the output, rounded to 6.
    """
    # Defensive canonicalization (ADVICE r9): the wedge semi-join and the
    # orientation bijection are only correct over a canonical (u < v,
    # deduplicated, loop-free) edge set; raw directed or duplicated input
    # would previously produce silently wrong counts.  least/greatest +
    # dropDuplicates shuffles on the same key the degree agg uses anyway
    # -- cheap insurance at any scale, a rowcount no-op for canonical
    # input.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    e = pin_frame(e)
    deg = pin_frame(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orientation key (deg, node) totally orders endpoints; broadcast is
    # NOT used -- deg is node-sized, so both joins shuffle on the node
    # key and co-partition with the degree aggregation
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("__dv"))
    lo_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    oriented = pin_frame(
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    w1 = oriented.select(F.col("s"), F.col("t").alias("b"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("c"))
    # wedge (b, c) ordered by node id so each unordered pair appears once;
    # the closing edge may be oriented either way, so probe both keys
    wedges = (
        w1.join(w2, "s")
        .where(F.col("b") < F.col("c"))
        .select("b", "c")
    )
    closing = oriented.select(
        F.least("s", "t").alias("b"), F.greatest("s", "t").alias("c")
    )
    # closing edges are distinct (the input edge set is canonical and the
    # orientation is a bijection on it), so LEFT SEMI keeps each closed
    # wedge ROW exactly once -- and each triangle IS exactly one wedge row
    # (its unique orientation-minimal apex), including two triangles that
    # share the same (b, c) pair from different apexes (two rows survive)
    tri = wedges.join(closing, ["b", "c"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            F.expr("CAST(deg AS BIGINT) * (deg - 1) div 2")
        ).alias("n_wedges"),
    )
    ecnt = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(ecnt)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
                6,
            ).alias("global_clustering"),
        )
    )
