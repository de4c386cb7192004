"""Round-13 pins: the four carried ADVICE fixes (exact_percentiles input
pin, HLL NULL drop, matmul zero-norm guard, HALF_UP rounding parity) and
the two VERDICT r11/r12 scale guards (matmul broadcast budget, semdedup
whale-cluster block-pair sub-split).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_round_half_up6_matches_spark_round(spark):
    """The matmul paths' 6dp rounding is F.round's HALF_UP, not numpy's
    banker's rounding: at the 2.5e-6 midpoint they diverge."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        _round_half_up6,
    )

    vals = [2.5e-6, 1.5e-6, -2.5e-6, 0.1234565, -0.9999995, 0.0, 1.0]
    ours = _round_half_up6(np.asarray(vals, dtype=np.float64))
    theirs = (
        spark.createDataFrame([(v,) for v in vals], "v double")
        .select(F.round("v", 6).alias("r"))
        .collect()
    )
    assert [float(x) for x in ours] == [r["r"] for r in theirs]
    # and the divergence from banker's rounding is real at the midpoint
    assert float(_round_half_up6(np.float64(2.5e-6))) == 3e-6
    assert float(np.round(np.float64(2.5e-6), 6)) == 2e-6


def test_np_unit_rows_zero_norm_never_pairs(spark):
    """A zero-norm embedding must yield NO pairs and NO NaN cosines on
    the matmul path (ADVICE r11/r12: the bare divide produced NaN rows,
    and numpy NaN >= t is False while Spark sorts NaN above all doubles
    -- a silent cross-path divergence)."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        _neardup_pairs_matmul,
        _np_unit_rows,
    )

    m = _np_unit_rows(np.asarray([[0.0, 0.0], [3.0, 4.0]]))
    assert not np.isnan(m).any()
    assert (m[0] == 0.0).all()
    assert np.allclose(m[1], [0.6, 0.8])

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 1e-9]),  # near-dup of 1
            (3, [0.0, 0.0]),  # zero norm: pairs with nothing
        ],
        "vec_id bigint, embedding array<double>",
    )
    pairs = _neardup_pairs_matmul(df, "vec_id", "embedding", 0.9).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}
    assert all(not np.isnan(r["cosine"]) for r in pairs)


def test_matmul_broadcast_budget_guard(spark, monkeypatch):
    """_neardup_pairs_matmul must refuse -- loudly, naming the LSH fold
    path -- to materialize a corpus whose 8nd bytes exceed the budget,
    instead of toPandas()-ing it onto the driver."""
    from bigdata_scala_offline_data_clean_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(100)],
        "vec_id bigint, embedding array<double>",
    )
    monkeypatch.setattr(
        similarity, "MATMUL_BROADCAST_BUDGET_BYTES", 100 * 2 * 8 - 1
    )
    with pytest.raises(ValueError, match="LSH-bucketed fold"):
        similarity._neardup_pairs_matmul(df, "vec_id", "embedding", 0.9)
    # within budget: runs
    monkeypatch.setattr(
        similarity, "MATMUL_BROADCAST_BUDGET_BYTES", 100 * 2 * 8
    )
    similarity._neardup_pairs_matmul(df, "vec_id", "embedding", 0.9).count()


def test_semdedup_whale_cluster_subsplit(spark):
    """A cluster larger than pair_block must still dedup CORRECTLY
    through the block-pair sub-split (no single task ever sees more than
    two blocks), matching the reference model exactly -- including
    transitive groups that span block boundaries."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        semdedup,
    )
    from reference_models import semdedup_model

    # 8-member single cluster; pair_block=3 -> blocks {0,1,2},{3,4,5},
    # {6,7}: near-dup families (0,1), (2,3) [SPANS a block boundary],
    # and (5,6,7) [chain across blocks] force cross-block pairs
    fam = {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 3, 6: 3, 7: 3}
    rows = [(i, [1.0, 0.05 * fam[i] + 1e-6 * i, 0.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [[1.0, 0.0, 0.0]]  # one 8-member cluster
    model = semdedup_model(rows, cents, 0.9999)
    for blk in (1, 2, 3, 8):
        mm = {
            r.vec_id: (r.cluster, r.group_id, r.is_kept)
            for r in semdedup(
                df, cents, threshold=0.9999, pair_block=blk
            ).collect()
        }
        assert mm == model, f"pair_block={blk}"
    # sanity: the families actually merged (0,1), (2,3), (5,6,7)
    groups = {}
    for vid, (_, gid, _) in model.items():
        groups.setdefault(gid, set()).add(vid)
    assert {frozenset(g) for g in groups.values()} == {
        frozenset({0, 1}), frozenset({2, 3}), frozenset({4}),
        frozenset({5, 6, 7}),
    }


def test_hll_registers_null_drop(spark):
    """NULL values must not inflate __filled: the estimate over a
    NULL-bearing column equals the estimate over the non-NULL subset
    (COUNT(DISTINCT x) semantics)."""
    from bigdata_scala_offline_data_clean_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    base = spark.range(500).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    with_nulls = base.unionByName(
        spark.range(50).select(
            F.lit("g").alias("g"), F.lit(None).cast("string").alias("v")
        )
    )
    e_clean = hll_estimate(hll_registers(base, ["g"], "v"), ["g"]).collect()
    e_nulls = hll_estimate(
        hll_registers(with_nulls, ["g"], "v"), ["g"]
    ).collect()
    assert e_clean[0]["hll_estimate"] == e_nulls[0]["hll_estimate"]
    # no NULL register row either
    regs = hll_registers(with_nulls, ["g"], "v")
    assert regs.where(F.col("reg").isNull()).count() == 0


def test_exact_percentiles_pins_nondeterministic_input(spark):
    """exact_percentiles runs three actions; a nondeterministic input
    (unseeded rand) must still produce one coherent answer -- the pin
    guarantees all three actions see the SAME evaluation (the old
    unpinned form could KeyError on a desynced rank or return values
    from a different sample than the census)."""
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        exact_percentiles,
    )

    df = spark.range(20000).select(
        (F.rand() * 100.0).alias("v")  # fresh sample per evaluation
    )
    out = exact_percentiles(df, "v", [0.0, 0.25, 0.5, 0.75, 1.0])
    vals = [out[q] for q in (0.0, 0.25, 0.5, 0.75, 1.0)]
    assert all(v is not None for v in vals)
    assert vals == sorted(vals)
    assert 0.0 <= vals[0] and vals[-1] <= 100.0


def test_a209_trained_semdedup_matmul_matches_fold(spark):
    """a209's scale path (trained k = isqrt(n)) must agree with the
    sequential-fold reference model on the SAME trained centroids:
    clusters, groups, keeper choice -- and keep at least the documented
    floor."""
    import os

    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        semdedup,
        train_ivf_centroids,
    )
    from bigdata_scala_offline_data_clean_spark.queries._util import (
        load_table,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round13 import (
        _A209_KEEP_FLOOR,
        _SD_COS,
    )
    from reference_models import semdedup_model

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("testdata not present")
    e = load_table(spark, sf, "embeddings")
    import math

    k = max(4, math.isqrt(e.count()))
    cents = train_ivf_centroids(
        e, n_clusters=k, sample_size=2048, seed=42, order_col="vec_id"
    )
    model = semdedup_model(
        [(r.vec_id, r.embedding) for r in e.collect()], cents, _SD_COS
    )
    mm_rows = semdedup(e, cents, threshold=_SD_COS).collect()
    mm = {r.vec_id: (r.cluster, r.group_id, r.is_kept) for r in mm_rows}
    assert mm == model
    kept = sum(1 for r in mm_rows if r.is_kept) / len(mm_rows)
    assert kept >= _A209_KEEP_FLOOR


def test_train_ivf_centroids_order_col_canonical(spark):
    """order_col makes training independent of scan partitioning: the
    same data shuffled into a different partition layout trains the
    IDENTICAL centroids."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        train_ivf_centroids,
    )

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(4)]) for i in range(64)]
    a = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    b = (
        spark.createDataFrame(list(reversed(rows)), "vec_id bigint, embedding array<double>")
        .repartition(7)
    )
    ca = train_ivf_centroids(a, n_clusters=4, sample_size=64, order_col="vec_id")
    cb = train_ivf_centroids(b, n_clusters=4, sample_size=64, order_col="vec_id")
    assert ca == cb


def test_frozen_quantizer_artifacts():
    """The shipped a16/a76 quantizer literals keep their contracted
    shapes and are finite (regenerate via tools/freeze_quantizers.py)."""
    import math

    from bigdata_scala_offline_data_clean_spark.queries.quantizers import (
        A16_CENTROIDS,
        A76_CODEBOOKS,
    )

    assert len(A16_CENTROIDS) == 8
    assert all(len(c) == 64 for c in A16_CENTROIDS)
    assert all(math.isfinite(x) for c in A16_CENTROIDS for x in c)
    assert len(A76_CODEBOOKS) == 16
    assert all(len(b) == 16 for b in A76_CODEBOOKS)
    assert all(len(cv) == 4 for b in A76_CODEBOOKS for cv in b)
    assert all(
        math.isfinite(x) for b in A76_CODEBOOKS for cv in b for x in cv
    )


def test_c68_funnel_composes_and_attrites(spark):
    """The curation funnel must be monotone (each stage keeps a subset),
    every stage must actually drop something on the fixture, and the
    packed-chunk count must equal the per-shard integer ceil division
    of the surviving tokens."""
    import os

    from bigdata_scala_offline_data_clean_spark.queries.round13 import (
        _C68_CTX,
        c68_curation_packing_funnel,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("testdata not present")
    rows = {
        r["stage"]: r
        for r in c68_curation_packing_funnel(spark, sf).collect()
    }
    assert [rows[i]["rule"] for i in range(5)] == [
        "raw",
        "neardup_prune",
        "span_dedup_minlen",
        "dsir_select",
        "packed_chunks",
    ]
    n = [rows[i]["n_docs"] for i in range(5)]
    assert n[0] >= n[1] >= n[2] >= n[3]  # monotone survivor counts
    for i in (1, 2, 3):
        assert rows[i]["n_dropped"] == n[i - 1] - n[i]
    t = [rows[i]["n_tokens"] for i in range(5)]
    assert t[0] >= t[1] >= t[2] >= t[3] and t[4] == t[3]
    # chunk count bound: ceil(total/CTX) <= chunks <= n_shards + total/CTX
    total = t[3]
    assert n[4] >= (total + _C68_CTX - 1) // _C68_CTX
    assert n[4] <= 8 + total // _C68_CTX


def test_a211_distills_rule_above_base_rate(spark):
    """The frozen linear classifier must track its teacher rule well
    above the majority base rate on HELD-OUT documents (sf0.001 differs
    from the sf0.01 training set), and every correctness column must be
    self-consistent."""
    import os

    from bigdata_scala_offline_data_clean_spark.queries.classifier_weights import (
        A211_BASE_RATE,
        A211_TRAIN_ACC,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round13 import (
        a211_quality_classifier,
    )

    assert A211_TRAIN_ACC > A211_BASE_RATE + 0.03  # distillation is real
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("testdata not present")
    rows = a211_quality_classifier(spark, sf).collect()
    acc = rows[0]["accuracy"]
    assert all(r["accuracy"] == acc for r in rows)  # one corpus-level acc
    assert acc >= 0.9 and rows[0]["acc_ok"]
    n_correct = sum(1 for r in rows if r["correct"])
    assert round(n_correct / len(rows), 4) == acc
    for r in rows[:50]:
        assert r["correct"] == (r["predicted"] == r["rule_pass"])
        assert 0.0 <= r["prob"] <= 1.0


def test_c69_serves_from_probed_cells_only(spark):
    """The persisted-IVF serve path must (a) return exactly a16's
    answer (the cell filter drops only never-probed rows) and (b) prune
    the index scan to the probed cells: with the same frozen quantizer,
    a served read lists only probe-cell directories."""
    import os

    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.queries.analytics import (
        a16_embedding_ivf_ann,
    )
    from bigdata_scala_offline_data_clean_spark.queries.round13 import (
        c69_ivf_index_serve,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("testdata not present")
    key = lambda r: (r.q_id, r.n_id, r.cosine, r.rank)  # noqa: E731
    served = sorted(map(key, c69_ivf_index_serve(spark, sf).collect()))
    inline = sorted(map(key, a16_embedding_ivf_ann(spark, sf).collect()))
    assert served == inline

    # pruning, pinned directly: a cell-partitioned write + IN-filter read
    # must list only the filtered cells' files
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="ods_spark_t69_")
    try:
        spark.range(100).select(
            F.col("id"), (F.col("id") % 8).cast("int").alias("cell")
        ).write.partitionBy("cell").parquet(f"{scratch}/idx")
        back = spark.read.parquet(f"{scratch}/idx")
        pruned = back.where(F.col("cell").isin([1, 3]))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        import re

        pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
        assert pf is not None and "IN (1,3)" in pf.group(0)
        # and the pruned read returns exactly the two cells' rows
        # (independent expectation, ADVICE r13: ids with id % 8 in
        # {1, 3} -- 13 each in range(100) -- not a re-run of the same
        # pruned expression)
        assert pruned.count() == 26
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
