"""Edge-input pins for the dedup and similarity operators: a delta whose
own band rows already sit in the served index, PQ top-k candidates whose
distances are +inf or NaN, and an inconsistent cosine top-k call."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from reference_models import pq_adc_topk_model


def test_serve_band_index_never_self_pairs(spark):
    """A concurrent absorb can append the delta's own band rows to the
    index before the serve scans it; the cross leg must not then pair a
    delta doc with itself."""
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        minhash_band_index,
        serve_minhash_band_index,
    )

    kw = dict(shingle_n=2, num_hashes=8, bands=4)
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely different sentence about the sea"),
        ],
        "doc_id bigint, text string",
    )
    delta = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "nothing here resembles any other document at all"),
        ],
        "doc_id bigint, text string",
    )
    index = minhash_band_index(corpus, **kw).unionByName(
        minhash_band_index(delta, **kw)
    )
    pairs = {
        (r["a"], r["b"])
        for r in serve_minhash_band_index(
            index, delta, corpus, threshold=0.5, **kw
        ).collect()
    }
    assert all(a != b for a, b in pairs)
    assert (1, 10) in pairs


def _final_topk(parts, k):
    w = Window.partitionBy("q_id").orderBy(
        F.col("__dist").asc(), F.col("n_id").asc()
    )
    got = {}
    for r in (
        parts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
        .collect()
    ):
        got.setdefault(r["q_id"], []).append((r["n_id"], r["__dist"]))
    return got


def _nan(d):
    # a NaN distance crosses the Arrow boundary as NULL
    return d is None or math.isnan(d)


def _same(a, b):
    return len(a) == len(b) and all(
        n1 == n2 and (d1 == d2 or (_nan(d1) and _nan(d2)))
        for (n1, d1), (n2, d2) in zip(a, b)
    )


def test_pq_adc_self_mask_never_takes_a_topk_slot(spark):
    """The masked self row of a query must not displace a genuine +inf
    or NaN candidate: a zero-norm query under ``normalize=True`` scores
    NaN against everything, and a huge query without normalization
    scores +inf; both must still get their exact global top-k."""
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        pq_adc_topk_partials,
    )

    k = 3
    books = [
        [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]],
        [[0.5, 0.5], [0.0, -1.0], [1.0, 1.0]],
    ]
    rows = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1e200, 1e200, 1e200, 1e200])]
    rows += [
        (i, [math.sin(i), math.cos(i), math.sin(2 * i), math.cos(3 * i)])
        for i in range(2, 40)
    ]
    sc = spark.sparkContext
    # contiguous slices at full parallelism: no re-spread, so the lowest
    # ids share the queries' partition
    corpus = spark.createDataFrame(
        sc.parallelize(rows, sc.defaultParallelism),
        "vec_id bigint, embedding array<double>",
    )
    queries = [r for r in rows if r[0] in (0, 1, 5)]
    qdf = corpus.where(F.col("vec_id").isin(0, 1, 5))
    want = {}
    for normalize in (True, False):
        want[normalize] = pq_adc_topk_model(rows, queries, books, k, normalize)
        got = _final_topk(
            pq_adc_topk_partials(corpus, qdf, books, k, normalize=normalize),
            k,
        )
        assert got.keys() == want[normalize].keys()
        for q, exp in want[normalize].items():
            assert _same(got[q], exp), (normalize, q, got[q], exp)
    # the fixture really exercises both degenerate distances
    assert all(math.isnan(d) for _, d in want[True][0])
    assert all(d == math.inf for _, d in want[False][1])


def test_cosine_topk_carry_labels_requires_label_col(spark):
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        cosine_topk,
    )

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="carry_labels requires label_col"):
        cosine_topk(e, e, k=1, carry_labels=True)
