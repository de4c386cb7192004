"""Property-based differential tests: operators vs brute-force Python models.

Hypothesis generates small random frames; each Spark operator must agree
with a dict/set-based reference implementation of its documented semantics.
Catches tie-break drift, null handling, and schema-shape regressions that
fixed fixtures miss.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdata_scala_offline_data_clean_spark.operators.dedup import (
    jaccard_verify,
    shingles,
)
from bigdata_scala_offline_data_clean_spark.operators.etl import (
    dedup_latest,
    merge_full_outer,
    scd1_upsert,
)
from reference_models import union_find

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

row = st.tuples(
    st.integers(0, 4),  # key
    st.integers(0, 3),  # version (order col)
    st.text(alphabet="abc", min_size=1, max_size=3),  # payload / tiebreak
)
rows = st.lists(row, min_size=1, max_size=12)


@pytest.mark.usefixtures("spark")
class TestDedupLatest:
    @SETTINGS
    @given(data=rows)
    def test_matches_model(self, spark, data):
        df = spark.createDataFrame(data, ["k", "ver", "v"])
        got = {
            (r.k, r.ver, r.v) for r in dedup_latest(df, "k", "ver", tiebreak="v").collect()
        }
        model = {}
        for k, ver, v in data:
            if k not in model or (ver, v) > (model[k][1], model[k][2]):
                model[k] = (k, ver, v)
        assert got == set(model.values())


@pytest.mark.usefixtures("spark")
class TestScd1Upsert:
    @SETTINGS
    @given(ods=rows, dwd=rows)
    def test_matches_model(self, spark, ods, dwd):
        ods_df = spark.createDataFrame(ods, ["k", "ver", "v"])
        dwd_df = (
            spark.createDataFrame(dwd, ["k", "ver", "v"])
            .withColumn("dwd_insert_user", F.lit("user1"))
            .withColumn("dwd_insert_time", F.lit("2022-09-30 00:00:00").cast("timestamp"))
            .withColumn("dwd_modify_user", F.lit("user1"))
            .withColumn("dwd_modify_time", F.lit("2022-09-30 00:00:00").cast("timestamp"))
        )
        out = scd1_upsert(
            ods_df, dwd_df, key="k", order_col="ver",
            ts=F.lit("2022-10-01 00:00:00").cast("timestamp"), tiebreak="v",
        )
        got = {(r.k, r.ver, r.v, str(r.dwd_insert_time)) for r in out.collect()}

        # model: per key pick max (ver, source_rank, v); source 'ods' beats
        # 'dwd' ('o' > 'd' lexicographically, matching data_source desc)
        cand = [(k, ver, v, "ods") for k, ver, v in ods] + [
            (k, ver, v, "dwd") for k, ver, v in dwd
        ]
        best = {}
        for k, ver, v, src in cand:
            rank = (ver, src, v)  # 'ods' > 'dwd' string order
            if k not in best or rank > best[k][0]:
                best[k] = (rank, (k, ver, v, src))
        expect = set()
        for _, (k, ver, v, src) in best.values():
            ins = "2022-10-01 00:00:00" if src == "ods" else "2022-09-30 00:00:00"
            expect.add((k, ver, v, ins))
        assert got == expect


@pytest.mark.usefixtures("spark")
class TestMergeFullOuter:
    @SETTINGS
    @given(
        base=st.dictionaries(st.integers(0, 5), st.text("xy", min_size=1, max_size=2), max_size=6),
        delta=st.dictionaries(st.integers(0, 5), st.text("xy", min_size=1, max_size=2), max_size=6),
    )
    def test_matches_model(self, spark, base, delta):
        if not base or not delta:
            return
        base_df = spark.createDataFrame(list(base.items()), ["k", "v"])
        delta_df = spark.createDataFrame(list(delta.items()), ["k", "v"])
        got = {r.k: r.v for r in merge_full_outer(base_df, delta_df, "k").collect()}
        expect = {**delta, **base}  # base wins, delta fills
        assert got == expect


@pytest.mark.usefixtures("spark")
class TestJaccard:
    @SETTINGS
    @given(
        texts=st.lists(
            st.lists(st.sampled_from("abcde"), min_size=1, max_size=8).map(" ".join),
            min_size=2,
            max_size=5,
        )
    )
    def test_jaccard_matches_set_model(self, spark, texts):
        docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
        sh = shingles(docs, n=1)
        ids = list(range(len(texts)))
        pairs_py = [(a, b) for a in ids for b in ids if a < b]
        pairs_df = spark.createDataFrame(pairs_py, ["a", "b"])
        got = {(r.a, r.b): r.jaccard for r in jaccard_verify(pairs_df, sh).collect()}
        for a, b in pairs_py:
            sa, sb = set(texts[a].split(" ")), set(texts[b].split(" "))
            inter = len(sa & sb)
            if inter == 0:
                assert (a, b) not in got  # inner gram join drops empty overlaps
            else:
                assert got[(a, b)] == inter / len(sa | sb)


@pytest.mark.usefixtures("spark")
class TestAsofJoin:
    @SETTINGS
    @given(
        lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=8),
        rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=8),
    )
    def test_matches_model(self, spark, lefts, rights):
        from datetime import datetime, timedelta

        from bigdata_scala_offline_data_clean_spark.operators.temporal import asof_join

        base = datetime(2022, 10, 1)
        # unique right (key, ts) so tie-break is irrelevant (mirrors real
        # event streams; ties are covered by the fixed-fixture tests)
        rights = list({(k, t) for k, t in rights})
        l_rows = [(k, base + timedelta(minutes=t), i) for i, (k, t) in enumerate(lefts)]
        r_rows = [(k, base + timedelta(minutes=t), f"p{k}_{t}") for k, t in rights]
        left = spark.createDataFrame(l_rows, ["k", "ts", "lid"])
        right = spark.createDataFrame(r_rows, ["k", "qts", "pay"])
        out = {
            r.lid: r.pay
            for r in asof_join(
                left, right, on="k", left_ts="ts", right_ts="qts", payload=["pay"]
            ).collect()
        }
        model = {}
        for i, (k, t) in enumerate(lefts):
            cands = [(rt, f"p{rk}_{rt}") for rk, rt in rights if rk == k and rt <= t]
            model[i] = max(cands)[1] if cands else None
        assert out == model


class TestConnectedComponents:
    @SETTINGS
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 12)),
            min_size=1,
            max_size=15,
        )
    )
    def test_matches_union_find(self, spark, edges):
        from bigdata_scala_offline_data_clean_spark.operators.dedup import (
            connected_components,
        )

        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        out = {
            r.node: r.component
            for r in connected_components(
                # threshold=0: test the DISTRIBUTED path against the
                # union-find model (the small-graph route IS union-find)
                spark.createDataFrame(edges, ["a", "b"]),
                small_graph_threshold=0,
            ).collect()
        }

        assert out == union_find(edges)


@pytest.mark.usefixtures("spark")
class TestChunking:
    @SETTINGS
    @given(
        words=st.lists(
            st.text(alphabet="xyz", min_size=1, max_size=3), min_size=1, max_size=40
        ),
        chunk=st.integers(3, 8),
        overlap=st.integers(0, 2),
    )
    def test_chunks_reconstruct_document(self, spark, words, chunk, overlap):
        from bigdata_scala_offline_data_clean_spark.operators.packing import (
            chunk_documents,
        )

        text = " ".join(words)
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        out = sorted(
            (r.chunk_id, r.chunk_text, r.n_tokens)
            for r in chunk_documents(
                df, chunk_tokens=chunk, overlap=overlap
            ).collect()
        )
        stride = chunk - overlap
        # model: chunk i covers words[i*stride : i*stride + chunk]
        model = []
        i = 0
        while True:
            w = words[i * stride : i * stride + chunk]
            model.append((i, " ".join(w), len(w)))
            if i * stride + chunk >= len(words):
                break
            i += 1
        assert out == model
        # stride-prefix reconstruction: every token appears exactly once
        rebuilt = []
        for cid, ctext, _n in out:
            toks = ctext.split(" ")
            rebuilt.extend(toks if cid == len(out) - 1 else toks[:stride])
        assert rebuilt[: len(words)] == words


@pytest.mark.usefixtures("spark")
class TestSegmentDedup:
    @SETTINGS
    @given(
        texts=st.lists(
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=12
            ).map(" ".join),
            min_size=1,
            max_size=6,
        )
    )
    def test_matches_python_model(self, spark, texts):
        from collections import defaultdict

        from bigdata_scala_offline_data_clean_spark.operators.dedup import (
            remove_duplicated_segments,
        )

        seg_tokens, min_docs = 3, 2
        df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
        got = {
            r.doc_id: (r.clean_text, r.n_segs, r.n_kept)
            for r in remove_duplicated_segments(
                df, seg_tokens=seg_tokens, min_docs=min_docs
            ).collect()
        }
        segs_by_doc = {}
        seg_docs = defaultdict(set)
        for i, t in enumerate(texts):
            w = t.split(" ")
            segs = [
                " ".join(w[j : j + seg_tokens])
                for j in range(0, len(w), seg_tokens)
            ]
            segs_by_doc[i] = segs
            for s in segs:
                seg_docs[s].add(i)
        for i, segs in segs_by_doc.items():
            kept = [s for s in segs if len(seg_docs[s]) < min_docs]
            assert got[i] == (" ".join(kept), len(segs), len(kept))


# ---------------------------------------------------------------------------
# interval coalescing vs a brute-force Python sweep
# ---------------------------------------------------------------------------

iv_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40)),  # (user, start-minute)
    min_size=1,
    max_size=14,
)


@SETTINGS
@given(data=iv_rows)
def test_interval_coalesce_matches_sweep_model(spark, data):
    """a65's gaps-and-islands windows == a sweep-line merge of [t, t+10)."""
    from pyspark.sql import Window

    length = 10  # minutes
    df = spark.createDataFrame(
        [(u, i, m) for i, (u, m) in enumerate(data)], ["user_id", "event_id", "m"]
    )
    iv = df.select(
        "user_id", "event_id", F.col("m").alias("s"), (F.col("m") + length).alias("e")
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    iv = iv.withColumn(
        "is_start", F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
    )
    iv = iv.withColumn(
        "island",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    got = {
        (r["user_id"], r["lo"], r["hi"], r["n"])
        for r in iv.groupBy("user_id", "island")
        .agg(F.min("s").alias("lo"), F.max("e").alias("hi"), F.count("*").alias("n"))
        .collect()
    }

    # model: sort per user, merge overlapping/nested [m, m+length)
    expect = set()
    by_user: dict = {}
    for u, m in data:
        by_user.setdefault(u, []).append(m)
    for u, ms in by_user.items():
        ms.sort()
        lo, hi, n = ms[0], ms[0] + length, 1
        for m in ms[1:]:
            if m > hi:
                expect.add((u, lo, hi, n))
                lo, hi, n = m, m + length, 1
            else:
                hi, n = max(hi, m + length), n + 1
        expect.add((u, lo, hi, n))
    assert got == expect


# ---------------------------------------------------------------------------
# grouped exact percentiles vs numpy's linear interpolation
# ---------------------------------------------------------------------------

gp_rows = st.lists(
    st.tuples(st.integers(0, 2), st.floats(-100, 100, allow_nan=False)),
    min_size=1,
    max_size=16,
)


@SETTINGS
@given(data=gp_rows, q=st.sampled_from([0.0, 0.25, 0.5, 0.75, 0.9, 1.0]))
def test_grouped_exact_percentiles_match_numpy(spark, data, q):
    import numpy as np

    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        grouped_exact_percentiles,
    )

    df = spark.createDataFrame(data, ["g", "v"])
    got = {
        (r["g"], r["q"]): r["value"]
        for r in grouped_exact_percentiles(df, ["g"], "v", [q], buckets=4).collect()
    }
    by_g: dict = {}
    for g, v in data:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        assert got[(g, q)] == pytest.approx(
            float(np.percentile(np.asarray(vs, dtype=np.float64), q * 100)),
            rel=1e-12, abs=1e-12,
        )


nt_rows = st.lists(
    st.tuples(st.integers(0, 1000), st.integers(0, 5)),  # (unique id, value)
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=nt_rows, n=st.sampled_from([2, 3, 7]),
       asc=st.booleans())
def test_distributed_ntile_matches_model(spark, data, n, asc):
    """distributed_ntile vs a pure-Python ntile model: sort by
    (value asc|desc, id asc), first N%n tiles get N//n+1 rows."""
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        distributed_ntile,
    )

    df = spark.createDataFrame(data, ["id", "v"])
    got = {
        r["id"]: r["tile"]
        for r in distributed_ntile(
            df, n, "v", ascending=asc, tie_cols=["id"], n_slices=4
        ).collect()
    }
    order = sorted(data, key=lambda t: (t[1] if asc else -t[1], t[0]))
    big, rem = divmod(len(order), n)
    model, pos = {}, 0
    for tile in range(1, n + 1):
        size = big + (1 if tile <= rem else 0)
        for _ in range(size):
            model[order[pos][0]] = tile
            pos += 1
    assert got == model


@pytest.mark.usefixtures("spark")
class TestServeMinhashIndexEqualsRestrictedFull:
    """Algebraic identity behind c70: signatures are deterministic in the
    text, so build-then-serve over ANY corpus/delta split must equal the
    full-corpus pair pipeline restricted to delta-involved pairs."""

    @SETTINGS
    @given(
        texts=st.lists(
            st.lists(
                st.sampled_from("red blue fox dog run sit big sky".split()),
                min_size=3,
                max_size=8,
            ),
            min_size=4,
            max_size=10,
        ),
        split=st.integers(1, 3),
    )
    def test_matches_restricted_full(self, spark, texts, split):
        from bigdata_scala_offline_data_clean_spark.operators.dedup import (
            minhash_band_index,
            minhash_dedup_pairs,
            serve_minhash_band_index,
        )

        kw = dict(shingle_n=2, num_hashes=8, bands=4)
        docs = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in enumerate(texts)],
            "doc_id bigint, text string",
        )
        delta_ids = {i for i in range(len(texts)) if i % 4 == split}
        corpus = docs.where(~F.col("doc_id").isin(list(delta_ids) or [-1]))
        delta = docs.where(F.col("doc_id").isin(list(delta_ids) or [-1]))
        served = sorted(
            (r["a"], r["b"], r["jaccard"])
            for r in serve_minhash_band_index(
                minhash_band_index(corpus, **kw), delta, corpus,
                threshold=0.3, **kw,
            ).collect()
        )
        full = sorted(
            (r["a"], r["b"], r["jaccard"])
            for r in minhash_dedup_pairs(
                docs, threshold=0.3, **kw
            ).collect()
            if r["a"] in delta_ids or r["b"] in delta_ids
        )
        assert served == full


class TestHash64IndexServeIdentity:
    """Algebraic identities behind c72/c71 (round 15): fingerprints are
    deterministic in the content, so (1) build-then-serve over ANY
    corpus/delta split equals the inline pair pipeline restricted to
    delta-involved pairs, and (2) serving a tombstone-erased index
    equals the pipeline recomputed without the erased docs (the
    merge-on-read anti-join is exactly set difference)."""

    @staticmethod
    def _mk_hash(base: int, flips: list) -> str:
        v = [0x0123456789ABCDEF, 0xFEDCBA9876543210][base]
        for b in flips:
            v ^= 1 << (b % 64)
        return f"{v:016x}"

    @SETTINGS
    @given(
        specs=st.lists(
            st.tuples(
                st.integers(0, 1),  # base fingerprint family
                st.lists(st.integers(0, 63), max_size=3),  # bit flips
            ),
            min_size=4,
            max_size=12,
        ),
        split=st.integers(1, 3),
        erase=st.integers(0, 3),
    )
    def test_serve_and_erase_match_restricted_inline(
        self, spark, specs, split, erase
    ):
        from bigdata_scala_offline_data_clean_spark.operators.dedup import (
            hash64_band_pairs,
            hash64_band_rows,
            serve_hash64_band_index,
        )

        hashes = spark.createDataFrame(
            [(i, self._mk_hash(b, f)) for i, (b, f) in enumerate(specs)],
            "doc_id bigint, ahash string",
        )
        n = len(specs)
        delta_ids = {i for i in range(n) if i % 4 == split}
        erase_ids = {i for i in range(n) if i % 4 == erase} - delta_ids
        corpus = hashes.where(~F.col("doc_id").isin(list(delta_ids) or [-1]))
        delta = hashes.where(F.col("doc_id").isin(list(delta_ids) or [-1]))
        inline = [
            (r["a"], r["b"], r["hamming"])
            for r in hash64_band_pairs(hashes, 3).collect()
        ]
        # (1) serve == inline restricted to delta-involved pairs
        served = sorted(
            (r["a"], r["b"], r["hamming"])
            for r in serve_hash64_band_index(
                hash64_band_rows(corpus), delta, 3
            ).collect()
        )
        want = sorted(
            p for p in inline
            if p[0] in delta_ids or p[1] in delta_ids
        )
        assert served == want
        # (2) tombstone-erased serve == inline minus erased, restricted
        live_index = hash64_band_rows(corpus).join(
            F.broadcast(
                spark.createDataFrame(
                    [(i,) for i in erase_ids] or [(-1,)], "doc_id bigint"
                )
            ),
            "doc_id",
            "left_anti",
        )
        served_live = sorted(
            (r["a"], r["b"], r["hamming"])
            for r in serve_hash64_band_index(live_index, delta, 3).collect()
        )
        want_live = sorted(
            p for p in want
            if p[0] not in erase_ids and p[1] not in erase_ids
        )
        assert served_live == want_live


@pytest.mark.usefixtures("spark")
class TestBloomFilter:
    """Differential test of the round-16 bloom operators against a pure
    hashlib model of the identical md5-position arithmetic: candidacy is
    EXACTLY what the model predicts (not just no-false-negatives), so
    the engine-portable position SQL can never drift from its spec."""

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        keys=st.sets(st.integers(0, 60), min_size=1, max_size=10),
        corpus=st.sets(st.integers(0, 60), min_size=1, max_size=25),
        m=st.sampled_from([16, 64]),
        k=st.integers(1, 3),
    )
    def test_candidacy_matches_md5_model(self, spark, keys, corpus, m, k):
        import hashlib

        from bigdata_scala_offline_data_clean_spark.operators.sketches import (
            bloom_candidate_expr,
            bloom_setbits,
        )

        def model_pos(x, i):
            return int(
                hashlib.md5(f"{x}:{i}".encode()).hexdigest()[:12], 16
            ) % m

        key_df = spark.createDataFrame([(x,) for x in sorted(keys)], ["id"])
        setbits = bloom_setbits(key_df, "id", m=m, k=k)
        model_bits = {model_pos(x, i) for x in keys for i in range(k)}
        assert setbits == sorted(model_bits)  # the artifact itself

        corpus_df = spark.createDataFrame(
            [(x,) for x in sorted(corpus)], ["id"]
        )
        got = {
            r.id
            for r in corpus_df.where(
                bloom_candidate_expr(setbits, "id", m=m, k=k)
            ).collect()
        }
        want = {
            x
            for x in corpus
            if all(model_pos(x, i) in model_bits for i in range(k))
        }
        assert got == want  # exact candidacy, not just no-FN
        assert keys & corpus <= got  # and therefore no false negatives


@pytest.mark.usefixtures("spark")
class TestCalibrateThreshold:
    """The calibration contract on arbitrary small corpora: the returned
    tau always keeps the sample's exceedance-estimated chance degree
    within budget, and tau is monotone (a looser budget never RAISES
    the threshold)."""

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vecs=st.lists(
            st.tuples(
                st.integers(-3, 3), st.integers(-3, 3), st.integers(-3, 3)
            ).filter(lambda v: any(v)),
            min_size=3,
            max_size=12,
        ),
        budget=st.sampled_from([0.05, 0.5, 2.0]),
    )
    def test_budget_bound_and_monotonicity(self, spark, vecs, budget):
        import warnings

        import numpy as np

        from bigdata_scala_offline_data_clean_spark.operators.similarity import (
            calibrate_cosine_threshold,
        )

        df = spark.createDataFrame(
            [(i, [float(a), float(b), float(c)]) for i, (a, b, c) in enumerate(vecs)],
            ["vec_id", "embedding"],
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # dup-heavy draws may warn
            tau = calibrate_cosine_threshold(df, chance_degree=budget)
            tau_loose = calibrate_cosine_threshold(
                df, chance_degree=budget * 2
            )
        assert tau_loose <= tau  # looser budget never raises tau

        # the bound: exceedance at tau, scaled to the corpus, <= budget
        n = len(vecs)
        m = np.asarray([v for v in (r[1] for r in sorted(
            (r.vec_id, r.embedding) for r in df.collect()))], dtype=np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        u = m / np.where(norms == 0.0, 1.0, norms)
        s = np.sign(u @ u.T) * np.floor(np.abs(u @ u.T) * 1e6 + 0.5) / 1e6
        iu = np.triu_indices(n, 1)
        vals = s[iu]
        exceed = int((vals >= tau).sum())
        assert exceed / len(vals) * (n - 1) <= budget


@pytest.mark.usefixtures("spark")
class TestS18MaintainedSample:
    """s18's exactness core as a property: folding ANY partition of the
    rows through the maintained-sample merge, in ANY batch order, with
    ANY batch redelivered, equals the batch top-S over all rows -- the
    identity that lets the streaming calibration reuse a217's oracle
    verbatim."""

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ids=st.sets(st.integers(0, 40), min_size=1, max_size=15),
        splits=st.lists(st.integers(0, 2), min_size=15, max_size=15),
        order=st.permutations([0, 1, 2]),
        redeliver=st.integers(0, 2),
        data=st.data(),
    )
    def test_any_schedule_equals_batch_top_s(
        self, spark, ids, splits, order, redeliver, data
    ):
        from bigdata_scala_offline_data_clean_spark.queries import (
            round16 as r16,
        )

        ids = sorted(ids)
        rows = [(i, [float(i), 1.0]) for i in ids]
        batches = {b: [] for b in range(3)}
        for row, b in zip(rows, splits):
            batches[b].append(row)
        schedule = [b for b in order if batches[b]]
        if not schedule:
            return
        # redeliver one scheduled batch (at-least-once semantics)
        schedule.append(schedule[redeliver % len(schedule)])

        state = None
        for b in schedule:
            batch = spark.createDataFrame(
                batches[b], ["vec_id", "embedding"]
            )
            state = r16._s18_merge_sample(state, batch)
        from bigdata_scala_offline_data_clean_spark.operators.similarity import (
            CALIBRATION_SAMPLE_MAX,
        )

        got = sorted(r.vec_id for r in state.collect())
        want = ids[:CALIBRATION_SAMPLE_MAX]  # batch top-S over all rows
        assert got == want
