"""LLM-training-data operators: dedup, similarity, text, multimodal."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from bigdata_scala_offline_data_clean_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from bigdata_scala_offline_data_clean_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image,
    extract_binary_meta,
    fake_feature_extract,
)
from bigdata_scala_offline_data_clean_spark.operators.similarity import (
    cosine_topk,
    lsh_ann_topk,
)
from bigdata_scala_offline_data_clean_spark.operators.text import (
    language_id,
    token_count_bpe,
    with_text_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    neardup = base.replace("today", "tonight")  # one word differs
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, neardup),  # near dup of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "el la de y en que los otros mas aqui"),  # spanish-ish markers
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_text_stats(spark, docs):
    r = {x.doc_id: x for x in with_text_stats(docs).collect()}
    assert r[0].n_tokens == 14
    assert r[0].n_uniq_tokens == 12  # 'the' x3 dedupes
    assert r[0].n_chars_calc == len(docs.where(F.col("doc_id") == 0).first().text)


def test_token_count_bpe(spark):
    df = spark.createDataFrame([(0, "ab 12 x?!")], ["doc_id", "text"])
    # pieces: ab | 12 | x | ? | !
    assert token_count_bpe(df).first().n_bpe_tokens == 5


def test_language_id_markers_and_tie_order(spark, docs):
    r = {x.doc_id: x.predicted_lang for x in language_id(docs).collect()}
    assert r[4] == "es"  # spanish function words dominate
    assert r[0] == "en"  # 'the' x3
    # all-zero scores tie -> earliest lang in fixed order wins
    zero = spark.createDataFrame([(9, "zzz qqq")], ["doc_id", "text"])
    assert language_id(zero).first().predicted_lang == "en"


# 20 natural sentences per language -- the multilingual fixture the
# round-10 trigram scorer is graded on (VERDICT r9 task #5: >=95%).
LANG_FIXTURE = [
    ("en", "The quick brown fox jumps over the lazy dog in the morning."),
    ("en", "She is going to the market to buy some fresh bread and milk."),
    ("en", "This is an example of a sentence written in plain English."),
    ("en", "The weather today is sunny with a light breeze from the north."),
    ("en", "He finished reading the book and returned it to the library."),
    ("en", "Learning new things is one of the great joys of being alive."),
    ("en", "The committee will meet on Tuesday to discuss the new budget."),
    ("en", "Many students found the exam harder than they had expected."),
    ("en", "A long walk in the forest can clear the mind and lift the spirit."),
    ("en", "The engineers tested the system before releasing it to users."),
    ("en", "Music and painting are among the oldest forms of human expression."),
    ("en", "The train arrived at the station exactly on time this morning."),
    ("en", "Scientists discovered a new species of frog in the rainforest."),
    ("en", "Cooking dinner together is a wonderful way to end the day."),
    ("en", "The children played in the garden until the sun went down."),
    ("en", "Reading the news every day keeps him informed about the world."),
    ("en", "The old bridge was rebuilt after the flood damaged its base."),
    ("en", "Her presentation was clear, concise, and full of useful facts."),
    ("en", "The company announced record profits for the third quarter."),
    ("en", "Travel broadens the mind and teaches patience and humility."),
    ("es", "El perro corre por el parque todas las mañanas con su dueño."),
    ("es", "La casa de mi abuela está en un pueblo pequeño de la montaña."),
    ("es", "Los estudiantes que estudian mucho aprueban los exámenes."),
    ("es", "Es importante que los niños coman frutas y verduras frescas."),
    ("es", "El gobierno anunció nuevas medidas para la economía del país."),
    ("es", "Me gusta leer libros de historia en la biblioteca de la ciudad."),
    ("es", "La comida española es conocida en el mundo entero por su sabor."),
    ("es", "El tren sale de la estación a las ocho de la mañana en punto."),
    ("es", "Los museos de la capital están abiertos todos los días."),
    ("es", "Ella ha trabajado en ese hospital durante más de veinte años."),
    ("es", "El cambio climático es uno de los mayores problemas actuales."),
    ("es", "Vamos a la playa este verano con toda la familia y los amigos."),
    ("es", "El profesor explicó la lección de matemáticas con mucha calma."),
    ("es", "Las flores del jardín huelen muy bien en la primavera."),
    ("es", "Quiero aprender a tocar la guitarra antes del fin de año."),
    ("es", "La película que vimos anoche era larga pero muy interesante."),
    ("es", "Los trabajadores pidieron mejores condiciones en la fábrica."),
    ("es", "El agua del río baja muy fría desde las montañas nevadas."),
    ("es", "Mis padres viven en una ciudad grande cerca de la costa."),
    ("es", "El equipo ganó el partido después de un esfuerzo enorme."),
    ("fr", "Le chien court dans le parc tous les matins avec son maître."),
    ("fr", "La maison de ma grand-mère se trouve dans un petit village."),
    ("fr", "Les étudiants qui travaillent beaucoup réussissent les examens."),
    ("fr", "Il est important que les enfants mangent des fruits frais."),
    ("fr", "Le gouvernement a annoncé des mesures pour l'économie du pays."),
    ("fr", "J'aime lire des livres d'histoire à la bibliothèque de la ville."),
    ("fr", "La cuisine française est connue dans le monde entier."),
    ("fr", "Le train part de la gare à huit heures du matin précises."),
    ("fr", "Les musées de la capitale sont ouverts tous les jours."),
    ("fr", "Elle a travaillé dans cet hôpital pendant plus de vingt ans."),
    ("fr", "Le changement climatique est un des plus grands problèmes."),
    ("fr", "Nous allons à la plage cet été avec toute la famille."),
    ("fr", "Le professeur a expliqué la leçon de mathématiques calmement."),
    ("fr", "Les fleurs du jardin sentent très bon au printemps."),
    ("fr", "Je veux apprendre à jouer de la guitare avant la fin de l'année."),
    ("fr", "Le film que nous avons vu hier soir était long mais intéressant."),
    ("fr", "Les ouvriers ont demandé de meilleures conditions à l'usine."),
    ("fr", "L'eau de la rivière descend très froide des montagnes."),
    ("fr", "Mes parents habitent une grande ville près de la côte."),
    ("fr", "L'équipe a gagné le match après un effort énorme."),
    ("de", "Der Hund läuft jeden Morgen mit seinem Besitzer durch den Park."),
    ("de", "Das Haus meiner Großmutter steht in einem kleinen Dorf."),
    ("de", "Die Studenten, die viel lernen, bestehen die Prüfungen."),
    ("de", "Es ist wichtig, dass die Kinder frisches Obst und Gemüse essen."),
    ("de", "Die Regierung kündigte neue Maßnahmen für die Wirtschaft an."),
    ("de", "Ich lese gern Geschichtsbücher in der Bibliothek der Stadt."),
    ("de", "Die deutsche Küche ist in der ganzen Welt bekannt."),
    ("de", "Der Zug fährt um acht Uhr morgens vom Bahnhof ab."),
    ("de", "Die Museen der Hauptstadt sind jeden Tag geöffnet."),
    ("de", "Sie hat mehr als zwanzig Jahre in diesem Krankenhaus gearbeitet."),
    ("de", "Der Klimawandel ist eines der größten Probleme unserer Zeit."),
    ("de", "Wir fahren diesen Sommer mit der ganzen Familie ans Meer."),
    ("de", "Der Lehrer erklärte die Mathematikstunde sehr ruhig."),
    ("de", "Die Blumen im Garten duften im Frühling wunderbar."),
    ("de", "Ich möchte vor Ende des Jahres Gitarre spielen lernen."),
    ("de", "Der Film, den wir gestern Abend sahen, war lang aber spannend."),
    ("de", "Die Arbeiter forderten bessere Bedingungen in der Fabrik."),
    ("de", "Das Wasser des Flusses kommt sehr kalt aus den Bergen."),
    ("de", "Meine Eltern wohnen in einer großen Stadt nahe der Küste."),
    ("de", "Die Mannschaft gewann das Spiel nach einer großen Anstrengung."),
]


def test_language_id_trigram_accuracy(spark):
    df = spark.createDataFrame(
        [(i, lab, t) for i, (lab, t) in enumerate(LANG_FIXTURE)],
        ["doc_id", "lang", "text"],
    )
    rows = language_id(df).collect()
    acc = sum(r.predicted_lang == r.lang for r in rows) / len(rows)
    assert acc >= 0.95, [
        (r.lang, r.predicted_lang, r.text[:40])
        for r in rows
        if r.predicted_lang != r.lang
    ]


def test_exact_dedup(spark, docs):
    groups = {r.text_hash: r for r in exact_dedup_groups(docs).collect()}
    counts = sorted(g.dup_count for g in groups.values())
    assert counts == [1, 1, 1, 2]
    kept = exact_dedup(docs)
    assert kept.count() == 4
    # representative of the dup group is the smallest doc_id
    assert {r.doc_id for r in kept.collect()} == {0, 2, 3, 4}


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = minhash_dedup_pairs(docs, shingle_n=2, threshold=0.4).collect()
    found = {(r.a, r.b) for r in pairs}
    assert (0, 1) in found  # exact dup always collides (jaccard 1.0)
    j = {(r.a, r.b): r.jaccard for r in pairs}
    assert j[(0, 1)] == 1.0
    # near-dup pair should be found with high jaccard
    assert (0, 2) in found and j[(0, 2)] > 0.7


def test_ngram_jaccard(spark, docs):
    pairs = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert (0, 3) not in pairs  # unrelated docs don't pair


def test_simhash_equal_for_identical_distinct_tokens(spark, docs):
    fp = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert fp[0] == fp[1]  # identical text
    assert 0 <= fp[0] < 2**16
    # near-dup fingerprints are close in hamming distance
    ham = bin(fp[0] ^ fp[2]).count("1")
    assert ham <= 4


@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(50):
        base = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, [float(x) for x in base]))
    # vec 50 = scaled copy of vec 0 -> cosine 1.0
    rows.append((50, [x * 2.0 for x in rows[0][1]]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark, vectors):
    q = vectors.where(F.col("vec_id") == 0)
    top = cosine_topk(vectors, q, k=3).collect()
    assert [r.rank for r in top] == [1, 2, 3]
    assert top[0].n_id == 50 and top[0].cosine == 1.0  # the scaled copy


def test_lsh_ann_recall(spark, vectors):
    q = vectors.where(F.col("vec_id") < 5)
    exact = {(r.q_id, r.n_id) for r in cosine_topk(vectors, q, k=3).collect()}
    approx = {(r.q_id, r.n_id) for r in lsh_ann_topk(vectors, q, dim=8, k=3, planes=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4  # bucketed search trades recall for candidates
    # scaled copy shares the bucket of its original (same signs)
    assert (0, 50) in approx


def test_multimodal_meta_and_features(spark, docs):
    with_bin = attach_binary_payload(docs)
    assert dict(with_bin.dtypes)["payload"] == "binary"
    meta = {r.doc_id: r for r in extract_binary_meta(with_bin).collect()}
    t0 = docs.where(F.col("doc_id") == 0).first().text
    assert meta[0].byte_len == len(t0.encode())
    assert meta[0].payload_md5 == hashlib.md5(t0.encode()).hexdigest()

    feats = {r.doc_id: r for r in fake_feature_extract(with_bin, n_features=4).collect()}
    assert len(feats[0].features) == 4
    assert feats[0].features == feats[1].features  # deterministic on same bytes
    assert all(0.0 <= x <= 1.0 for x in feats[0].features)


def test_decode_image_stub():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    assert decode_image(b"abc", decoder=lambda b: len(b)) == 3


def test_ivf_ann_recall(spark, vectors):
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        ivf_ann_topk,
    )

    q = vectors.where(F.col("vec_id") < 5)
    exact = {(r.q_id, r.n_id) for r in cosine_topk(vectors, q, k=3).collect()}
    approx = {
        (r.q_id, r.n_id)
        for r in ivf_ann_topk(vectors, q, k=3, n_clusters=4, n_probes=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5
    # full probe == exact search
    full = {
        (r.q_id, r.n_id)
        for r in ivf_ann_topk(vectors, q, k=3, n_clusters=4, n_probes=4).collect()
    }
    assert full == exact


def test_embedding_neardup_exact_and_lsh(spark, vectors):
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        embedding_neardup_pairs,
        hyperplanes,
    )

    exact = {(r.a, r.b) for r in embedding_neardup_pairs(vectors, threshold=0.99).collect()}
    assert (0, 50) in exact  # the scaled copy pair
    hp = hyperplanes(8, planes=4)
    bucketed = {
        (r.a, r.b)
        for r in embedding_neardup_pairs(vectors, threshold=0.99, planes=hp).collect()
    }
    assert (0, 50) in bucketed  # identical directions share every sign bit
    assert bucketed <= exact  # LSH never invents pairs


def test_frame_sample_plumbing(spark, docs):
    from bigdata_scala_offline_data_clean_spark.operators.multimodal import (
        frame_sample,
        resize_image,
    )

    with_bin = attach_binary_payload(docs)
    frames = frame_sample(with_bin, n_frames=3)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] == 3 for r in per_doc)
    one = frames.where((F.col("doc_id") == 0) & (F.col("frame_offset") == 0)).first()
    t0 = docs.where(F.col("doc_id") == 0).first().text.encode()
    assert bytes(one.frame) == t0[: len(bytes(one.frame))]

    with pytest.raises(NotImplementedError):
        resize_image(b"payload", (8, 8), decoder=lambda b: b)


def test_connected_components_transitive_chain(spark):
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )

    # chain 1-2, 2-3, 3-4 plus separate pair 10-11: transitivity must
    # collapse the whole chain even though (1,4) was never emitted
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["a", "b"]
    )
    # both routes: driver union-find (small default) and distributed stars
    for thr in (200_000, 0):
        cc = {
            r.node: r.component
            for r in connected_components(
                pairs, small_graph_threshold=thr
            ).collect()
        }
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, "t") for i in (1, 2, 3, 4, 10, 11, 99)], ["doc_id", "text"]
    )
    rep = {r.doc_id: r.rep_id for r in dedup_clusters(docs, pairs).collect()}
    assert rep[4] == 1 and rep[11] == 10
    assert rep[99] == 99  # singleton maps to itself


def test_connected_components_long_chain_converges(spark):
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        connected_components,
    )

    # a 64-node path graph needs log-round contraction, not 64 iterations
    # (small_graph_threshold=0 forces the distributed star algorithm)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(64)], ["a", "b"])
    comp = connected_components(pairs, max_iter=12, small_graph_threshold=0).collect()
    assert {r.component for r in comp} == {0}
    assert {r.node for r in comp} == set(range(65))


def test_redact_pii_and_strip_html(spark):
    from bigdata_scala_offline_data_clean_spark.operators.text import (
        redact_pii,
        strip_html,
    )

    df = spark.createDataFrame(
        [(1, "mail a.b+x@ex-y.org or call +1-555-123456 from 10.0.0.1 now")],
        ["id", "text"],
    )
    out = redact_pii(df).first().text
    assert out == "mail [EMAIL] or call [PHONE] from [IP] now"

    html = spark.createDataFrame(
        [(1, '<div id="a">Hello &amp; <b>world</b></div>\n  <br/>bye')],
        ["id", "text"],
    )
    assert strip_html(html).first().text == "Hello & world bye"


def test_approx_stats_error_bounds(spark):
    from bigdata_scala_offline_data_clean_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    row = all_queries()["a27_approx_stats"].spark(spark, sf).first()
    from bigdata_scala_offline_data_clean_spark.queries._util import load_table

    li = load_table(spark, sf, "lineitem")
    import pyspark.sql.functions as SF

    exact = li.agg(
        SF.countDistinct("l_orderkey").alias("ok"),
        SF.countDistinct("l_partkey").alias("pk"),
        SF.expr("percentile(l_extendedprice, array(0.5, 0.99))").alias("q"),
    ).first()
    # the query carries its own error-bound assertions (oracle-checked
    # booleans); cross-check the exact companions independently here
    assert row.orderkeys_exact == exact.ok
    assert row.partkeys_exact == exact.pk
    assert row.p50_exact == float(exact.q[0])
    assert row.p99_exact == float(exact.q[1])
    assert row.orderkeys_ok and row.partkeys_ok and row.p50_ok and row.p99_ok


def test_resample_audio_stub_contract(spark):
    from bigdata_scala_offline_data_clean_spark.operators.multimodal import (
        resample_audio,
    )

    with pytest.raises(NotImplementedError):
        resample_audio(b"wav-bytes", 16000)
    # injected decoder+resampler flow through (the production path)
    out = resample_audio(
        b"wav-bytes", 16000,
        decoder=lambda b: list(b),
        resampler=lambda audio, rate: (len(audio), rate),
    )
    assert out == (9, 16000)


def test_hash_split_deterministic_and_proportional(spark):
    from bigdata_scala_offline_data_clean_spark.operators.split import hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(df, splits).collect()}
    # partitioning-independent: identical assignment after a reshuffle
    b = {
        r.doc_id: r.split
        for r in hash_split(df.repartition(17), splits).collect()
    }
    assert a == b
    n = len(a)
    from collections import Counter

    frac = {k: v / n for k, v in Counter(a.values()).items()}
    assert abs(frac["train"] - 0.8) < 0.03
    assert abs(frac["val"] - 0.1) < 0.02
    assert abs(frac["test"] - 0.1) < 0.02
    # independent draw under a different salt
    c = {r.doc_id: r.split for r in hash_split(df, splits, salt="v2").collect()}
    assert c != a

    with pytest.raises(ValueError):
        hash_split(df, {"train": 0.5, "val": 0.1})


def test_candidate_pairs_bucket_cap(spark):
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        candidate_pairs,
    )

    rows = [(i, 0, "hot") for i in range(10)] + [(100, 1, "cold"), (101, 1, "cold")]
    bands = spark.createDataFrame(rows, ["doc_id", "band_id", "band_sig"])
    uncapped = candidate_pairs(bands).count()
    assert uncapped == 45 + 1  # C(10,2) hot + 1 cold
    capped = candidate_pairs(bands, max_bucket=5)
    got = {(r.a, r.b) for r in capped.collect()}
    assert got == {(100, 101)}  # hot bucket dropped, small bucket intact


def test_ingest_neardup_dedup_gates_against_corpus_only(spark, docs):
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        ingest_neardup_dedup,
    )

    corpus = docs.where(F.col("doc_id") <= 1)  # two copies of the base doc
    new = docs.where(F.col("doc_id") >= 2)     # near-dup, unrelated, spanish
    out = {r.doc_id: r for r in
           ingest_neardup_dedup(new, corpus, shingle_n=2, threshold=0.4).collect()}
    assert out[2].status == "dropped" and out[2].match_id == 0  # near-dup of 0
    assert out[3].status == "kept" and out[3].match_id is None
    assert out[4].status == "kept"


def test_weighted_sample_topk_prefers_heavy_and_is_bounded(spark):
    from bigdata_scala_offline_data_clean_spark.operators.split import (
        weighted_sample_topk,
    )

    df = spark.range(0, 2000).selectExpr(
        "id AS doc_id",
        # doc 0..99 get weight 1000, the rest weight 1
        "CASE WHEN id < 100 THEN 1000.0 ELSE 1.0 END AS w",
    )
    out = weighted_sample_topk(df, "w", k=100, id_col="doc_id")
    rows = out.collect()
    assert len(rows) == 100
    heavy = sum(1 for r in rows if r["doc_id"] < 100)
    # 100 heavy docs carry ~98% of total weight; expect the sample to be
    # dominated by them (deterministic given the fixed salt)
    assert heavy > 60
    # reproducible: identical second run
    again = weighted_sample_topk(df, "w", k=100, id_col="doc_id").collect()
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in again]
    # top-k must be heap+merge, not a global sort of the table
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_rates_and_determinism(spark):
    from bigdata_scala_offline_data_clean_spark.operators.split import (
        stratified_sample,
    )

    df = spark.range(0, 4000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS src"
    )
    fracs = {"a": 1.0, "b": 0.25}
    out = stratified_sample(df, fracs, "src")
    counts = {r.src: r.n for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert counts["a"] == 2000  # fraction 1.0 keeps everything
    assert abs(counts["b"] / 2000 - 0.25) < 0.05
    # reproducible: same rows on a second evaluation
    ids1 = {r.doc_id for r in out.collect()}
    ids2 = {r.doc_id for r in stratified_sample(df.repartition(9), fracs, "src").collect()}
    assert ids1 == ids2


def test_vectorized_quality_score_matches_jvm_expression(spark):
    import math

    from bigdata_scala_offline_data_clean_spark.operators.pandas_ops import (
        vectorized_quality_score,
    )

    df = spark.createDataFrame(
        [(1, 40, 10), (2, 100, 10), (3, 3, 0)], "id int, chars int, toks int"
    )
    out = df.withColumn("score", vectorized_quality_score("chars", "toks"))
    got = {r.id: r.score for r in out.collect()}
    for i, (c, t) in {1: (40, 10), 2: (100, 10), 3: (3, 0)}.items():
        expected = 1.0 / (1.0 + math.exp(-(c / max(t, 1) - 5.0)))
        assert abs(got[i] - expected) < 1e-12


def test_pack_sequences_boundary_math(spark):
    from bigdata_scala_offline_data_clean_spark.operators.packing import (
        pack_sequences,
    )

    # ctx=10: doc1 (7) fills 0-6, doc2 (5) spans 7-11 across the boundary,
    # doc3 (3) sits 12-14 entirely in chunk 1
    df = spark.createDataFrame(
        [(1, 7), (2, 5), (3, 3)], ["doc_id", "n_tok"]
    )
    out = {
        r.doc_id: r
        for r in pack_sequences(df, "doc_id", "n_tok", 10).collect()
    }
    assert (out[1].stream_offset, out[1].chunk_id, out[1].chunk_id_end) == (0, 0, 0)
    assert (out[2].stream_offset, out[2].chunk_id, out[2].chunk_id_end) == (7, 0, 1)
    assert out[2].spans_boundary is True
    assert (out[3].stream_offset, out[3].chunk_id, out[3].chunk_id_end) == (12, 1, 1)
    assert out[3].spans_boundary is False


def test_pack_sequences_sharded_streams_independent(spark):
    from bigdata_scala_offline_data_clean_spark.operators.packing import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(1, "x", 6), (2, "y", 6), (3, "x", 6), (4, "y", 6)],
        ["doc_id", "shard", "n_tok"],
    )
    out = {
        r.doc_id: r
        for r in pack_sequences(
            df, "doc_id", "n_tok", 10, shard_col="shard"
        ).collect()
    }
    # each shard starts its own stream at offset 0
    assert out[1].stream_offset == 0 and out[2].stream_offset == 0
    assert out[3].stream_offset == 6 and out[4].stream_offset == 6


def test_global_rank_matches_naive_window(spark):
    from pyspark.sql import Window

    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        global_rank,
    )

    df = spark.range(500).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    two_phase = {
        r.k: r.rank for r in global_rank(df, "h", "k").collect()
    }
    naive = {
        r.k: r.rank
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("h", "k"))
        ).collect()
    }
    assert two_phase == naive


def test_deterministic_shuffle_reproducible_and_seed_sensitive(spark):
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        deterministic_shuffle,
    )

    df = spark.range(200).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.shuffle_rank for r in deterministic_shuffle(df, "doc_id").collect()}
    b = {r.doc_id: r.shuffle_rank for r in deterministic_shuffle(df, "doc_id").collect()}
    c = {
        r.doc_id: r.shuffle_rank
        for r in deterministic_shuffle(df, "doc_id", seed="epoch1").collect()
    }
    assert a == b  # same seed -> same permutation
    assert a != c  # new seed -> new permutation
    assert sorted(a.values()) == list(range(1, 201))  # a true permutation


def test_contamination_overlap_inverted_index(spark):
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        contamination_overlap,
    )

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "entirely novel content here now")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox sleeps")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in contamination_overlap(train, bench).collect()}
    assert 1 in out and out[1].n_overlap == 2  # two shared 3-grams
    assert 2 not in out  # clean doc emits no row
    assert 0 < out[1].contamination_ratio <= 1


def test_repetition_stats_flags_boilerplate(spark):
    from bigdata_scala_offline_data_clean_spark.operators.text import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # one gram, repeated
            (2, "all these words differ from each other entirely"),
        ],
        ["doc_id", "text"],
    )
    r = {x.doc_id: x for x in repetition_stats(df, n=3).collect()}
    assert r[1].n_distinct_grams == 1 and r[1].dup_gram_ratio > 0.7
    assert r[1].top_gram_share == 1.0
    assert r[2].dup_gram_ratio == 0.0 and r[2].top_gram_share < 0.2


def test_remove_duplicated_segments(spark):
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        remove_duplicated_segments,
    )

    boiler = "click here to accept all cookies"  # 6 tokens
    df = spark.createDataFrame(
        [
            (1, f"{boiler} unique alpha content one"),
            (2, f"{boiler} different beta body text"),
            (3, boiler),  # nothing but boilerplate -> empty
            (4, "entirely original document body here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in remove_duplicated_segments(df, seg_tokens=6, min_docs=2).collect()
    }
    # segment 0 (the boilerplate) repeats across docs 1-3 and is removed;
    # each doc's tail segment survives in order
    assert out[1].clean_text == "unique alpha content one"
    assert out[2].clean_text == "different beta body text"
    assert out[3].clean_text == "" and out[3].n_kept == 0
    assert out[4].clean_text == "entirely original document body here"
    assert out[1].n_segs == 2 and out[1].n_kept == 1


def test_filter_funnel_first_fail_attribution(spark):
    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.operators.text import filter_funnel

    df = spark.createDataFrame(
        [(1, 10, "en"), (2, 200, "zz"), (3, 200, "en"), (4, None, "en")],
        "id int, n int, lang string",
    )
    stages = [
        ("min_n", F.col("n") >= 100),  # fails 1 (10) and 4 (NULL)
        ("lang", F.col("lang") == "en"),  # fails 2
    ]
    out = {r.stage: r for r in filter_funnel(df, stages).collect()}
    assert out["min_n"].n_in == 4 and out["min_n"].n_fail == 2
    assert out["lang"].n_in == 2 and out["lang"].n_fail == 1
    assert out["lang"].n_kept == 1 and out["lang"].retention == 0.5


def test_temperature_sample_flattens_head(spark):
    from bigdata_scala_offline_data_clean_spark.operators.split import (
        temperature_mixture_rates,
        temperature_sample,
    )

    rows = [(i, "head" if i < 900 else "tail") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    rates = {r.grp: r.rate for r in temperature_mixture_rates(df, "grp").collect()}
    assert rates["tail"] == 1.0  # tail group never downsampled
    assert 0.0 < rates["head"] < 1.0  # head flattened
    s = temperature_sample(df, "grp")
    n_head = s.where("grp = 'head'").count()
    # deterministic: same membership on a re-run
    assert s.where("grp = 'head'").count() == n_head
    assert abs(n_head / 900 - rates["head"]) < 0.1


def test_tfidf_top_terms_ranks_rare_terms(spark):
    from bigdata_scala_offline_data_clean_spark.operators.text import (
        tfidf_top_terms,
    )

    df = spark.createDataFrame(
        [
            (1, "common common rare1 rare1 rare1"),
            (2, "common common other"),
            (3, "common unique"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    top1 = {d: min(rs, key=lambda r: r.rank) for d, rs in by_doc.items()}
    # 'common' appears in all docs -> idf = ln(1) = 0; rare terms win
    assert top1[1].term == "rare1" and top1[1].tf == 3
    assert top1[2].term == "other"
    assert top1[3].term == "unique"
    assert all(r.tfidf == 0.0 for r in by_doc[1] if r.term == "common")
    assert len(by_doc[1]) == 2  # k respected


def test_zorder_layout_narrows_both_columns(spark):
    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.operators.layout import (
        zorder_layout,
    )

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )

    def avg_spans(df):
        spans = (
            df.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
            .first()
        )
        return spans.ax, spans.ay

    z = zorder_layout(grid, "x", "y", n_partitions=16)
    zx, zy = avg_spans(z)
    s = grid.repartitionByRange(16, "x").sortWithinPartitions("x")
    sx, sy = avg_spans(s)
    # single-column sort: x is narrow but y spans the full 0..63 range
    assert sx < 8 and sy > 48
    # z-order: BOTH dimensions well under half the global span
    assert zx < 32 and zy < 32


def test_tfidf_cosine_pairs_finds_lexical_neardups(spark):
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        tfidf_cosine_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "quantum flux capacitor resonance chamber design notes"),
            (2, "quantum flux capacitor resonance chamber design draft"),
            (3, "medieval falconry techniques and hawk training manual"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.a, r.b): r.cosine for r in tfidf_cosine_pairs(df, k=10).collect()}
    # docs 1/2 share 6 of 7 terms; the two distinguishing terms carry the
    # HIGHEST idf at N=3 (df=1 vs df=2), so the cosine lands mid-range
    assert (1, 2) in pairs and 0.3 < pairs[(1, 2)] < 0.7
    assert (1, 3) not in pairs and (2, 3) not in pairs  # no overlap


def test_chunk_documents_boundaries(spark):
    from bigdata_scala_offline_data_clean_spark.operators.packing import (
        chunk_documents,
    )

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, words), (2, "a b c")], ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=4, overlap=2).collect()
    c1 = sorted((r.chunk_id, r.chunk_text, r.n_tokens) for r in out if r.doc_id == 1)
    # stride 2: chunks at 0,2,4,6,8 -> last is the 2-token tail
    assert [c[0] for c in c1] == [0, 1, 2, 3]
    assert c1[0][1] == "w0 w1 w2 w3" and c1[1][1] == "w2 w3 w4 w5"
    assert c1[-1][1] == "w6 w7 w8 w9" and c1[-1][2] == 4
    # overlap reconstruction: stride-start tokens cover everything
    c2 = [(r.chunk_id, r.chunk_text, r.n_tokens) for r in out if r.doc_id == 2]
    assert c2 == [(0, "a b c", 3)]  # shorter than one chunk -> single chunk


def test_bigram_perplexity_separates_template_from_gibberish(spark):
    from bigdata_scala_offline_data_clean_spark.operators.text import (
        bigram_lm_scores,
    )

    template = "the cat sat on the mat"
    rows = [(i, template) for i in range(10)]  # templates dominate the LM
    rows.append((10, "zebra quark fjord nymph waltz"))  # unseen transitions
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    # every template doc scores identically; gibberish is far less likely
    assert out[0].ppl == out[5].ppl
    assert out[10].ppl > 2 * out[0].ppl  # ~2.6x at this vocab size
    assert out[0].n_bigrams == 5 and out[10].n_bigrams == 4


def test_equidepth_histogram_depths_and_ties(spark):
    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        equidepth_histogram,
    )

    # 100 distinct values -> perfectly even depths
    even = spark.range(100).select(F.col("id").alias("v"))
    out = {r.bucket: r for r in equidepth_histogram(even, "v", 4).collect()}
    assert [out[b].n_rows for b in range(4)] == [25, 25, 25, 25]
    assert out[0].lo == 0 and out[3].hi == 99
    # one value holding 60% of rows stays in ONE bucket (ties never split)
    skew = spark.createDataFrame(
        [(7,)] * 60 + [(i,) for i in range(100, 140)], "v long"
    )
    sk = {r.bucket: r for r in equidepth_histogram(skew, "v", 4).collect()}
    heavy = [b for b, r in sk.items() if r.lo <= 7 <= r.hi]
    assert len(heavy) == 1 and sk[heavy[0]].n_rows >= 60


def test_vocab_build_ranks_and_min_count(spark):
    from bigdata_scala_offline_data_clean_spark.operators.text import vocab_build

    docs = spark.createDataFrame(
        [(0, "b b b a a c"), (1, "a b z")], ["doc_id", "text"]
    )
    out = {r.token: r for r in vocab_build(docs, min_count=2).collect()}
    # z occurs once -> dropped; b(4) ranks before a(3); ids are 1-based
    assert set(out) == {"a", "b"}
    assert out["b"].token_id == 1 and out["b"].cnt == 4
    assert out["a"].token_id == 2 and out["a"].cnt == 3
    # count ties order by token ascending
    tied = spark.createDataFrame([(0, "x y x y")], ["doc_id", "text"])
    t = {r.token: r.token_id for r in vocab_build(tied, min_count=2).collect()}
    assert t == {"x": 1, "y": 2}


def test_perplexity_buckets_cover_and_split(spark):
    from bigdata_scala_offline_data_clean_spark.queries import all_queries

    out = (
        all_queries()["a64_perplexity_buckets"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    )
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault((r.lang, r.bucket), 0)
        by_bucket[(r.lang, r.bucket)] += 1
    langs = {lang for lang, _ in by_bucket}
    # every language splits into all three quality terciles
    for lang in langs:
        assert {b for l, b in by_bucket if l == lang} == {
            "head", "middle", "tail"
        }, lang
    # head <= t1 cut is a third-ish of each language's docs
    for lang in langs:
        total = sum(n for (l, _), n in by_bucket.items() if l == lang)
        head = by_bucket[(lang, "head")]
        assert 0.2 <= head / total <= 0.5, (lang, head, total)


def test_exact_percentiles_bit_identical_to_builtin(spark):
    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        exact_percentiles,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_extendedprice"
    )
    qs = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    got = exact_percentiles(df, "l_extendedprice", qs)
    ref_row = df.agg(
        F.expr(
            "percentile(l_extendedprice, array(0.0, 0.25, 0.5, 0.9, 0.99, 1.0))"
        ).alias("p")
    ).collect()[0]
    for q, ref in zip(qs, ref_row["p"]):
        assert got[q] == ref  # bit-identical, not approx


def test_exact_percentiles_degenerate_inputs(spark):
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        exact_percentiles,
    )

    empty = spark.createDataFrame([], "v double")
    assert exact_percentiles(empty, "v", [0.5]) == {0.5: None}
    const = spark.createDataFrame([(7.5,)] * 10, ["v"])
    assert exact_percentiles(const, "v", [0.1, 0.9]) == {0.1: 7.5, 0.9: 7.5}


def test_grouped_exact_percentiles_bit_identical_to_builtin(spark):
    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        grouped_exact_percentiles,
    )

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    qs = [0.0, 0.5, 0.9, 0.99, 1.0]
    got = {
        (r["o_orderstatus"], r["q"]): r["value"]
        for r in grouped_exact_percentiles(
            o, ["o_orderstatus"], "o_totalprice", qs
        ).collect()
    }
    ref = o.groupBy("o_orderstatus").agg(
        F.expr(
            "percentile(o_totalprice, array(0.0, 0.5, 0.9, 0.99, 1.0))"
        ).alias("p")
    ).collect()
    assert len(got) == len(ref) * len(qs)
    for r in ref:
        for q, v in zip(qs, r["p"]):
            assert got[(r["o_orderstatus"], q)] == v  # bit-identical


def test_train_pq_codebooks_shape(spark):
    from bigdata_scala_offline_data_clean_spark.operators.similarity import (
        train_pq_codebooks,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(e, m=16, ksub=16)
    dim = len(e.first()["embedding"])
    assert len(books) == 16 and all(len(b) <= 16 for b in books)
    assert all(len(c) == dim // 16 for b in books for c in b)
    # determinism: fixed seed -> identical codebooks
    assert train_pq_codebooks(e, m=16, ksub=16) == books


def test_fused_minhash_bands_match_staged_pipeline(spark):
    """r17: minhash_band_index's fused Arrow pass must be bit-identical
    to the staged shingles -> minhash_signatures -> lsh_bands operators
    on awkward inputs (empty text, doc shorter than the shingle, interior
    / trailing double spaces, unicode, duplicate grams)."""
    from bigdata_scala_offline_data_clean_spark.operators.dedup import (
        _minhash_bands_py,
        lsh_bands,
        minhash_signatures,
        shingles,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, ""),
            (3, "one"),
            (4, "double  space  runs "),
            (5, "héllo wörld héllo wörld héllo"),
            (6, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    staged = sorted(
        map(
            tuple,
            lsh_bands(
                minhash_signatures(
                    shingles(df, "doc_id", "text", 2), "doc_id", 32
                ),
                "doc_id", 32, 8,
            ).collect(),
        )
    )
    fused = sorted(
        map(tuple, _minhash_bands_py(df, "doc_id", "text", 2, 32, 8).collect())
    )
    assert staged == fused and len(fused) == 6 * 8
