"""Text analysis operators for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` column expressions -- JVM-side, inside
whole-stage codegen, no UDFs -- so a 100 TB ``documents`` scan stays a single
narrow projection pass.  Hashes are md5 (portable across engines: the DuckDB
oracle computes the identical digests), arithmetic is integer-exact.

The reference has no text ops (it is a warehouse ETL suite); these extend it
into the training-data domain per the rebuild brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ordering import pin_frame

# BPE-ish word-piece pattern: letter runs, digit runs, single punctuation
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Character-trigram tables for the language-ID scorer (round-10, VERDICT
# r9 task #5 -- replaces the 4-language marker-stopword overlap).  Each
# entry is EXACTLY 3 characters; leading/trailing spaces capture word
# boundaries against the space-padded lowercased text.  The tables are
# hand-curated high-frequency trigrams of each language (the classic
# Cavnar-Trenkle n-gram profile idea, truncated to a CASE-expressible
# literal table so the DuckDB oracle scores identically); overlap between
# tables is fine -- scores are independent and ties break on the fixed
# en > es > fr > de order.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", " an", "and", "nd ", "ing", "ng ", " of",
           "of ", "ion", " to", "to ", " is", "is ", "ed ", " wi", "th ",
           " be", "er "),
    "es": (" de", "de ", " la", "la ", " el", "el ", "os ", "que", " qu",
           "ue ", " en", "en ", "ión", "ado", "ar ", " co", "as ", " se",
           "nte"),
    "fr": (" le", "le ", "es ", " de", "de ", " et", "et ", "ent", " la",
           "la ", "ait", "que", " qu", "eur", "re ", " un", "un ", "ion",
           "ais"),
    "de": ("der", "er ", "ie ", "die", " di", "und", " un", "nd ", "ch ",
           "sch", "ein", " ei", "ung", "ich", "cht", "en ", " ge", "ten",
           " zu", "das", "ern", "hre", "aus", " au", " de"),
}


def _tokens(text_col: str | Column) -> Column:
    return F.split(text_col, " ")


def word_ngrams(toks: Column, n: int) -> Column:
    """Word ``n``-gram array in position order (duplicates kept).

    Built by chaining ``zip_with`` over ``n-1`` shifted views of the token
    array -- one string append per (gram, position), no per-gram array
    allocation.  ~2x faster than ``transform(sequence, i ->
    concat_ws(slice(toks, i, n)))`` (both run interpreted; the slice form
    allocates an n-element array per gram).  A document shorter than ``n``
    tokens yields ONE partial gram (the whole text): the shifted views run
    out, ``zip_with`` pads with NULL, and ``concat_ws`` skips NULLs --
    exactly the slice form's semantics.
    """
    n_grams = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    g = F.slice(toks, 1, n_grams)
    for k in range(1, n):
        g = F.zip_with(
            g,
            F.slice(toks, k + 1, n_grams),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return g


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: char/token counts, distinct ratio, token
    length stats.  One projection, zero shuffles."""
    toks = _tokens(F.col(text_col))
    n_tokens = F.size(toks)
    return (
        df.withColumn("n_chars_calc", F.length(text_col))
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_uniq_tokens", F.size(F.array_distinct(toks)))
        .withColumn(
            "avg_token_len",
            # chars minus separators, over token count; integer-exact inputs
            (F.length(text_col) - (n_tokens - F.lit(1))) / n_tokens,
        )
    )


def token_count_bpe(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token count via a word-piece regex (letters / digits /
    punctuation runs) -- the cheap proxy for tokenizer cost estimation."""
    return df.withColumn(
        "n_bpe_tokens", F.regexp_count(F.col(text_col), F.lit(TOKEN_PATTERN))
    )


def char_class_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character-class census: counts of ASCII letters,
    digits, spaces, and everything else (punctuation / symbols / non-ASCII).

    The script/encoding health screen a crawl-curation pipeline runs
    before tokenization -- digit-heavy docs are tables/logs, other-heavy
    docs are markup/binary bleed-through.  Counts are integers computed by
    length deltas of ``regexp_replace`` (one projection, zero shuffles,
    whole-stage codegen), so every downstream share is a single exact
    integer ratio -- no float accumulation anywhere.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_alpha = n_chars - F.length(F.regexp_replace(t, "[A-Za-z]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))
    n_space = n_chars - F.length(F.regexp_replace(t, " ", ""))
    return (
        df.withColumn("n_chars_cls", n_chars)
        .withColumn("n_alpha", n_alpha)
        .withColumn("n_digit", n_digit)
        .withColumn("n_space", n_space)
        .withColumn(
            "n_other",
            F.col("n_chars_cls")
            - F.col("n_alpha")
            - F.col("n_digit")
            - F.col("n_space"),
        )
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Char-trigram language scorer (round-10; was marker-stopword overlap).

    ``score_{lang}`` counts occurrences of that language's
    :data:`LANG_TRIGRAMS` in the space-padded lowercased text --
    occurrence count per trigram via the portable
    ``(len(s) - len(replace(s, t, ''))) / 3`` identity (left-to-right
    non-overlapping in BOTH engines, so the DuckDB oracle scores
    identically); picks the highest with a fixed tie order
    (en > es > fr > de, earlier wins ties).  Deterministic, and a real
    n-gram-profile classifier: >=95% accuracy on the multilingual
    pytest fixture (``test_language_id_trigram_accuracy``).

    100 TB: ~80 replace+length expressions in ONE codegen projection
    pass -- JVM-side, no Python, no shuffle, rides the cleaning stage's
    existing scan like the rest of the text stats.
    """
    norm = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    out = df.withColumn("__lang_norm", norm)
    for lang, tris in LANG_TRIGRAMS.items():
        score = None
        for t in tris:
            c = (
                (
                    F.length("__lang_norm")
                    - F.length(
                        F.replace(F.col("__lang_norm"), F.lit(t), F.lit(""))
                    )
                )
                / 3
            ).cast("int")
            score = c if score is None else score + c
        out = out.withColumn(f"score_{lang}", score)
    out = out.drop("__lang_norm")
    langs = list(LANG_TRIGRAMS)
    pred = F.lit(None).cast("string")
    # build the CASE chain back-to-front so earlier langs win ties
    for lang in reversed(langs):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return out.withColumn("predicted_lang", pred)


# PII patterns kept to the regex subset shared by Java regex (Spark) and
# RE2 (DuckDB oracle): no backreferences, no lookaround.  Order matters:
# emails first so their digits are not half-eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\+?[0-9][0-9()\-]{6,}[0-9]", "[PHONE]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 addresses to typed placeholders.

    Chained ``regexp_replace`` -- JVM-side, codegen'd, zero shuffles; at
    100 TB this rides the same projection pass as the rest of the cleaning
    stage.  Patterns are engine-portable (oracle uses identical RE2-safe
    regexes with the 'g' flag)."""
    col = F.col(text_col)
    for _, pattern, token in PII_PATTERNS:
        col = F.regexp_replace(col, pattern, token)
    return df.withColumn(out_col or text_col, col)


def strip_html(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Drop HTML/XML tags and collapse whitespace -- the boilerplate-removal
    first pass for web-crawl corpora.  Tags go first so '<p>a</p> <b>b</b>'
    normalizes to 'a b'; entities common in crawls are unescaped for the
    few that matter for training text (&amp; &lt; &gt; &nbsp;)."""
    col = F.regexp_replace(F.col(text_col), r"<[^>]*>", " ")
    for ent, repl in (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">")):
        col = F.replace(col, F.lit(ent), F.lit(repl))
    col = F.trim(F.regexp_replace(col, r"\s+", " "))
    return df.withColumn(out_col or text_col, col)


def doc_fingerprint(df: DataFrame, cols: list[str], sep: str = "|") -> DataFrame:
    """Whole-document fingerprint: md5 over a delimited concat of columns.

    ``sep`` guards against boundary collisions (("ab","c") vs ("a","bc"));
    keep it in sync with the oracle SQL."""
    return df.withColumn(
        "fingerprint", F.md5(F.concat_ws(sep, *[F.col(c) for c in cols]))
    )


def shingle_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """Rolling-window content fingerprint: the minimum md5 over word
    ``n``-gram shingles (winnowing-style min-hash of the content stream).

    Robust to small edits anywhere except the minimal window; one explode +
    one groupBy (shuffle on the doc id only).
    """
    toks = _tokens(F.col(text_col))
    grams = word_ngrams(toks, n)
    from .etl import spread_narrow_scan

    return (
        spread_narrow_scan(df, id_col)
        .select(id_col, F.explode(grams).alias("gram"))
        .groupBy(id_col)
        .agg(F.min(F.md5("gram")).alias("shingle_fingerprint"))
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Intra-document repetition signals (the Gopher/FineWeb-style filter):

    - ``n_grams`` / ``n_distinct_grams``: word ``n``-gram counts WITH and
      without duplicates
    - ``dup_gram_ratio``: 1 - distinct/total (0 = no repetition)
    - ``top_gram_share``: the most frequent gram's fraction of all grams
      (boilerplate and template spam spike this)

    The counts are narrow column expressions; only ``top_gram_share`` needs
    a shuffle (per-(doc, gram) count -> per-doc max), keyed by the doc id,
    so it scales as one aggregation over the exploded gram stream.  Exact
    int/int division -> engine-portable doubles.
    """
    toks = _tokens(F.col(text_col))
    grams = word_ngrams(toks, n)
    # materialize the gram array in its OWN projection before the explode:
    # inlined into the Generate's projection the transform re-evaluates per
    # exploded row (O(grams^2) per doc -- measured ~20x on 500 docs)
    from .etl import spread_narrow_scan

    gram_arrays = spread_narrow_scan(df, id_col).select(
        id_col, grams.alias("__grams")
    )
    base = gram_arrays.select(
        id_col,
        F.size("__grams").alias("n_grams"),
        F.size(F.array_distinct("__grams")).alias("n_distinct_grams"),
        F.explode("__grams").alias("gram"),
    )
    per_gram = base.groupBy(id_col, "n_grams", "n_distinct_grams", "gram").agg(
        F.count(F.lit(1)).alias("__gram_n")
    )
    return per_gram.groupBy(id_col, "n_grams", "n_distinct_grams").agg(
        F.max("__gram_n").alias("__top_n")
    ).select(
        id_col,
        "n_grams",
        "n_distinct_grams",
        (
            F.lit(1.0) - F.col("n_distinct_grams") / F.col("n_grams")
        ).alias("dup_gram_ratio"),
        (F.col("__top_n") / F.col("n_grams")).alias("top_gram_share"),
    )


def filter_funnel(
    df: DataFrame, stages: list[tuple[str, Column]]
) -> DataFrame:
    """Per-stage retention accounting for a chained quality-filter pipeline.

    Each row is attributed to the FIRST stage whose predicate it fails
    (NULL predicates count as failures), so the whole funnel costs ONE scan
    + one tiny aggregation -- not one pass per filter.  Output: one row per
    stage with ``n_in`` / ``n_fail`` / ``n_kept`` and the exact retention
    ratio (int/int IEEE division -- engine-portable, no rounding).

    The per-stage attribution is what a curation team actually reads: "we
    lost 40% at language-ID, 5% at length" -- and at 100 TB the single-scan
    shape matters (k filters as k separate count() actions would re-read
    the corpus k times).
    """
    from pyspark.sql import Window

    k = len(stages)
    fail = F.lit(k)
    for i in reversed(range(k)):
        fail = F.when(~F.coalesce(stages[i][1], F.lit(False)), F.lit(i)).otherwise(
            fail
        )
    counts = df.groupBy(fail.alias("stage_idx")).agg(F.count(F.lit(1)).alias("n"))
    dim = df.sparkSession.createDataFrame(
        [(i, name) for i, (name, _) in enumerate(stages)],
        "stage_idx int, stage string",
    )
    total = counts.agg(F.sum("n").alias("__total"))
    j = (
        dim.join(counts, "stage_idx", "left")
        .na.fill({"n": 0})
        .crossJoin(F.broadcast(total))
        # provable no-op: the literal dim has exactly k rows, so the limit
        # changes nothing -- it just makes the bound visible to the plan
        # audit's unpartitioned-window rule
        .limit(k)
    )
    # k-row frame: the unpartitioned window is deliberate (post-aggregation)
    w = Window.orderBy("stage_idx").rowsBetween(Window.unboundedPreceding, -1)
    n_in = (F.col("__total") - F.coalesce(F.sum("n").over(w), F.lit(0))).cast(
        "bigint"
    )
    return j.select(
        "stage_idx",
        "stage",
        n_in.alias("n_in"),
        F.col("n").cast("bigint").alias("n_fail"),
        (n_in - F.col("n")).cast("bigint").alias("n_kept"),
        ((n_in - F.col("n")).cast("double") / n_in).alias("retention"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 10
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (sparse keyword features).

    Shape: explode -> (doc, term) counts [shuffle 1] -> per-term document
    frequency off the tf frame [shuffle 2, vocab-sized] -> idf join (AQE
    broadcasts a small vocab) -> per-doc top-k window [shuffle 3].  The
    corpus-size scalar rides a broadcast single-row cross join, not a
    driver action.

    Engine parity: idf = ln(N/df_t) rounded to 9 decimals BEFORE the
    tf*idf product, so both engines multiply identical doubles and the
    (score desc, term asc) ranking is deterministic.
    """
    from pyspark.sql import Window

    from .etl import spread_narrow_scan

    toksed = spread_narrow_scan(df, id_col).select(
        id_col, F.split(F.col(text_col), " ").alias("__toks")
    )
    tf = (
        toksed.select(id_col, F.explode("__toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("__nd"))
    dfreq = tf.groupBy("term").agg(F.count_distinct(F.col(id_col)).alias("__dft"))
    idf = F.round(F.log(F.col("__nd").cast("double") / F.col("__dft")), 9)
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("__score", F.col("tf") * idf)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            F.round("__score", 6).alias("tfidf"),
            "rank",
        )
    )


def bm25_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` Okapi BM25 terms per document (retrieval-grade keywords).

    Same three-shuffle shape as :func:`tfidf_top_terms` -- (doc, term)
    counts, vocab-sized document frequency, per-doc top-k window -- plus a
    length-normalized saturation term BM25 adds over raw TF-IDF:

        idf(t) = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)        [Robertson]
        tfc(t, d) = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

    The corpus scalars (N, sum of doc lengths) ride one broadcast 1-row
    frame; ``avgdl`` is derived from exact BIGINT sums so the doubles both
    engines divide are identical.  ``idf`` is rounded to 9 decimals before
    the product (repo float rule) so ranking ties break identically.
    """
    from pyspark.sql import Window

    from .etl import spread_narrow_scan

    toksed = spread_narrow_scan(df, id_col).select(
        id_col, F.split(F.col(text_col), " ").alias("__toks")
    )
    tf = (
        toksed.select(
            id_col,
            F.size("__toks").alias("__dl"),
            F.explode("__toks").alias("term"),
        )
        .groupBy(id_col, "term", "__dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    corpus = toksed.agg(
        F.count(F.lit(1)).alias("__nd"),
        F.sum(F.size("__toks").cast("bigint")).alias("__sumdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count_distinct(F.col(id_col)).alias("__dft"))
    nd = F.col("__nd").cast("double")
    idf = F.round(
        F.log((nd - F.col("__dft") + F.lit(0.5)) / (F.col("__dft") + F.lit(0.5)) + F.lit(1.0)),
        9,
    )
    avgdl = F.col("__sumdl").cast("double") / nd
    # association order mirrors the SQL oracle EXACTLY -- (idf * num) /
    # denom, NOT idf * (num / denom): the two differ by up to 1 ulp and
    # rank selection orders by the un-rounded score, so a different
    # association could pick a different rank-k term across engines
    score = (idf * (F.col("tf") * F.lit(k1 + 1.0))) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl)
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn("__score", score)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            F.col("__dl").cast("bigint").alias("dl"),
            F.round("__score", 6).alias("bm25"),
            "rank",
        )
    )


def bigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document perplexity under a corpus add-one bigram LM.

    The CCNet/Wikipedia-LM quality signal, self-trained on the corpus:
    ``P(w2|w1) = (c(w1 w2) + 1) / (c(w1 .) + V)`` with add-one smoothing
    over the corpus vocabulary ``V``; a document's score is the mean token
    log-probability, reported with ``ppl = exp(-avg_logprob)``.  Template
    spam scores unusually LOW perplexity, gibberish unusually HIGH -- both
    tails get filtered.

    Shape: one bigram-occurrence stream (posexplode), a gram-keyed count
    [shuffle], a first-word marginal off the gram table (vocab-sized), a
    gram-keyed probability join (AQE broadcasts small LMs), and a per-doc
    rollup.  Engine parity: log-probs rounded to 9 decimals, per-doc sums
    accumulate as exact DECIMAL(28,9), final division/exp on identical
    doubles (ppl rounded to 6).
    """
    toks = _tokens(F.col(text_col))
    grams = word_ngrams(toks, 2)
    # docs with a single token have no bigram: the transform above would
    # emit the lone token itself (slice of length 1); keep semantics clean
    # by requiring >= 2 tokens
    from .etl import spread_narrow_scan

    base = spread_narrow_scan(df.where(F.size(toks) >= 2), id_col).select(
        id_col, grams.alias("__grams")
    )  # materialized before explode (Generate would re-eval per row)
    occ = base.select(id_col, F.explode("__grams").alias("gram"))
    c2 = occ.groupBy("gram").agg(F.count(F.lit(1)).alias("c2"))
    w1 = F.substring_index(F.col("gram"), " ", 1)
    c1 = c2.groupBy(w1.alias("w1")).agg(F.sum("c2").alias("c1"))
    vocab = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    lm = (
        c2.withColumn("w1", w1)
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "gram",
            F.round(
                F.log(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                ),
                9,
            ).alias("logp"),
        )
    )
    per_doc = (
        occ.join(lm, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(F.col("logp").cast("decimal(28,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_logprob"),
        )
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
    )


def vocab_build(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Frequency-ranked token vocabulary: (token, cnt, token_id).

    The pretraining-prep step: whitespace tokens with corpus frequency
    >= ``min_count``, ids assigned by rank over (count desc, token asc).

    Scale shape: the rank does NOT use an unpartitioned window (the
    single-task scale-killer).  Count values are natural ordered buckets:
    per-count group sizes aggregate to a tiny frame (|distinct counts|
    rows), their cumulative offsets are computed driver-side and broadcast
    back, and ``row_number`` partitions BY COUNT.  The heaviest window
    task is then the largest same-count token group -- in Zipfian corpora
    that is the low-count tail, which ``min_count`` (>= 2 here, higher in
    every real vocabulary build) is there to drop anyway.
    """
    from pyspark.sql import Window

    from .etl import spread_narrow_scan

    toks = spread_narrow_scan(df, text_col).select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    counts = (
        toks.where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    sizes = (
        counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("cnt").desc())
        .collect()
    )
    offsets, acc = [], 0
    for r in sizes:
        offsets.append((r["cnt"], acc))
        acc += r["n"]
    if not offsets:
        return counts.withColumn("token_id", F.lit(None).cast("long"))
    spark = df.sparkSession
    off = spark.createDataFrame(offsets, ["cnt", "__offset"])
    w = Window.partitionBy("cnt").orderBy("token")
    return (
        counts.join(F.broadcast(off), "cnt")
        .withColumn(
            "token_id", (F.col("__offset") + F.row_number().over(w)).cast("long")
        )
        .select("token", "cnt", "token_id")
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_broadcast_tokens: int | None = 1_000_000,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a token vocabulary.

    The tokenizer-coverage check run before committing a vocab: per doc,
    ``n_tokens`` (non-empty occurrences), ``n_oov`` (occurrences whose
    token is absent from ``vocab``), ``oov_ratio`` (exact int/int division
    rounded to 6).

    Scale shape (round-9 hardening): a tokenizer vocab (32k-256k
    entries) is small next to the corpus, so the token stream
    broadcast-joins it and is never shuffled.  But a CORPUS-DERIVED
    vocab is unbounded -- forcing a broadcast of it is the OOM hazard,
    not an optimization -- so the broadcast only happens when the vocab
    provably fits ``max_broadcast_tokens`` (one bounded limit+count
    probe, the repo's bounded-driver-fetch pattern).  Past the bound,
    the probe side shrinks to per-(doc, token) counts first (far smaller
    than the raw occurrence stream) and shuffle-joins token-to-token --
    the two sides co-partition, and occurrence weights ride the count
    column.  Both paths are row-identical (pytest pins the fallback).
    """
    from .etl import spread_narrow_scan

    toks = spread_narrow_scan(df, id_col).select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).where(F.col("token") != "")
    # distinct() guards against a caller-supplied vocab with duplicate
    # tokens, which would fan out the token stream and inflate the counts
    v = vocab.select("token").distinct().withColumn("__in_vocab", F.lit(True))
    # pin the vocab across the size probe and the join: a corpus-derived
    # vocab is itself a full explode+groupBy pipeline, and without the pin
    # the probe's limit+count job recomputes it a second time for the join
    # (a second corpus scan at 100 TB).  A pin instead of
    # persist(): persisted blocks stay in the catalog cache until an
    # explicit unpersist -- which this function cannot issue (it returns a
    # lazy frame) -- so a session running many queries (the 300-query
    # sweep) accumulates them (ADVICE r9).  Checkpoint blocks free when
    # the JVM collects the RDD, i.e. when callers drop the result.
    v = pin_frame(v)
    small = (
        max_broadcast_tokens is not None
        and v.limit(max_broadcast_tokens + 1).count() <= max_broadcast_tokens
    )
    if small:
        joined = toks.join(F.broadcast(v), "token", "left")
        occ = F.lit(1)
    else:
        tok_counts = toks.groupBy(id_col, "token").agg(
            F.count(F.lit(1)).alias("__n")
        )
        joined = tok_counts.join(v, "token", "left")
        occ = F.col("__n")
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum(occ).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), occ).otherwise(0)
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_ratio", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top: int = 20,
) -> DataFrame:
    """Top collocations by pointwise mutual information.

    ``pmi(w1 w2) = ln( (c12/Nb) / ((c1/Nt)(c2/Nt)) )`` over the corpus
    bigram stream (duplicates kept; docs need >= 2 tokens).  All counts are
    exact integers aggregated with map-side partials; only the final ln
    runs in floating point, on an expression written identically in the
    DuckDB oracle and rounded to 6.  Scale shape: one bigram-keyed count,
    one token-keyed count, then two token-keyed equi-joins of the
    marginals onto the ``>= min_count`` gram table -- the corpus itself
    is scanned twice and never self-joined.  The marginal table is
    VOCABULARY-sized (unbounded on a web corpus), so the joins carry no
    forced broadcast hint (round-9 hardening: forcing the broadcast of
    an unbounded count table is the OOM hazard); both sides are
    token-keyed count tables orders of magnitude smaller than the
    corpus, and AQE broadcasts the marginals at runtime whenever they
    measure small.
    """
    from .etl import spread_narrow_scan

    toks = _tokens(F.col(text_col))
    docs = spread_narrow_scan(df.where(F.size(toks) >= 2), id_col)
    grams = docs.select(F.explode(word_ngrams(toks, 2)).alias("gram"))
    c12 = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= min_count)
    )
    tok_stream = docs.select(F.explode(toks).alias("token"))
    c1 = tok_stream.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = grams.agg(F.count(F.lit(1)).alias("nb")).crossJoin(
        tok_stream.agg(F.count(F.lit(1)).alias("nt"))
    )
    parts = F.split(F.col("gram"), " ")
    scored = (
        c12.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(c1.select(F.col("token").alias("w1"),
                        F.col("c").alias("c1")), "w1")
        .join(c1.select(F.col("token").alias("w2"),
                        F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("c12").cast("double") * F.col("nt") * F.col("nt"))
                    / (F.col("nb").cast("double") * F.col("c1") * F.col("c2"))
                ),
                6,
            ),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), "gram")
        .limit(top)
        .select("gram", "c12", "c1", "c2", "pmi")
    )


def bpe_merge_rounds(
    docs: DataFrame,
    rounds: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First ``rounds`` BPE merges over the corpus (Sennrich et al.,
    ACL'16 tokenizer induction): per round, the globally most frequent
    adjacent symbol pair (ties broken lexicographically) becomes one new
    symbol; output is one row per round ``(round, left_sym, right_sym,
    merged_sym, pair_count)``.

    The classic scale trick IS the algorithm: pair statistics ride the
    word-TYPE frequency table (distinct words x freq), never the token
    stream -- at 100 TB the corpus may hold 10^14 tokens but only 10^8
    word types, so each round is one explode + one sum over a
    vocab-sized frame, with the argmax a 1-row TakeOrdered broadcast
    back into the merge step.  Pair counts are position-based (``aaa``
    counts ``(a,a)`` twice, the standard counting rule); the merge is
    greedy left-to-right via literal (non-regex) ``replace`` on the
    space-separated symbol string, applied TWICE because a single
    non-overlapping replace pass misses back-to-back sites sharing a
    delimiter space (`` a b a b `` -- the first match consumes the
    middle space).  Two passes fix every such chain a second round of
    sites can produce; the SQL oracle applies the identical two-pass
    expression, so both engines compute the same (documented) greedy
    variant bit-for-bit.
    """
    wf = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.sum(F.lit(1)).alias("freq"))
    )
    seq = pin_frame(
        wf.select(
            "freq",
            F.expr("array_join(regexp_extract_all(w, '.', 0), ' ')").alias(
                "seq"
            ),
        )
    )
    out = []
    for r in range(1, rounds + 1):
        pairs = (
            seq.select(
                "freq",
                # slice-and-zip (NOT sequence(1, n-1): Spark's sequence
                # counts DOWN when n-1 < 1, so 1-symbol words would
                # explode); empty slices zip to an empty array safely
                F.explode(
                    F.expr(
                        "zip_with("
                        " slice(split(seq, ' '), 1, size(split(seq, ' ')) - 1),"
                        " slice(split(seq, ' '), 2, size(split(seq, ' ')) - 1),"
                        " (x, y) -> struct(x AS p1, y AS p2))"
                    )
                ).alias("z"),
            )
            .groupBy(F.col("z.p1").alias("p1"), F.col("z.p2").alias("p2"))
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pin_frame(pairs.orderBy(F.desc("cnt"), "p1", "p2").limit(1))
        out.append(
            top.select(
                F.lit(r).alias("round"),
                F.col("p1").alias("left_sym"),
                F.col("p2").alias("right_sym"),
                F.concat("p1", "p2").alias("merged_sym"),
                F.col("cnt").alias("pair_count"),
            )
        )
        merge_once = (
            "replace(concat(' ', {s}, ' '),"
            " concat(' ', p1, ' ', p2, ' '), concat(' ', p1, p2, ' '))"
        )
        seq = pin_frame(
            seq.crossJoin(F.broadcast(top.select("p1", "p2"))).select(
                "freq",
                F.expr(
                    "trim(" + merge_once.format(s=merge_once.format(s="seq")) + ")"
                ).alias("seq"),
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), out)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the
    MOSS algorithm): the distinct set of per-window minimum k-gram hashes.

    Every position window of ``w`` consecutive character k-grams
    contributes its minimum md5 (lexicographic -- hex strings compare
    identically in Spark and DuckDB, so no numeric parsing), giving the
    GUARANTEE that any shared substring of at least ``w + k - 1``
    characters between two documents yields at least one shared
    fingerprint, while storing only ~2/(w+1) of the gram hashes.  The
    local-window minimum is what distinguishes winnowing from a06's
    global min-shingle (one fingerprint per doc) and from MinHash
    (per-permutation global minima): matches are LOCALIZED, so partial
    overlap between long documents is still caught.

    100 TB: one projection pass explodes char k-grams (positions via
    ``transform(sequence(...))`` -- guarded to an empty array for docs
    shorter than ``k``, since Spark's ``sequence(1, 0)`` counts DOWN),
    and the window min is partitioned by document -- no data-sized
    global window, no shuffle beyond the per-doc repartition.

    Returns the distinct ``(id_col, fp)`` long form.
    """
    return (
        _winnow_core(df, id_col, text_col, k, w, mode="fps")
        .distinct()
    )


def _winnow_core(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int, mode: str
) -> DataFrame:
    """Per-document winnowing, vectorized in one Arrow pass (guide §4.2).

    ``mode='runs'``: maximal runs of consecutive equal-fp windows --
    ``(id_col, fp, __s, __e)`` with ``[__s, __e]`` the union of the
    run's window character spans (span of the window at gram position
    ``p`` is ``[p, p + w + k - 2]``).  ``mode='fps'``: the per-document
    distinct window minima -- ``(id_col, fp)``.

    Optimization round 17 (guide §2.4 + §4.2): the previous shape
    exploded one row per k-gram (a corpus of N chars became ~N rows),
    exchanged them on the doc id and ran WindowExec min/count + lag +
    groupBy passes over the gram stream.  A document's windows depend
    only on its own text, so the whole computation runs inside
    ``mapInPandas``: md5 digests per gram (identical bytes to the JVM
    ``md5(encode(gram, 'utf-8'))`` -- Python slicing and Spark
    ``substring`` both index code points), then a numpy sliding
    lexicographic min over the digests viewed as big-endian (hi, lo)
    uint64 pairs -- byte order == hex-string order, so window selection
    is bit-identical to the exploded form -- then run boundaries via
    vectorized neighbor comparison.  Zero exchanges, no WindowExec, and
    rows never multiply until the (much sparser) runs/fps output.  ``fp``
    is emitted as the 16-byte digest (binary): every consumer uses fp
    only for equality/grouping, and Spark's binary comparison orders it
    exactly like the former hex string (min-id keeper semantics etc.
    unchanged).

    ASCII fast path: when the utf-8 encoding has the same length as the
    string, grams are sliced from the encoded bytes directly; otherwise
    per-gram string slices are encoded individually (code-point exact).
    """
    import numpy as np
    import pandas as pd

    if mode not in ("runs", "fps"):
        raise ValueError("mode must be 'runs' or 'fps'")
    span = w + k - 2
    id_type = df.schema[id_col].dataType.simpleString()
    if mode == "runs":
        schema = f"{id_col} {id_type}, fp binary, __s int, __e int"
    else:
        schema = f"{id_col} {id_type}, fp binary"
    emit_runs = mode == "runs"

    def gen(batches):
        from hashlib import md5

        for batch in batches:
            ids_out: list = []
            fps_out: list = []
            s_out: list = []
            e_out: list = []
            for doc_id, text in zip(batch[id_col], batch[text_col]):
                if text is None:
                    continue
                ln = len(text)
                m = ln - span  # number of FULL w-gram windows
                if m < 1:
                    continue
                n = ln - k + 1
                enc = text.encode("utf-8")
                if len(enc) == ln:  # pure-ASCII: slice bytes directly
                    digs = b"".join(
                        md5(enc[p: p + k]).digest() for p in range(n)
                    )
                else:
                    digs = b"".join(
                        md5(text[p: p + k].encode("utf-8")).digest()
                        for p in range(n)
                    )
                d = np.frombuffer(digs, dtype=">u8").reshape(n, 2)
                hi, lo = d[:, 0], d[:, 1]
                whi, wlo = hi[:m].copy(), lo[:m].copy()
                for j in range(1, w):
                    h2, l2 = hi[j: j + m], lo[j: j + m]
                    lt = (h2 < whi) | ((h2 == whi) & (l2 < wlo))
                    np.copyto(whi, h2, where=lt)
                    np.copyto(wlo, l2, where=lt)
                if emit_runs:
                    # run starts: window 1 + every fp change (1-based)
                    neq = (whi[1:] != whi[:-1]) | (wlo[1:] != wlo[:-1])
                    starts = np.flatnonzero(
                        np.concatenate(([True], neq))
                    )  # 0-based window indices of run starts
                    ends = np.concatenate((starts[1:], [m]))  # excl.
                    sel_hi, sel_lo = whi[starts], wlo[starts]
                    fb = np.empty((len(starts), 2), dtype=">u8")
                    fb[:, 0], fb[:, 1] = sel_hi, sel_lo
                    fps = np.frombuffer(fb.tobytes(), dtype="S16")
                    ids_out.append(
                        np.full(len(starts), doc_id, dtype=object)
                    )
                    fps_out.append(fps)
                    s_out.append(starts + 1)
                    e_out.append(ends + span)  # (last 1-based pos)+span
                else:
                    fb = np.unique(
                        np.frombuffer(
                            np.ascontiguousarray(
                                np.stack((whi, wlo), axis=1)
                            ).tobytes(),
                            dtype="S16",
                        )
                    )
                    ids_out.append(np.full(len(fb), doc_id, dtype=object))
                    fps_out.append(fb)
            if not ids_out:
                continue
            out = {
                id_col: np.concatenate(ids_out),
                "fp": np.concatenate(fps_out),
            }
            if emit_runs:
                out["__s"] = np.concatenate(s_out).astype("int32")
                out["__e"] = np.concatenate(e_out).astype("int32")
            yield pd.DataFrame(out)

    # spread narrow byte-split scans across the cores before the
    # CPU-heavy per-document digest loop (no-op on cluster-wide inputs)
    from .etl import spread_narrow_scan

    src = spread_narrow_scan(df.select(id_col, text_col), id_col)
    return src.mapInPandas(gen, schema=schema)


def _winnow_runs(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Maximal runs of consecutive equal-fp winnowing windows --
    ``(id_col, fp, __s, __e)``; see :func:`_winnow_core`."""
    return _winnow_core(df, id_col, text_col, k, w, mode="runs")


def winnow_match_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    df_cap: int = 20,
) -> DataFrame:
    """Cross-document winnowing matches via an inverted index on the
    fingerprint, ubiquity-capped.

    Fingerprints held by more than ``df_cap`` documents are boilerplate
    (common code headers / stock phrases) and are dropped BEFORE the
    self-join -- the standard MOSS practice, and the whale bound that
    keeps the join's per-fingerprint fan-out at <= df_cap^2 pairs under
    any corpus (same guard as the LSH bucket cap).  Returns
    ``(a, b, n_shared)`` with a < b.
    """
    wdf = Window.partitionBy("fp")
    idx = fps.withColumn("__df", F.count(F.lit(1)).over(wdf)).where(
        F.col("__df") <= df_cap
    )
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def winnow_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    keep: str = "first",
    min_doc_freq: int = 2,
) -> DataFrame:
    """Duplicated-span REMOVAL (Lee et al. 2022-style substring dedup,
    winnowing-localized): excise from each document every character span
    covered by a winnowing window whose fingerprint appears in
    ``min_doc_freq``-or-more distinct documents.

    VERDICT r10 task #2: :func:`winnow_match_pairs` *detects* duplicated
    spans; this is the transform a curation pipeline actually runs -- the
    cleaned corpus with the duplication excised, plus bytes-removed stats.

    ``keep='first'`` preserves one canonical copy: occurrences inside the
    minimum ``id_col`` holding a fingerprint survive (per-fingerprint, so
    overlapping-but-distinct paragraphs can keep different canonicals).
    ``keep='none'`` removes every occurrence everywhere.

    Guarantee (pytest-pinned end-to-end): a shared substring of at least
    ``w + k - 1`` characters contains at least one FULL window of ``w``
    consecutive k-grams; every fully-inside window's min-gram hash is
    identical across the sharing documents, so its span is excised -- and
    the union of all fully-inside window spans covers the WHOLE shared
    substring.  Boundaries are approximate in the other direction: a
    window straddling the edge of a shared region may pick its min inside
    it and drag up to ``w + k - 2`` neighboring characters along (the
    standard winnowing-granularity tradeoff).  Intra-document repeats are
    NOT removed (doc frequency counts distinct documents).

    100 TB plan shape (optimization round 17, guide §2.4): winnowing
    windows AND their equal-fp runs are per-document functions of the
    text, so both fold into zero-shuffle array projections on the scan
    (:func:`_winnow_runs`) -- the former gram explode + doc-id exchange
    + three WindowExec passes over a near-character-count row stream are
    gone entirely; duplicated-fp detection is ONE groupBy on fp (never a
    self-join -- removal needs no pairs, unlike match detection, so no
    df_cap is needed and ubiquitous boilerplate is REMOVED rather than
    whale-capped); span coverage is an interval-merge fold over each
    document's collected spans (one groupBy on the id), never a
    per-character frame; the only per-character work is the in-row gram
    hash array.

    Returns ``(id_col, clean_text, orig_len, kept_len, removed_chars,
    n_spans)`` -- one row per input document, untouched documents pass
    through with ``removed_chars = 0``.
    """
    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")

    runs = _winnow_runs(df, id_col, text_col, k, w)
    # pin: runs feeds BOTH the duplicated-fp groupBy and the fp join
    # below -- without it the per-character gram-hash arrays are
    # recomputed per consumer (the corpus must be scanned ~2x, not 4x).
    # Deterministic frame, so this is purely a recompute guard.
    runs = pin_frame(runs)

    # duplicated fingerprints + their canonical keeper (min id); a plain
    # fp groupBy -- no pair join, no cap needed at any corpus size
    dup = (
        runs.select(id_col, "fp")
        .distinct()
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("__docs"),
            F.min(id_col).alias("__keeper"),
        )
        .where(F.col("__docs") >= min_doc_freq)
    )
    rem = runs.join(dup, "fp")
    if keep == "first":
        rem = rem.where(F.col(id_col) != F.col("__keeper"))

    # interval-merge fold over each document's collected removal spans:
    # ONE groupBy(id) replaces the former 3-leg event union, grouped
    # difference-array cumsum, and two more window passes (guide §2.4 --
    # 3 exchanges + 2 WindowExec became 1 exchange).  Spans merge when
    # overlapping OR adjacent (x.s <= prev.e + 1), exactly the positions
    # where the old +1/-1 events cancelled and coverage never returned
    # to zero; kept segments are the gaps plus the unbounded tail, the
    # same (s, nxt-or-null) intervals the event walk emitted.
    merged_sql = (
        "aggregate(__sp, cast(array() as array<struct<s: int, e: int>>), "
        "(acc, x) -> CASE WHEN size(acc) = 0 "
        "OR x.s > element_at(acc, -1).e + 1 THEN concat(acc, array(x)) "
        "ELSE concat(slice(acc, 1, size(acc) - 1), array(named_struct("
        "'s', element_at(acc, -1).s, "
        "'e', greatest(element_at(acc, -1).e, x.e)))) END)"
    )
    ivs_sql = (
        "concat("
        "CASE WHEN element_at(__mg, 1).s > 1 THEN "
        "array(named_struct('s', 1, 'e', element_at(__mg, 1).s)) "
        "ELSE cast(array() as array<struct<s: int, e: int>>) END, "
        "transform(sequence(1, size(__mg)), i -> named_struct("
        "'s', element_at(__mg, i).e + 1, "
        "'e', if(i < size(__mg), element_at(__mg, i + 1).s, "
        "cast(null as int)))))"
    )
    segs = (
        rem.groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("__s").alias("s"), F.col("__e").alias("e"))
                )
            ).alias("__sp")
        )
        .withColumn("__mg", F.expr(merged_sql))
        .select(
            id_col,
            F.expr(ivs_sql).alias("__ivs"),
            F.size("__mg").alias("__nspans"),
        )
    )

    out = df.join(segs, id_col, "left")
    clean = F.when(F.col("__ivs").isNull(), F.col(text_col)).otherwise(
        F.expr(
            f"array_join(transform(__ivs, iv -> substring({text_col}, iv.s, "
            f"coalesce(iv.e - 1, length({text_col})) - iv.s + 1)), '')"
        )
    )
    return out.select(
        id_col,
        clean.alias("clean_text"),
        F.length(text_col).cast("long").alias("orig_len"),
        F.length(clean).cast("long").alias("kept_len"),
        (F.length(text_col) - F.length(clean)).cast("long").alias(
            "removed_chars"
        ),
        F.coalesce(F.col("__nspans"), F.lit(0)).cast("long").alias("n_spans"),
    )
