"""Round-7 queries, part two: leakage/drift audits, bitemporal and CDC ops (a151-a156, c57-c59).

Split out of ``round7.py`` in round 10 (VERDICT r9 task #7: no module over
1500 LoC); the parent module imports this one and merges ``QUERIES`` so
the global registry order is unchanged (the cut is a contiguous suffix).

Float rule: see the parent module docstring (shared repo convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame
from . import QuerySpec
from ._util import dsum, load_table

QUERIES: dict[str, QuerySpec] = {}

_DEC = "decimal(28,9)"

# ---------------------------------------------------------------------------
# a151 -- train/test split leakage: after the production md5 hash split
# (c11's bucketing, not a modulo), how much test data leaks from train?
# Two signals: exact text-digest collisions and shared long (8-token)
# n-grams -- the near-verbatim overlap a contamination scan looks for.
# Gram frames are doc-distinct shingles; both membership probes are
# left_semi equi-joins on gram/digest, never row pairs.
# ---------------------------------------------------------------------------

_A151_N = 8


def a151_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles
    from ..operators.split import hash_split

    d = load_table(spark, sf_dir, "documents")
    # the split frame feeds 5 consumers and the 8-gram explode feeds 2 --
    # checkpoint both so the scan+md5 and the shingle Generate run once
    # (the a118/distributed_ntile shared-frame discipline)
    s = pin_frame(hash_split(d, {"train": 0.9, "test": 0.1}))
    dig = s.select("doc_id", "split", F.md5("text").alias("dg"))
    tr_dg = dig.where(F.col("split") == "train").select("dg").distinct()
    te_dg = dig.where(F.col("split") == "test")
    exact = (
        te_dg.join(tr_dg, "dg", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_test_exact_dup"))
    )
    sh = shingles(s, "doc_id", "text", _A151_N)
    sh = pin_frame(sh.join(s.select("doc_id", "split"), "doc_id"))
    tr_g = sh.where(F.col("split") == "train").select("gram").distinct()
    te_hit = (
        sh.where(F.col("split") == "test")
        .join(tr_g, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_test_gram_hit"))
    )
    counts = s.groupBy().agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "n_train"
        ),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias(
            "n_test"
        ),
    )
    return (
        counts.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(te_hit))
        .select(
            "n_train",
            "n_test",
            "n_test_exact_dup",
            "n_test_gram_hit",
            F.round(F.col("n_test_gram_hit") / F.col("n_test"), 6).alias(
                "gram_leak_rate"
            ),
        )
    )


_A151_NIB = (
    "(CASE WHEN ascii(substr(hh,{i},1)) >= 97 THEN ascii(substr(hh,{i},1))-87 "
    "ELSE ascii(substr(hh,{i},1))-48 END)"
)

A151_SQL = f"""
WITH h AS (
  SELECT doc_id, text,
         md5('split|' || CAST(doc_id AS VARCHAR)) AS hh
  FROM documents
), s AS (
  SELECT doc_id, text,
         CASE WHEN {_A151_NIB.format(i=1)} * 16 + {_A151_NIB.format(i=2)}
                   < 230.4
              THEN 'train' ELSE 'test' END AS split
  FROM h
), dig AS (
  SELECT doc_id, split, md5(text) AS dg FROM s
), exact AS (
  SELECT count(*) AS n_test_exact_dup
  FROM dig t
  WHERE split = 'test'
    AND dg IN (SELECT dg FROM dig WHERE split = 'train')
), grams AS (
  SELECT doc_id, split, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(t) - {_A151_N - 1}, 1)),
                   i -> array_to_string(t[i:i+{_A151_N - 1}], ' ')))) AS gram
  FROM (SELECT doc_id, split, string_split(text, ' ') AS t FROM s)
), te_hit AS (
  SELECT count(DISTINCT g.doc_id) AS n_test_gram_hit
  FROM grams g
  WHERE g.split = 'test'
    AND g.gram IN (SELECT gram FROM grams WHERE split = 'train')
), counts AS (
  SELECT sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
         sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
  FROM s
)
SELECT n_train, n_test, n_test_exact_dup, n_test_gram_hit,
       round(CAST(n_test_gram_hit AS DOUBLE) / n_test, 6) AS gram_leak_rate
FROM counts CROSS JOIN exact CROSS JOIN te_hit
"""

QUERIES["a151_split_leakage"] = QuerySpec(a151_split_leakage, A151_SQL)


# ---------------------------------------------------------------------------
# a152 -- per-source unigram KL drift vs the corpus: Laplace-smoothed
# KL(P_source || Q_corpus) over the min_freq>=2 vocabulary, WITHOUT
# materializing |vocab| x |sources| rows.  The trick: missing tokens
# share ONE smoothed probability p0 per source, so their contribution is
# p0 * ((V - V_s) * ln(p0) - (L_all - L_s)) where L_all / L_s are
# (corpus / present-token) sums of round(ln q, 9) -- everything reduces
# to per-source aggregates plus one corpus-constant frame.
# ---------------------------------------------------------------------------


def a152_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
    )
    corpus = vocab.agg(
        F.sum("c").alias("n_corpus"), F.count(F.lit(1)).alias("v")
    )
    vq = vocab.crossJoin(F.broadcast(corpus)).select(
        "tok",
        F.round(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("n_corpus") + F.col("v")).cast("double")
            ),
            9,
        ).alias("lnq"),
    )
    l_all = vq.agg(
        F.sum(F.col("lnq").cast(_DEC)).cast("double").alias("l_all")
    )
    st = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cs"))
        .join(vq, "tok")  # vocab membership + ln q in one equi-join
    )
    totals = st.groupBy("source").agg(
        F.sum("cs").alias("n_s"), F.count(F.lit(1)).alias("v_s")
    )
    terms = st.join(F.broadcast(totals), "source").crossJoin(
        F.broadcast(corpus)
    )
    p_s = (F.col("cs") + 1).cast("double") / (
        F.col("n_s") + F.col("v")
    ).cast("double")
    present = terms.groupBy("source").agg(
        F.sum(
            F.round(p_s * (F.log(p_s) - F.col("lnq")), 9).cast(_DEC)
        )
        .cast("double")
        .alias("present_sum"),
        F.sum(F.col("lnq").cast(_DEC)).cast("double").alias("l_s"),
    )
    out = (
        totals.join(present, "source")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(l_all))
    )
    p0 = F.lit(1.0) / (F.col("n_s") + F.col("v")).cast("double")
    missing = p0 * (
        (F.col("v") - F.col("v_s")).cast("double") * F.log(p0)
        - (F.col("l_all") - F.col("l_s"))
    )
    return out.select(
        "source",
        F.col("n_s").alias("n_tokens"),
        F.col("v_s").alias("vocab_used"),
        F.round(F.col("present_sum") + missing, 6).alias("kl_vs_corpus"),
    )


A152_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), toks2 AS (
  SELECT source, tok FROM toks WHERE tok <> ''
), vocab AS (
  SELECT tok, count(*) AS c FROM toks2 GROUP BY 1 HAVING count(*) >= 2
), corpus AS (
  SELECT sum(c) AS n_corpus, count(*) AS v FROM vocab
), vq AS (
  SELECT tok,
         round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_corpus + v AS DOUBLE)), 9)
           AS lnq
  FROM vocab CROSS JOIN corpus
), l_all AS (
  SELECT CAST(sum(CAST(lnq AS DECIMAL(28,9))) AS DOUBLE) AS l_all FROM vq
), st AS (
  SELECT t.source, t.tok, count(*) AS cs
  FROM toks2 t JOIN vocab USING (tok)
  GROUP BY 1, 2
), st2 AS (
  SELECT st.source, st.cs, vq.lnq FROM st JOIN vq USING (tok)
), totals AS (
  SELECT source, sum(cs) AS n_s, count(*) AS v_s FROM st2 GROUP BY 1
), present AS (
  SELECT s.source,
         CAST(sum(CAST(round(
             (CAST(s.cs + 1 AS DOUBLE) / CAST(t.n_s + c.v AS DOUBLE))
             * (ln(CAST(s.cs + 1 AS DOUBLE) / CAST(t.n_s + c.v AS DOUBLE))
                - s.lnq), 9) AS DECIMAL(28,9))) AS DOUBLE) AS present_sum,
         CAST(sum(CAST(s.lnq AS DECIMAL(28,9))) AS DOUBLE) AS l_s
  FROM st2 s JOIN totals t USING (source) CROSS JOIN corpus c
  GROUP BY 1
)
SELECT t.source, t.n_s AS n_tokens, t.v_s AS vocab_used,
       round(p.present_sum
             + (1.0 / CAST(t.n_s + c.v AS DOUBLE))
               * (CAST(c.v - t.v_s AS DOUBLE)
                  * ln(1.0 / CAST(t.n_s + c.v AS DOUBLE))
                  - (la.l_all - p.l_s)), 6) AS kl_vs_corpus
FROM totals t
JOIN present p USING (source)
CROSS JOIN corpus c CROSS JOIN l_all la
"""

QUERIES["a152_source_kl_drift"] = QuerySpec(a152_source_kl_drift, A152_SQL)


# ---------------------------------------------------------------------------
# c57 -- bitemporal as-of lookup: "as KNOWN at T0, what version was VALID
# at V0" over a two-time-dimension version table (transaction time =
# record date, valid time = backdated effective date).  One filter + one
# customer-keyed argmax window -- the standard bitemporal point lookup,
# reconstructible for ANY (T0, V0) pair without mutating history.
# ---------------------------------------------------------------------------

_C57_T0 = "1997-06-30"  # as-known-at (transaction-time cutoff)
_C57_V0 = "1997-05-31"  # valid-at (effective-date cutoff)


def c57_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    versions = o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.to_date("o_orderdate").alias("tx_date"),
        F.date_sub(
            F.to_date("o_orderdate"), (F.col("o_orderkey") % 30).cast("int")
        ).alias("valid_from"),
    )
    eligible = versions.where(
        (F.col("tx_date") <= F.lit(_C57_T0))
        & (F.col("valid_from") <= F.lit(_C57_V0))
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("valid_from").desc(), F.col("o_orderkey").desc()
    )
    return (
        eligible.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("version_key"),
            F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
            "o_totalprice",
        )
    )


C57_SQL = f"""
WITH versions AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(o_orderdate AS DATE) AS tx_date,
         CAST(o_orderdate AS DATE) - CAST(o_orderkey % 30 AS INTEGER)
           AS valid_from
  FROM orders
), eligible AS (
  SELECT * FROM versions
  WHERE tx_date <= DATE '{_C57_T0}' AND valid_from <= DATE '{_C57_V0}'
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY valid_from DESC,
                               o_orderkey DESC) AS rn
  FROM eligible
)
SELECT o_custkey, o_orderkey AS version_key,
       strftime(valid_from, '%Y-%m-%d') AS valid_from, o_totalprice
FROM ranked WHERE rn = 1
"""

QUERIES["c57_bitemporal_asof"] = QuerySpec(c57_bitemporal_asof, C57_SQL)


# ---------------------------------------------------------------------------
# a153 -- corpus distinct-n diversity: distinct / total n-gram ratios at
# n = 1, 2, 3 (the standard generation-diversity metrics).  One explode +
# one exact-distinct aggregate per n over the whole corpus.
# ---------------------------------------------------------------------------


def a153_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import word_ngrams

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    parts = []
    for n in (1, 2, 3):
        g = d.select(
            F.explode(word_ngrams(toks, n)).alias("gram")
        )
        parts.append(
            g.agg(
                F.lit(n).alias("n"),
                F.count(F.lit(1)).alias("total_grams"),
                F.countDistinct("gram").alias("distinct_grams"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "n",
        "total_grams",
        "distinct_grams",
        F.round(
            F.col("distinct_grams") / F.col("total_grams"), 6
        ).alias("distinct_ratio"),
    )


def _a153_cte(n: int) -> str:
    return f"""
  SELECT {n} AS n, count(*) AS total_grams,
         count(DISTINCT gram) AS distinct_grams
  FROM (
    SELECT unnest(list_transform(
      generate_series(1, greatest(len(t) - {n - 1}, 1)),
      i -> array_to_string(t[i:i+{n - 1}], ' '))) AS gram
    FROM (SELECT string_split(text, ' ') AS t FROM documents)
  )"""


A153_SQL = f"""
WITH u AS (
{_a153_cte(1)}
  UNION ALL
{_a153_cte(2)}
  UNION ALL
{_a153_cte(3)}
)
SELECT n, total_grams, distinct_grams,
       round(CAST(distinct_grams AS DOUBLE) / total_grams, 6)
         AS distinct_ratio
FROM u
"""

QUERIES["a153_distinct_ngram_diversity"] = QuerySpec(
    a153_distinct_ngram_diversity, A153_SQL
)


# ---------------------------------------------------------------------------
# a154 -- int8 scalar-quantization error: per-dimension min/max ranges
# (the 64-row frame broadcasts), 256-level floor bucketing with midpoint
# reconstruction, per-label MSE + max squared error.  floor() (not
# round(): Spark rounds half-up, DuckDB half-even) keeps the bucket
# assignment bit-identical across engines.
# ---------------------------------------------------------------------------


def a154_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    dims = em.select(
        "label", F.posexplode("embedding").alias("dim", "v0")
    ).select("label", "dim", F.col("v0").cast("double").alias("x"))
    mm = dims.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    j = dims.join(F.broadcast(mm), "dim")
    width = F.col("hi") - F.col("lo")
    q = F.when(width == 0, F.lit(0)).otherwise(
        F.least(
            F.lit(255),
            F.floor((F.col("x") - F.col("lo")) / width * 256).cast("int"),
        )
    )
    deq = F.when(width == 0, F.col("lo")).otherwise(
        F.col("lo") + (q.cast("double") + 0.5) * width / 256
    )
    err = F.round((F.col("x") - deq) * (F.col("x") - deq), 9)
    return (
        j.select("label", err.alias("e"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(
                F.sum(F.col("e").cast(_DEC)).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mse"),
            F.round(F.max("e"), 9).alias("max_sq_err"),
        )
    )


A154_SQL = """
WITH dims AS (
  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), mm AS (
  SELECT dim, min(x) AS lo, max(x) AS hi FROM dims GROUP BY dim
), e AS (
  SELECT label,
         round((x - CASE WHEN hi = lo THEN lo
                         ELSE lo + (least(255, CAST(floor((x - lo)
                                / (hi - lo) * 256) AS INTEGER)) + 0.5)
                              * (hi - lo) / 256 END)
               * (x - CASE WHEN hi = lo THEN lo
                           ELSE lo + (least(255, CAST(floor((x - lo)
                                  / (hi - lo) * 256) AS INTEGER)) + 0.5)
                                * (hi - lo) / 256 END), 9) AS e
  FROM dims JOIN mm USING (dim)
)
SELECT label, count(*) AS n_values,
       round(CAST(sum(CAST(e AS DECIMAL(28,9))) AS DOUBLE) / count(*), 9)
         AS mse,
       round(max(e), 9) AS max_sq_err
FROM e GROUP BY label
"""

QUERIES["a154_quantization_error"] = QuerySpec(
    a154_quantization_error, A154_SQL
)


# ---------------------------------------------------------------------------
# c58 -- partition retention/expiry plan: day partitions of orders under
# a "keep the last 90 days; keep first-of-month snapshots; expire the
# rest" policy.  One day-grain aggregate + a broadcast 1-row max-day
# frame -- the plan a table-maintenance service executes.
# ---------------------------------------------------------------------------

_C58_KEEP_DAYS = 90


def c58_retention_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import day_str

    o = load_table(spark, sf_dir, "orders")
    days = o.groupBy(day_str("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    anchor = days.agg(F.max("day").alias("max_day"))
    j = days.crossJoin(F.broadcast(anchor))
    recent = F.to_date("day", "yyyyMMdd") >= F.date_sub(
        F.to_date("max_day", "yyyyMMdd"), _C58_KEEP_DAYS
    )
    monthly = F.substring("day", 7, 2) == "01"
    action = (
        F.when(recent, F.lit("keep_recent"))
        .when(monthly, F.lit("keep_monthly"))
        .otherwise(F.lit("expire"))
    )
    return j.select("day", "n_rows", action.alias("action"))


C58_SQL = f"""
WITH days AS (
  SELECT strftime(o_orderdate, '%Y%m%d') AS day, count(*) AS n_rows
  FROM orders GROUP BY 1
), anchor AS (
  SELECT max(day) AS max_day FROM days
)
SELECT day, n_rows,
       CASE WHEN strptime(day, '%Y%m%d') >= strptime(max_day, '%Y%m%d')
                 - INTERVAL {_C58_KEEP_DAYS} DAY THEN 'keep_recent'
            WHEN substr(day, 7, 2) = '01' THEN 'keep_monthly'
            ELSE 'expire' END AS action
FROM days CROSS JOIN anchor
"""

QUERIES["c58_retention_expiry"] = QuerySpec(c58_retention_expiry, C58_SQL)


# ---------------------------------------------------------------------------
# a155 -- deterministic weighted Bernoulli sample: each doc kept with
# probability equal to its quality score, decided by a salted md5
# threshold (no RNG state, reproducible on any cluster layout, ~2e-10
# rate resolution).  Report realized vs expected keep rate per language.
# ---------------------------------------------------------------------------

_A155_SALT = "wsample"
_A155_SCALE = 4294967296.0  # 2^32: _u32's range


def a155_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.split import _u32

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    score = (
        F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
    )
    scored = d.select("doc_id", "lang", score.alias("w"))
    kept = _u32(F.col("doc_id"), _A155_SALT) < F.floor(
        F.col("w") * _A155_SCALE
    ).cast("bigint")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("int")).alias("n_sampled"),
        F.round(
            F.sum(kept.cast("int")) / F.count(F.lit(1)), 6
        ).alias("realized_rate"),
        F.round(
            F.sum(F.round("w", 9).cast(_DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("expected_rate"),
    )


A155_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS w
  FROM documents
), flagged AS (
  SELECT lang, w,
         CASE WHEN CAST(('0x' || substr(md5('{_A155_SALT}|'
                    || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   < CAST(floor(w * {_A155_SCALE}) AS BIGINT)
              THEN 1 ELSE 0 END AS kept
  FROM scored
)
SELECT lang, count(*) AS n_docs, sum(kept) AS n_sampled,
       round(CAST(sum(kept) AS DOUBLE) / count(*), 6) AS realized_rate,
       round(CAST(sum(CAST(round(w, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS expected_rate
FROM flagged GROUP BY lang
"""

QUERIES["a155_weighted_sample"] = QuerySpec(a155_weighted_sample, A155_SQL)


# ---------------------------------------------------------------------------
# a156 -- bigram conditional entropy per language: H(next | cur) =
# -sum p(cur,next) ln(c(cur,next) / c(cur)), the text-predictability
# rung between a110's char entropy and a137's trigram LM.  Bigram and
# marginal counts share the (lang, cur) key prefix, so the conditional
# join co-locates with the count exchange.
# ---------------------------------------------------------------------------


def a156_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import word_ngrams

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bi = (
        d.select("lang", F.explode(word_ngrams(toks, 2)).alias("gram"))
        .where(F.col("gram").contains(" "))  # drop short-doc partials
        .select(
            "lang",
            F.substring_index("gram", " ", 1).alias("cur"),
            F.substring_index("gram", " ", -1).alias("nxt"),
        )
    )
    pair = bi.groupBy("lang", "cur", "nxt").agg(
        F.count(F.lit(1)).alias("c2")
    )
    marg = pair.groupBy("lang", "cur").agg(F.sum("c2").alias("c1"))
    tot = pair.groupBy("lang").agg(F.sum("c2").alias("n"))
    terms = pair.join(marg, ["lang", "cur"]).join(F.broadcast(tot), "lang")
    term = F.round(
        (F.col("c2").cast("double") / F.col("n"))
        * F.log(F.col("c2").cast("double") / F.col("c1")),
        9,
    )
    return (
        terms.groupBy("lang")
        .agg(
            F.max("n").alias("n_bigrams"),
            (-F.sum(term.cast(_DEC)).cast("double")).alias("__h"),
        )
        .select(
            "lang",
            "n_bigrams",
            F.round("__h", 6).alias("h_cond"),
            F.round(F.exp("__h"), 6).alias("perplexity"),
        )
    )


A156_SQL = """
WITH toks AS (
  SELECT lang, string_split(text, ' ') AS t FROM documents
), bi AS (
  SELECT lang,
         string_split(gram, ' ')[1] AS cur,
         string_split(gram, ' ')[-1] AS nxt
  FROM (
    SELECT lang, unnest(list_transform(
      generate_series(1, greatest(len(t) - 1, 1)),
      i -> array_to_string(t[i:i+1], ' '))) AS gram
    FROM toks
  )
  WHERE contains(gram, ' ')
), pair AS (
  SELECT lang, cur, nxt, count(*) AS c2 FROM bi GROUP BY 1, 2, 3
), marg AS (
  SELECT lang, cur, sum(c2) AS c1 FROM pair GROUP BY 1, 2
), tot AS (
  SELECT lang, sum(c2) AS n FROM pair GROUP BY 1
), terms AS (
  SELECT p.lang,
         round((CAST(p.c2 AS DOUBLE) / t.n)
               * ln(CAST(p.c2 AS DOUBLE) / m.c1), 9) AS term,
         t.n
  FROM pair p
  JOIN marg m ON p.lang = m.lang AND p.cur = m.cur
  JOIN tot t ON p.lang = t.lang
)
SELECT lang, max(n) AS n_bigrams,
       round(-CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
         AS h_cond,
       round(exp(-CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE)), 6)
         AS perplexity
FROM terms GROUP BY lang
"""

QUERIES["a156_bigram_cond_entropy"] = QuerySpec(
    a156_bigram_cond_entropy, A156_SQL
)


# ---------------------------------------------------------------------------
# c59 -- CDC replay idempotence audit: applying the SAME change batch
# twice must land on the SAME state (the at-least-once delivery
# invariant behind every foreachBatch merge sink).  Both applications
# run through operators/diff.apply_cdc; states compare by the
# order-independent XOR-of-row-digests checksum (c56's primitive).
# ---------------------------------------------------------------------------


def c59_cdc_replay_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import apply_cdc
    from .round6 import _row_digest

    o = load_table(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") + 1)
        .cast("double")
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    s1 = apply_cdc(base, changes, "o_orderkey")
    s2 = apply_cdc(s1, changes, "o_orderkey")

    def cs(df):
        return df.agg(
            F.bit_xor(
                _row_digest(
                    [
                        F.col("o_orderkey").cast("string"),
                        F.col("o_orderstatus"),
                        F.col("o_totalprice").cast("decimal(18,2)").cast(
                            "string"
                        ),
                    ]
                )
            ).alias("checksum"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    a = cs(s1).select(
        F.col("checksum").alias("checksum_once"),
        F.col("n_rows").alias("rows_once"),
    )
    b = cs(s2).select(
        F.col("checksum").alias("checksum_twice"),
        F.col("n_rows").alias("rows_twice"),
    )
    return a.crossJoin(F.broadcast(b)).select(
        "rows_once",
        "rows_twice",
        "checksum_once",
        (F.col("checksum_once") == F.col("checksum_twice")).alias(
            "idempotent"
        ),
        (F.col("rows_once") == F.col("rows_twice")).alias("counts_match"),
    )


C59_SQL = """
WITH state AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 3 != 0
  UNION ALL
  SELECT o_orderkey, 'X' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DOUBLE)
           AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 != 0
), cs AS (
  SELECT bit_xor(CAST(('0x' || substr(md5(concat_ws('|',
           coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'NULL'),
           coalesce(o_orderstatus, chr(0) || 'NULL'),
           coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                    chr(0) || 'NULL'))), 1, 8)) AS BIGINT)) AS checksum,
         count(*) AS n_rows
  FROM state
)
SELECT n_rows AS rows_once, n_rows AS rows_twice,
       checksum AS checksum_once,
       TRUE AS idempotent, TRUE AS counts_match
FROM cs
"""

QUERIES["c59_cdc_replay_idempotence"] = QuerySpec(
    c59_cdc_replay_idempotence, C59_SQL
)
