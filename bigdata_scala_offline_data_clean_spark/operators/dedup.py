"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB shape: every algorithm is shuffle-bounded by
*buckets* (hash digests, LSH bands, shared shingles), never by all-pairs
comparison.  Hash functions are md5-based so the DuckDB oracle reproduces
identical values; on a production cluster swap ``_hash`` for ``xxhash64``
(cheaper, JVM-intrinsic) -- the plan shape is unchanged.

Pipeline:  shingle -> signature (ONE groupBy, k min-aggregates -- no k-times
row blowup) -> band -> bucket-join -> verified Jaccard on candidates only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ordering import pin_frame


def _hash(seed: int, col: Column) -> Column:
    """Portable keyed hash: md5 over the seeded value (hex strings order
    like 128-bit integers, so MIN() is a valid min-hash)."""
    return F.md5(F.concat(F.lit(f"{seed}|"), col))


_MH_MOD = 1 << 32  # universal-hash modulus (base hash is 32-bit)


def _mh_consts(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th universal hash h_i = (a*h + b) % 2^32.

    ``a`` is odd and capped at 31 bits so ``a * h + b < 2^63`` -- no bigint
    overflow under ANSI arithmetic in either engine.  Knuth/Murmur golden
    constants scatter the family; the exact values only need to be stable
    and replicated in the DuckDB oracles.
    """
    a = ((0x9E3779B1 * (2 * i + 1)) & 0x7FFFFFFF) | 1
    b = (0x85EBCA77 * (i + 1)) & 0xFFFFFFFF
    return a, b


def _mh_base(col: Column) -> Column:
    """32-bit integer base hash of a gram: first 8 hex chars of its md5.

    Oracle twin: ``CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical texts by digest: one shuffle on the 16-byte digest,
    never on the document body."""
    return (
        df.select(id_col, F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("rep_doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative row (smallest id) per distinct text."""
    from .etl import dedup_latest

    with_hash = df.withColumn("__h", F.md5(F.col(text_col)))
    # keep the smallest id: order by id asc == negate desc ordering
    w = with_hash.withColumn("__neg", -F.col(id_col))
    return dedup_latest(w, "__h", "__neg").drop("__h", "__neg")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def gram_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, ``__grams``) DISTINCT word n-gram ARRAY per document -- the
    pre-explode form of :func:`shingles` (round 18: one definition of
    the gram construction so the exploded and array-based Jaccard
    verifies can never diverge).

    Gram construction: ``text.word_ngrams`` (chained ``zip_with``, ~2x
    faster than the transform+slice form; identical output order).
    """
    from .etl import spread_narrow_scan
    from .text import word_ngrams

    toks = F.split(F.col(text_col), " ")
    return spread_narrow_scan(df, id_col).select(
        id_col, F.array_distinct(word_ngrams(toks, n)).alias("__grams")
    )


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, gram) rows.

    The two-step select materializes the array before exploding it,
    keeping the O(tokens) gram construction out of the Generate's
    per-output-row projection (inlined, it re-evaluates per gram ->
    O(tokens^2) per doc); the scan is spread before the ~50x explode.
    """
    return gram_arrays(df, id_col, text_col, n).select(
        id_col, F.explode("__grams").alias("gram")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 32
) -> DataFrame:
    """MinHash signature per document from a (id, gram) shingle frame.

    ONE groupBy with ``num_hashes`` min-aggregates -- the shuffle moves each
    shingle row once, not ``num_hashes`` times (the naive seed-explode
    multiplies shuffle volume 16x).  Each gram is md5'd ONCE; the
    ``num_hashes`` functions are an integer universal-hash family over
    that 32-bit base (``(a_i*h + b_i) % 2^32``) -- measured ~16x less
    digest work than the seeded-md5-per-function form, and the min-agg
    state is a bigint instead of a 32-char hex string.
    """
    h = F.col("__h")
    aggs = []
    for i in range(num_hashes):
        a, b = _mh_consts(i)
        aggs.append(
            F.min((F.lit(a) * h + F.lit(b)) % F.lit(_MH_MOD)).alias(f"mh_{i}")
        )
    return (
        sh.withColumn("__h", _mh_base(F.col("gram")))
        .groupBy(id_col)
        .agg(*aggs)
    )


def lsh_bands(
    sigs: DataFrame, id_col: str = "doc_id", num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """Fold a signature into ``bands`` bucket keys: (id, band_id, band_sig).

    Docs agreeing on ALL rows of any band land in the same bucket;
    P(candidate) = 1-(1-j^r)^b for Jaccard j, r = num_hashes/bands.
    """
    rows = num_hashes // bands
    pieces = []
    for b in range(bands):
        sig = F.md5(
            F.concat_ws("|", *[F.col(f"mh_{b * rows + i}") for i in range(rows)])
        )
        pieces.append(F.struct(F.lit(b).alias("band_id"), sig.alias("band_sig")))
    return sigs.select(
        id_col, F.explode(F.array(*pieces)).alias("band")
    ).select(id_col, "band.band_id", "band.band_sig")


def candidate_pairs(
    bands_df: DataFrame, id_col: str = "doc_id", max_bucket: int | None = None
) -> DataFrame:
    """Distinct (a, b) a<b pairs sharing any LSH bucket -- the bucket join.

    Shuffles on (band_id, band_sig); bucket sizes are the skew knob.  AQE
    skew-split handles moderate cases; ``max_bucket`` is the guard for
    pathological ones (boilerplate-heavy corpora where one bucket holds a
    million near-identical docs and the self-join goes quadratic): buckets
    larger than the cap are dropped from candidate generation -- their
    content is better handled by exact dedup on the full signature.  The
    cap costs one extra aggregation over the (small) bands frame.
    """
    if max_bucket is not None:
        sizes = bands_df.groupBy("band_id", "band_sig").agg(
            F.count(F.lit(1)).alias("__bucket_n")
        )
        bands_df = (
            bands_df.join(sizes, ["band_id", "band_sig"])
            .where(F.col("__bucket_n") <= max_bucket)
            .drop("__bucket_n")
        )
    left = bands_df.select(
        F.col(id_col).alias("a"), "band_id", "band_sig"
    )
    right = bands_df.select(
        F.col(id_col).alias("b"), "band_id", "band_sig"
    )
    return (
        left.join(right, ["band_id", "band_sig"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verify_arrays(
    pairs: DataFrame, garr: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate pairs from per-doc DISTINCT-gram
    ARRAYS: ``size(array_intersect)`` per pair, no gram explode and no
    count aggregate (round 18, guide §2.3).

    :func:`jaccard_verify` joins the EXPLODED gram frame twice and
    re-aggregates the matches -- every pair's grams cross an exchange as
    individual rows, plus a separate per-doc count pass.  Here ``garr``
    is the pre-explode frame (``id_col``, ``__grams`` distinct array):
    the same bytes attach to each pair ONCE as one array cell, the
    intersection is a hash-set walk inside codegen, and the union count
    is plain arithmetic over the two array sizes.  Bit-identical
    jaccard: both sides are distinct arrays, so
    ``size(array_intersect)`` equals the exploded join's match count,
    and the int/int -> double division is the same expression.
    """
    ga = garr.select(F.col(id_col).alias("a"), F.col("__grams").alias("__ga"))
    gb = garr.select(F.col(id_col).alias("b"), F.col("__grams").alias("__gb"))
    inter = F.size(F.array_intersect("__ga", "__gb"))
    return (
        pairs.join(ga, "a")
        .join(gb, "b")
        .select(
            "a",
            "b",
            (
                inter
                / (F.size("__ga") + F.size("__gb") - inter)
            ).alias("jaccard"),
        )
    )


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate pairs only (never all-pairs).

    intersection via gram join restricted to candidates; union from per-doc
    distinct-gram counts.  Output: (a, b, jaccard) with exact int/int
    division -> bit-identical double across engines.

    Kept beside :func:`jaccard_verify_arrays` for callers that already
    hold the exploded gram frame: on a104 the array verify's second
    tokenize pass lost a back-to-back A/B (3.91 s vs 4.36 s, round 18).
    """
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    sa = sh.select(F.col(id_col).alias("a"), "gram")
    sb = sh.select(F.col(id_col).alias("b"), "gram")
    inter = (
        pairs.join(sa, "a").join(sb, ["b", "gram"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("a"), F.col("n_grams").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("b"), F.col("n_grams").alias("n_b"))
    return (
        inter.join(ca, "a").join(cb, "b")
        .select(
            "a",
            "b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def ingest_neardup_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.4,
) -> DataFrame:
    """Daily-ingest NEAR-dup gate: status per incoming doc vs the corpus.

    The MinHash/LSH sibling of ``incremental_ingest_dedup`` (exact
    digests): an incoming doc is 'dropped' when it lands in an LSH bucket
    with a corpus doc AND the exact Jaccard of that candidate pair clears
    ``threshold``; otherwise 'kept'.  Output: (id, status, match_id) where
    match_id is the smallest matching corpus id (NULL when kept).

    Scale: the corpus side is represented by its band table -- (id,
    band_id, band_sig), ``bands`` rows per doc, a persistable index the
    ingest job reads instead of re-hashing 100 TB of history.  The
    bucket join shuffles band keys only; verification joins shingles for
    candidate pairs only.  Within-batch duplicates are out of scope here
    (that is ``minhash_dedup_pairs`` over the batch).

    Each shingle frame feeds two consumers (signature aggregation and the
    Jaccard verify), so both are persisted for the run -- same lifecycle
    pattern as ``minhash_dedup_pairs``.
    """
    # Round 18 (same rewrite as minhash_dedup_pairs, guide §2.3/§8):
    # band rows from the fused zero-shuffle Arrow pass -- the gram
    # stream never leaves the worker -- and the exact verify
    # re-tokenizes ONLY candidate-pair documents per side.
    bands_new = _minhash_bands_py(
        new_df, id_col, text_col, shingle_n, num_hashes, bands
    )
    bands_corpus = _minhash_bands_py(
        corpus_df, id_col, text_col, shingle_n, num_hashes, bands
    )
    cands = pin_frame(  # feeds the verify AND both candidate-id semis
        bands_corpus.select(F.col(id_col).alias("a"), "band_id", "band_sig")
        .join(
            bands_new.select(F.col(id_col).alias("b"), "band_id", "band_sig"),
            ["band_id", "band_sig"],
        )
        .select("a", "b")
        .distinct()
    )
    garr = gram_arrays(
        corpus_df.join(
            cands.select(F.col("a").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        ),
        id_col,
        text_col,
        shingle_n,
    ).unionByName(
        gram_arrays(
            new_df.join(
                cands.select(F.col("b").alias(id_col)).distinct(),
                id_col,
                "left_semi",
            ),
            id_col,
            text_col,
            shingle_n,
        )
    )
    verified = jaccard_verify_arrays(cands, garr, id_col)
    matches = (
        verified.where(F.col("jaccard") >= threshold)
        .groupBy("b")
        .agg(F.min("a").alias("match_id"))
    )
    return new_df.select(id_col).join(
        matches.withColumnRenamed("b", id_col), id_col, "left"
    ).select(
        id_col,
        F.when(F.col("match_id").isNull(), F.lit("kept"))
        .otherwise(F.lit("dropped"))
        .alias("status"),
        "match_id",
    )


def _minhash_bands_py(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Fused per-document MinHash band rows in ONE Arrow pass
    (optimization round 17, guide §2.4 + §4.2): shingle set -> 32-bit
    base hashes -> ``num_hashes`` universal-hash minima (one vectorized
    numpy broadcast per document) -> ``bands`` md5 band signatures.

    Replaces the explode + corpus-wide (id)-keyed groupBy with 32
    min-aggregates + band re-explode: a document's signature depends
    only on its own text, so nothing needs to shuffle -- the gram rows
    never exist outside the worker.  Bit-parity with the staged
    operators (asserted by pytest + every band-index oracle):

    - grams: ``text.split(' ')`` == Spark ``split(text, ' ')`` (both
      keep interior/trailing empties); ``' '.join(toks[i:i+n])`` over
      ``max(len - n + 1, 1)`` starts == ``word_ngrams``'s zip_with/
      concat_ws null-skip (short docs yield one partial gram); the
      per-doc set == ``array_distinct`` + explode + distinct grouping.
    - base hash: first 4 md5 bytes big-endian == ``conv(substring(
      md5(g), 1, 8), 16, 10)``.
    - h_i = (a_i*h + b_i) mod 2^32 in uint64: a < 2^31 so the product
      stays < 2^63 -- exact in BOTH engines (same no-overflow argument
      as ``_mh_consts``) and in numpy.
    - band_sig: md5 of the '|'-joined DECIMAL minima == ``md5(
      concat_ws('|', mh_...))`` (bigints render identically).
    """
    import numpy as np
    import pandas as pd

    rows = num_hashes // bands
    consts = [_mh_consts(i) for i in range(num_hashes)]
    a_arr = [a for a, _ in consts]
    b_arr = [b for _, b in consts]
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, band_id int, band_sig string"

    def gen(batches):
        from hashlib import md5

        A = np.array(a_arr, dtype=np.uint64)[None, :]
        B = np.array(b_arr, dtype=np.uint64)[None, :]
        mask = np.uint64(0xFFFFFFFF)
        for batch in batches:
            ids: list = []
            bids: list = []
            sigs: list = []
            for doc_id, text in zip(batch[id_col], batch[text_col]):
                if text is None:
                    continue
                toks = text.split(" ")
                n_grams = max(len(toks) - (shingle_n - 1), 1)
                grams = {
                    " ".join(toks[i: i + shingle_n])
                    for i in range(n_grams)
                }
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            md5(g.encode("utf-8")).digest()[:4], "big"
                        )
                        for g in grams
                    ),
                    dtype=np.uint64,
                    count=len(grams),
                )
                mins = ((hs[:, None] * A + B) & mask).min(axis=0)
                for b in range(bands):
                    seg = "|".join(
                        str(int(mins[b * rows + i])) for i in range(rows)
                    )
                    ids.append(doc_id)
                    bids.append(b)
                    sigs.append(md5(seg.encode("utf-8")).hexdigest())
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "band_id": np.array(bids, dtype="int32"),
                        "band_sig": sigs,
                    }
                )

    from .etl import spread_narrow_scan

    src = spread_narrow_scan(df.select(id_col, text_col), id_col)
    return src.mapInPandas(gen, schema=schema)


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The persistable MinHash index payload: (id, band_id, band_sig),
    ``bands`` narrow rows per document.

    This is what a 100 TB corpus stores ONCE (bucketed on the band join
    key -- ``Warehouse.write_bucketed``) so daily ingests never re-hash
    history: signatures are deterministic functions of the text, so rows
    computed at build time and rows computed at serve time are
    interchangeable -- the property :func:`serve_minhash_band_index`'s
    exactness (and the c70 oracle) rests on.  Absorbing an accepted
    delta is appending ITS band rows to the same table
    (``write_bucketed(..., mode="append")``, same bucket spec).

    Since round 17 the rows come from the fused zero-shuffle Arrow pass
    (:func:`_minhash_bands_py` -- bit-identical, see its parity notes).
    The staged ``shingles -> minhash_signatures -> lsh_bands`` chain
    stays as a126's production path: a126 persists the shingle frame
    for its exact-truth join anyway, and an A/B with this pass swapped
    in returned identical rows without winning (4 runs each, 4 cores:
    sf0.01 median 2.27 s staged vs 2.45 s fused, sf0.1 13.9 s vs
    14.4 s).
    """
    return _minhash_bands_py(
        df, id_col, text_col, shingle_n, num_hashes, bands
    )


def serve_minhash_band_index(
    index: DataFrame,
    delta: DataFrame,
    corpus_texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    delta_bands: DataFrame | None = None,
) -> DataFrame:
    """Dedup a delta against a PERSISTED band index: (a, b, jaccard)
    near-dup pairs with at least one delta side (a < b).

    ``index`` is the read-back :func:`minhash_band_index` table (bucketed
    -> its side of the join plans zero exchanges); ``corpus_texts`` is
    the indexed corpus' (id, text) source, touched ONLY via a left-semi
    join on the candidate ids (the Jaccard verify needs exact shingles
    for both sides; the bounded candidate re-read replaces storing every
    gram).  Delta ids must be disjoint from index ids (an id in both
    would self-pair).  Serve cost is O(delta) + the index scan; the
    delta-internal self-join covers new-vs-new duplicates.

    ``delta_bands`` (round 18, guide §1.2): a serve-then-absorb caller
    (s17) already needs the delta's band rows to APPEND to the index
    after the serve -- computing them twice (once in here, once for the
    absorb write) re-ran the Arrow text pass per batch.  Pass the
    already-pinned :func:`minhash_band_index` frame of the SAME delta
    and the serve reuses its materialized blocks; values are identical
    by the band determinism the absorb contract itself rests on.
    """

    delta_garr = pin_frame(  # feeds the verify union
        gram_arrays(delta, id_col, text_col, shingle_n)
    )
    if delta_bands is None:
        delta_bands = pin_frame(  # feeds the index join AND the self-join
            # fused Arrow band rows (r17 A/B: the staged signatures groupBy
            # + band explode cost ~0.8s of fixed plan/shuffle overhead per
            # serve, dominating small daily deltas; the fused pass re-reads
            # the delta text once, which is the far smaller term -- serve
            # deltas are bounded by construction)
            _minhash_bands_py(
                delta, id_col, text_col, shingle_n, num_hashes, bands
            )
        )
    # ONE distinct over the unioned candidate stream (round 18, guide
    # §2.4): the cross and within legs each carried their own distinct
    # before the final one -- three shuffle+agg stages where one
    # suffices.  Un-deduped legs fan out by at most the band count (a
    # constant) before the single distinct collapses them.
    cross = (
        delta_bands.select(F.col(id_col).alias("d_id"), "band_id", "band_sig")
        .join(
            index.select(F.col(id_col).alias("c_id"), "band_id", "band_sig"),
            ["band_id", "band_sig"],
        )
        .select(
            F.least("d_id", "c_id").alias("a"),
            F.greatest("d_id", "c_id").alias("b"),
        )
        # a delta doc whose own band rows already sit in the index (s17's
        # concurrent absorb can land them before this scan) must not
        # pair with itself
        .where(F.col("a") != F.col("b"))
    )
    within = (
        delta_bands.select(F.col(id_col).alias("a"), "band_id", "band_sig")
        .join(
            delta_bands.select(
                F.col(id_col).alias("b"), "band_id", "band_sig"
            ),
            ["band_id", "band_sig"],
        )
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    pairs = pin_frame(cross.unionByName(within).distinct())
    cand_corpus_ids = (
        pairs.select(F.col("a").alias(id_col))
        .unionByName(pairs.select(F.col("b").alias(id_col)))
        .distinct()
        .join(delta.select(id_col), id_col, "left_anti")
    )
    cand_corpus_garr = gram_arrays(
        corpus_texts.join(cand_corpus_ids, id_col, "left_semi"),
        id_col,
        text_col,
        shingle_n,
    )
    # array-based verify (round 18, see jaccard_verify_arrays): each
    # doc's grams attach to its pairs as ONE array cell instead of
    # exploded rows + a count re-aggregate
    garr_verify = pin_frame(delta_garr.unionByName(cand_corpus_garr))
    return jaccard_verify_arrays(pairs, garr_verify, id_col).where(
        F.col("jaccard") >= threshold
    )


def contamination_overlap(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per-train-doc n-gram overlap with an
    evaluation set.

    Returns train docs sharing >= 1 distinct word ``n``-gram with ANY bench
    doc: (id, n_overlap, n_grams, contamination_ratio).  The join is an
    inverted index on the gram -- the bench side collapses to DISTINCT
    grams first, so at 100 TB the shuffle carries each unique bench gram
    once (and the small bench gram set is broadcast-eligible; AQE picks
    that up).  Filtering decisions (drop vs keep at a ratio threshold)
    stay with the caller.
    """
    from .text import word_ngrams

    toks = F.split(F.col(text_col), " ")
    grams = F.array_distinct(word_ngrams(toks, n))
    # build the gram array once: per-doc totals are just its size (zero
    # shuffles), so only the overlap probe pays the explode + join -- the
    # two-pass form (shingle + groupBy for totals, shingle again for hits)
    # re-tokenized the whole train corpus a second time
    from .etl import spread_narrow_scan

    garr = spread_narrow_scan(train, id_col).select(id_col, grams.alias("__grams"))
    totals = garr.select(id_col, F.size("__grams").alias("n_grams"))
    tg = garr.select(id_col, F.explode("__grams").alias("gram"))
    bg = shingles(bench, id_col, text_col, n).select("gram").distinct()
    hits = (
        tg.join(bg, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return hits.join(totals, id_col).select(
        id_col,
        "n_overlap",
        "n_grams",
        (F.col("n_overlap") / F.col("n_grams")).alias("contamination_ratio"),
    )


def _plan_already_cached(df: DataFrame) -> bool:
    """True if ``df``'s logical plan is already in the CacheManager.

    Repeated pipeline invocations (warm benchmark passes, a25 reusing a07's
    shingle plan) would otherwise re-``persist`` an identical plan: Spark
    warns ``Asked to cache already cached data`` and the persist lifecycle
    leaks storage-memory bookkeeping.  Catalyst substitutes the cached scan
    by plan equality anyway, so skipping the second persist loses nothing.
    """
    try:
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        return cm.lookupCachedData(df._jdf).isDefined()
    except Exception:  # Spark Connect or API drift: persist unconditionally
        return False


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: pairs with Jaccard >= threshold.

    Round 18 (guide §2.3 "shuffle metadata, not payloads" + §8): band
    signatures come from the fused zero-shuffle Arrow pass
    (:func:`_minhash_bands_py` -- bit-parity with the staged operators
    is pytest-pinned), and the exact Jaccard verify re-tokenizes ONLY
    the documents that appear in at least one candidate pair (left-semi
    on the union of pair sides).  The former staged path exploded the
    WHOLE corpus into a persisted gram frame and pushed it through a
    corpus-wide groupBy(doc) with 32 min-aggregates -- the full gram
    stream crossed one shuffle so that the verify could reuse it, but
    the verify only ever reads candidate docs' grams
    (``jaccard_verify`` touches ``sh`` through joins on the pair ids
    alone, so restricting it is result-identical).  The r17 A/B that
    kept the staged path compared against a fused pass + FULL second
    text read; the candidate-restricted verify read is the missing
    piece that makes the fused pass win (2.4s -> 1.5s at sf0.1, and at
    100 TB the gram stream never crosses the network at all -- only
    band rows and candidate-doc grams do).

    The candidate-doc gram frame feeds both verify sides, so it is
    persisted (at candidate scope, not corpus scope) unless an identical
    plan is already cached.
    """

    band_rows = _minhash_bands_py(
        df, id_col, text_col, shingle_n, num_hashes, bands
    )
    cands = pin_frame(  # feeds the verify AND the candidate-id semi-join
        candidate_pairs(band_rows, id_col)
    )
    cand_ids = (
        cands.select(F.col("a").alias(id_col))
        .unionByName(cands.select(F.col("b").alias(id_col)))
        .distinct()
    )
    garr = gram_arrays(
        df.join(cand_ids, id_col, "left_semi"), id_col, text_col, shingle_n
    )
    if not _plan_already_cached(garr):
        garr = garr.persist()
    return jaccard_verify_arrays(cands, garr, id_col).where(
        F.col("jaccard") >= threshold
    )


def incremental_ingest_dedup(
    new_df: DataFrame,
    corpus_hashes: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Daily-ingest exact dedup: drop incoming docs whose text already
    exists in the historical corpus, then dedup within the batch.

    ``corpus_hashes`` is a (text_hash) frame -- the persisted digest table,
    NOT the corpus itself: the anti-join ships 16-byte digests, so checking
    today's batch against a 100 TB history shuffles megabytes.  Typically
    the digest side is small enough to broadcast; AQE picks that up.
    ``None`` bootstraps (first ingest).  Append the survivors' hashes back
    to the digest table afterwards to close the loop.
    """
    hashed = new_df.withColumn("text_hash", F.md5(F.col(text_col)))
    if corpus_hashes is not None:
        hashed = hashed.join(corpus_hashes, "text_hash", "left_anti")
    w = hashed.withColumn("__neg", -F.col(id_col))
    from .etl import dedup_latest

    return dedup_latest(w, "text_hash", "__neg").drop("__neg")


# ---------------------------------------------------------------------------
# connected components: near-dup pairs -> dedup clusters
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 25,
    max_loop_partitions: int = 200,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min node id.

    Alternating large-star / small-star (Kiveris et al., *Connected
    Components in MapReduce and Beyond*, SoCC'14): converges in O(log n)
    rounds versus O(diameter) for naive label propagation, so a pathological
    duplication chain across a 100 TB corpus still terminates in a handful
    of shuffles.  Each round is two groupBy+join stages over the shrinking
    edge set; an eager :func:`~.ordering.pin_frame` truncates the lineage
    so the plan does not grow with iterations (replicated when the
    session has a checkpoint dir).  Fixpoint = the edge set is a star
    around each component's minimum; convergence is detected by edge-set
    equality.
    """
    e0 = (
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # probe the size with ONE action: take(threshold+1) both answers
    # "is this graph small?" and, when it is, already holds every edge --
    # the previous checkpoint+count+collect sequence materialized the
    # upstream pipeline (for near-dup edges, the whole MinHash cascade)
    # once into block storage and then read it twice more.
    head = e0.take(small_graph_threshold + 1)
    if len(head) <= small_graph_threshold:
        # Bounded driver-side union-find (same pattern as IVF centroid
        # training): a near-dup edge list this small is a few MB, and the
        # iterative loop would pay ~2 scheduler round-trips per round for
        # work one core finishes in milliseconds.  The distributed
        # large-star/small-star path below stays the 100 TB route.
        return _unionfind_components(e0, head)
    e = pin_frame(e0, eager=True)
    n_e = e.count()
    # right-size the iteration: near-dup edge sets are tiny relative to the
    # corpus, and a 32-partition loop pays ~30 empty tasks per stage; size
    # partitions to the measured edge count (they shrink every round).
    # ``max_loop_partitions`` caps the loop width -- raise it for cluster
    # runs where the edge set itself is huge.
    parts = max(1, min(max_loop_partitions, n_e // 100_000 + 1))
    e = e.repartition(parts, "u")
    for _ in range(max_iter):
        # large-star: connect every neighbor larger than u to min(N(u) + {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        ls = (
            sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("lu"), F.least(F.col("mv"), F.col("u")).alias("lv")
            )
            .where(F.col("lu") != F.col("lv"))
            .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
        )
        # small-star: orient edges min-ward, connect all smaller neighbors
        # (and u itself) to the minimum
        oriented = ls.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        smins = oriented.groupBy("u").agg(F.min("v").alias("mv"))
        joined = oriented.join(smins, "u")
        e_new = pin_frame(
            joined.where(F.col("v") != F.col("mv"))
            .select(F.col("v").alias("u"), F.col("mv").alias("v"))
            .union(smins.select(F.col("u"), F.col("mv").alias("v")))
            .distinct(),
            eager=True,
        )
        # converged iff the (distinct) edge sets are equal: probe the
        # symmetric difference with ONE action (limit-1 short-circuits) --
        # the count+count+anti-join form launched three jobs per round,
        # each a scheduler round-trip on a real cluster.
        converged = (
            e_new.join(e, ["u", "v"], "left_anti")
            .union(e.join(e_new, ["u", "v"], "left_anti"))
            .isEmpty()
        )
        e = e_new
        if converged:
            break
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        comp.select(F.col("component").alias("node")).distinct()
        .select("node", F.col("node").alias("component"))
    )
    return comp.union(roots)


def _unionfind_components(e: DataFrame, rows: list | None = None) -> DataFrame:
    """Driver-side union-find over a small (u, v) edge frame.

    Union-by-min + path compression: the root of every set is its minimum
    node id, so the output matches the distributed star algorithm exactly:
    one (node, component=min reachable id) row per node seen in the edges.
    ``rows`` short-circuits the collect when the caller already fetched
    the edges (connected_components' size probe).
    """
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in rows if rows is not None else e.collect():
        u, v = row[0], row[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru  # attach the larger root under the smaller

    node_type = e.schema[0].dataType
    schema = StructType(
        [
            StructField("node", node_type, False),
            StructField("component", node_type, False),
        ]
    )
    data = [(n, find(n)) for n in parent]
    return e.sparkSession.createDataFrame(data, schema)


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Cluster assignment (id, rep_id) from a near-dup pair frame.

    rep_id = minimum id reachable through the pair graph (transitive
    closure -- pairwise similarity alone under-deduplicates: a~b, b~c must
    collapse a,b,c together even when a~c was never emitted by LSH).
    Documents with no near-dup pair map to themselves.  The join against
    the (tiny) component map is broadcast-eligible; AQE picks that up.
    """
    cc = connected_components(pairs, a, b).withColumnRenamed("node", id_col)
    return df.select(id_col).join(cc, id_col, "left").select(
        id_col, F.coalesce(F.col("component"), F.col(id_col)).alias("rep_id")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity join (no LSH: candidates = docs sharing a gram)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Jaccard similarity join via the shared-gram inverted index.

    Candidate generation = self-join on gram (docs sharing >=1 gram).
    Cost is Theta(true near-dup pairs): under a 10x corpus replication
    that multiplied TRUE pairs ~980x (every doc gains 9 near-identical
    replicas), wall time grew only 23.5x -- sub-linear in emitted pairs.
    When duplicate mass grows linearly with the corpus the join does too;
    what CAN blow up independently of true pairs is a gram shared by d
    unrelated docs (~d^2/2 join rows) -- pass ``max_gram_df`` so such
    corpus-frequent grams leave the shingle universe entirely BEFORE the
    self-join (sizes and intersections stay consistent, same contract as
    ``containment_pairs``; a129 reports the offending grams), or use the
    MinHash-LSH path (``a07``/``c20``), whose banded candidates are also
    pair-bounded.

    Single-pass: grams per doc are distinct, so the matching-row count of
    the gram self-join IS |intersection| -- no candidate distinct, no
    second gram join to re-derive intersections (jaccard_verify stays for
    LSH-band candidates, whose pair frame does not come from a gram join).
    Halves the gram-table shuffles vs the candidates+verify form (a114
    bench: 12.9s -> ~2.0s at sf0.1).
    """
    sh = shingles(df, id_col, text_col, n)
    if max_gram_df is not None:
        keep = (
            sh.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_gram_df)
            .select("gram")
        )
        sh = sh.join(keep, "gram")
    return jaccard_pairs_from_shingles(sh, id_col).where(
        F.col("jaccard") >= threshold
    )


def jaccard_pairs_from_shingles(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact all-pairs Jaccard from a prebuilt DISTINCT-gram shingle frame.

    One gram self-join: the matching-row count per (a, b) is the
    intersection size (grams per doc are distinct), union from per-doc
    counts.  Callers that reuse the shingle frame for other stages (a126's
    LSH evaluation) persist it and pass it in; threshold filtering is the
    caller's.
    """
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    a = sh.select(F.col(id_col).alias("a"), "gram")
    b = sh.select(F.col(id_col).alias("b"), "gram")
    inter = (
        a.join(b, "gram")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("a"), F.col("n_grams").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("b"), F.col("n_grams").alias("n_b"))
    return (
        inter.join(ca, "a")
        .join(cb, "b")
        .select(
            "a",
            "b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-nibble based -- engine-portable integer arithmetic)
# ---------------------------------------------------------------------------


def _nibble_val(nib: Column) -> Column:
    """Hex nibble char -> 0..15 via ascii arithmetic (portable to ANSI SQL)."""
    a = F.ascii(nib)
    return F.when(a >= 97, a - 87).otherwise(a - 48)


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Per-document SimHash fingerprint over word unigrams.

    Bit ``i`` of a token's hash = bit (i%4) of md5 hex nibble (i//4); the
    fingerprint sets bit i when the +/-1 vote sum over tokens is >= 0.
    Integer-exact and reproducible in ANSI SQL (the oracle mirrors the
    nibble/shift arithmetic).  Near-dup candidates = equal fingerprints
    (hamming 0) or banded fingerprint pieces for hamming <= k.
    """
    toks = df.select(
        id_col, F.array_distinct(F.split(F.col(text_col), " ")).alias("__toks")
    ).select(id_col, F.explode("__toks").alias("tok"))
    h = F.md5(F.col("tok"))
    votes = []
    for i in range(bits):
        val = _nibble_val(F.substring(h, i // 4 + 1, 1))
        bit = F.shiftright(val, i % 4).bitwiseAND(F.lit(1))
        votes.append(F.sum(bit * 2 - 1).alias(f"v_{i}"))
    agg = toks.groupBy(id_col).agg(*votes)
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"v_{i}") >= 0, F.lit(2**i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(id_col, fp.cast("bigint").alias("simhash"))


def simhash_hamming_census(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Count document pairs at each SimHash hamming distance <= k.

    The Manku/Jain/Sarma near-dup detection scheme (WWW'07), value-
    collapsed for scale: fingerprints are grouped first, so the banded
    self-join runs over DISTINCT fingerprint values -- |values| rows, not
    |docs| -- and pair counts multiply group sizes back at the end
    (``cnt_a * cnt_b`` across values, ``C(cnt, 2)`` within a value).  The
    same trick ``distributed_ntile`` uses: heavy fingerprint collisions
    (template corpora) make the collapsed frame SMALLER, never a hotter
    join.

    Pigeonhole soundness: ``max_hamming < n_bands`` guarantees every pair
    within the radius agrees on >= 1 of the ``n_bands`` equal-width bands
    of the ``bits``-bit fingerprint, so band-equality candidates are a
    superset of true pairs; exact ``bit_count(xor)`` then verifies.

    Returns one row per hamming distance in 0..max_hamming that has at
    least one pair (distances with zero pairs are absent, including
    hamming 0), with the exact pair count -- all arithmetic integer
    (``div 2`` on the always-even ``cnt*(cnt-1)``), so counts stay exact
    past the 2^53 double-mantissa bound a fingerprint group of >2^27
    docs would cross.
    """
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole requires max_hamming < n_bands")
    if bits % n_bands:
        raise ValueError("n_bands must divide bits")
    if bits > 62:
        # bit 63 would overflow LongType in simhash's 2**i term and a
        # sign-bit fingerprint would break the sh_a < sh_b canonical order
        raise ValueError("bits must be <= 62 (LongType fingerprints)")
    width = bits // n_bands
    mask = (1 << width) - 1

    fp = simhash(df, id_col=id_col, text_col=text_col, bits=bits)
    groups = fp.groupBy("simhash").agg(F.count(F.lit(1)).alias("__cnt"))

    # hamming 0: pairs within one fingerprint group (integer div -- the
    # product is always even; double division would round past 2^53)
    zero = groups.select(
        F.lit(0).alias("hamming"),
        F.expr(
            "CAST(__cnt AS BIGINT) * (__cnt - 1) div 2"
        ).alias("n_pairs"),
    )

    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * width)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for b in range(n_bands)
        ]
    )
    bands = groups.select("simhash", "__cnt", F.explode(band_arr).alias("bv")).select(
        "simhash", "__cnt", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    l = bands.select(
        F.col("simhash").alias("__sh_a"),
        F.col("__cnt").alias("__cnt_a"),
        "band",
        "val",
    )
    r = bands.select(
        F.col("simhash").alias("__sh_b"),
        F.col("__cnt").alias("__cnt_b"),
        "band",
        "val",
    )
    cand = (
        l.join(r, ["band", "val"])
        .where(F.col("__sh_a") < F.col("__sh_b"))
        .select("__sh_a", "__cnt_a", "__sh_b", "__cnt_b")
        .distinct()
    )
    nonzero = (
        cand.withColumn(
            "hamming",
            F.bit_count(
                F.col("__sh_a").bitwiseXOR(F.col("__sh_b"))
            ).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select(
            "hamming",
            (F.col("__cnt_a") * F.col("__cnt_b")).cast("bigint").alias("n_pairs"),
        )
    )
    return (
        zero.unionByName(nonzero)
        .groupBy("hamming")
        .agg(F.sum("n_pairs").alias("n_pairs"))
        .where(F.col("n_pairs") > 0)
        .orderBy("hamming")
    )


# ---------------------------------------------------------------------------
# corpus-level duplicated-segment removal (the C4 "repeated lines" filter)
# ---------------------------------------------------------------------------


def remove_duplicated_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Remove every fixed-width token segment that repeats across documents.

    The C4/CCNet boilerplate filter: split each document into consecutive
    ``seg_tokens``-token windows ("lines" for corpora without newlines),
    drop every segment whose exact text occurs in >= ``min_docs`` distinct
    documents, and reassemble the survivors in order.  Navigation chrome,
    cookie banners, and license boilerplate repeat verbatim across pages;
    their segments disappear corpus-wide in one pass.

    Scale shape: one posexplode (O(tokens) rows), one groupBy keyed on the
    16-byte segment digest (never the text), an anti-join of segment rows
    against the (small) duplicated-digest set -- AQE broadcasts it when it
    fits -- and one per-doc reassembly groupBy.  No all-pairs anything.

    Returns (id, clean_text, n_segs, n_kept); docs whose every segment was
    boilerplate survive with ``clean_text = ''``.
    """
    toks = F.split(F.col(text_col), " ")
    # integer ceil-div: (n + s - 1) div s, floor division on bigints
    n_segs = F.greatest(
        F.expr(f"CAST((size(split({text_col}, ' ')) + {seg_tokens - 1}) "
               f"div {seg_tokens} AS BIGINT)"),
        F.lit(1).cast("bigint"),
    )
    segs = F.transform(
        F.sequence(F.lit(0), (n_segs - 1).cast("int")),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * seg_tokens + 1, seg_tokens)
        ),
    )
    # materialize the segment array before exploding (inlined into the
    # Generate the transform re-evaluates per output row -> O(segs^2)/doc)
    from .etl import spread_narrow_scan

    seg_rows = (
        spread_narrow_scan(df, id_col)
        .select(id_col, segs.alias("__segs"))
        .select(id_col, F.posexplode("__segs").alias("pos", "seg"))
        .withColumn("seg_hash", F.md5("seg"))
    )
    dup = (
        seg_rows.groupBy("seg_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("seg_hash")
    )
    kept = seg_rows.join(dup, "seg_hash", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = df.select(id_col, n_segs.alias("n_segs"))
    return (
        base.join(reassembled, id_col, "left")
        .na.fill({"clean_text": "", "n_kept": 0})
        .select(id_col, "clean_text", "n_segs", "n_kept")
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    mask: int = 64,
) -> DataFrame:
    """Content-defined chunking: segment boundaries where the hash of the
    trailing ``window``-char context is 0 mod ``mask`` (average segment
    ~``mask`` chars).

    The storage-dedup primitive fixed-width segmentation can't give:
    inserting one character shifts every fixed window after it, but CDC
    boundaries re-synchronize immediately, so identical content reuses
    identical chunk digests whatever its offset.  Shape: one explode to
    the character-position stream (O(chars) rows -- the honest cost, all
    map-side), a filter to the ~1/``mask`` boundary rows, and ONE doc-id
    exchange for the lag window that turns boundary positions into
    (start, end) spans.  Output: (id, seg_no, seg_len, seg_md5).
    """
    from pyspark.sql import Window

    from .etl import spread_narrow_scan

    d = spread_narrow_scan(df, id_col).select(
        id_col, text_col, F.length(text_col).alias("__n")
    )
    pos = d.where(F.col("__n") >= window).select(
        id_col,
        F.explode(F.sequence(F.lit(window), F.col("__n"))).alias("p"),
        text_col,
    )
    ctx = F.expr(f"substring({text_col}, p - {window - 1}, {window})")
    h = F.conv(F.substring(F.md5(ctx), 1, 8), 16, 10).cast("bigint")
    bnd = pos.where(h % mask == 0).select(id_col, "p")
    ends = (
        bnd.union(d.select(id_col, F.col("__n").alias("p")))
        .distinct()
        .join(d.select(id_col, text_col), id_col)
    )
    w = Window.partitionBy(id_col).orderBy("p")
    seg = ends.select(
        id_col,
        F.row_number().over(w).alias("seg_no"),
        (F.coalesce(F.lag("p").over(w), F.lit(0)) + 1).alias("__s"),
        F.col("p").alias("__e"),
        text_col,
    )
    body = F.expr(f"substring({text_col}, __s, __e - __s + 1)")
    return seg.select(
        id_col,
        "seg_no",
        F.length(body).cast("bigint").alias("seg_len"),
        F.md5(body).alias("seg_md5"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Asymmetric containment join: C(a in b) = |S(a) & S(b)| / |S(a)|.

    Jaccard misses subset duplicates -- a short doc quoted whole inside a
    long one scores low symmetric similarity but containment ~1.  This is
    the standard quote/boilerplate detector for training-data curation.

    Candidates come from the shared-shingle inverted index (same shape as
    ``ngram_jaccard_pairs``).  ``max_gram_df`` drops grams appearing in
    more than that many docs BEFORE the self-join -- the stop-gram cap
    that bounds the index blowup at corpus scale (a gram shared by d docs
    emits d^2 candidate rows; corpus-frequent boilerplate grams would
    otherwise dominate the shuffle).  Capped grams leave the shingle
    universe entirely, so sizes and intersections stay consistent.

    Output: (a, b, n_grams_a, n_shared, containment) for ordered pairs
    a != b with containment >= threshold; containment is the double
    division n_shared / n_grams_a (bit-identical cross-engine on exact
    integer inputs).
    """
    sh = shingles(df, id_col, text_col, n)
    if max_gram_df is not None:
        keep = (
            sh.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_gram_df)
            .select("gram")
        )
        sh = sh.join(keep, "gram")
    if not _plan_already_cached(sh):
        sh = sh.persist()  # feeds sizes + both sides of the index join
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a = sh.select(F.col(id_col).alias("a"), "gram")
    b = sh.select(F.col(id_col).alias("b"), "gram")
    inter = (
        a.join(b, "gram")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("a"), F.col("__sz").alias("n_grams_a")),
            "a",
        )
        .select(
            "a",
            "b",
            "n_grams_a",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("n_grams_a")).alias(
                "containment"
            ),
        )
        .where(F.col("containment") >= threshold)
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Set-similarity join via PREFIX FILTERING (the PPJoin family):
    exact Jaccard >= ``threshold`` over word ``n``-gram shingle sets, with
    candidates from a rarest-grams-first prefix index instead of the full
    inverted index (shingle sets keep cross-document overlap sparse, so
    the candidate set stays near the true-pair count).

    Theorem (prefix filter): order every token set by one global total
    order; if J(x, y) >= t, the first ``|x| - ceil(t*|x|) + 1`` tokens of
    x and the corresponding prefix of y must share at least one token.
    Indexing ONLY prefixes shrinks the self-join input by ~t of every
    set, and ordering by ascending corpus frequency puts the RAREST
    tokens in the prefix, so the surviving join keys are precisely the
    low-collision ones -- the frequent-token d^2 blow-up that forces
    ``containment_pairs``' stop-gram cap never enters the index at all.
    Exact at any scale (no cap, no tolerance): skipped tokens are
    provably non-discriminating, not dropped data.

    The global order is (corpus count ASC, token ASC) compared
    lexicographically -- no global rank window anywhere; the only windows
    are per-document prefix row_numbers.  ``threshold`` is applied with
    integer arithmetic (ceil(t*n) = (t_num*n + t_den-1) div t_den for
    t = 6/10) so both engines cut identical prefixes.

    Output: (a, b, jaccard) with a < b, exact int/int division.
    """
    from pyspark.sql import Window

    t_num, t_den = int(round(threshold * 10)), 10
    toks = shingles(df, id_col, text_col, n)
    cnt = toks.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    sized = toks.join(cnt, "gram")
    n = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    pos = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.col("__df").asc(), F.col("gram").asc())
    )
    pref = (
        sized.withColumn("__n", n)
        .withColumn("__pos", pos)
        .where(
            F.col("__pos")
            <= F.col("__n") - F.expr(f"({t_num} * __n + {t_den - 1}) div {t_den}") + 1
        )
        .select(id_col, "gram")
    )
    cands = (
        pref.select(F.col(id_col).alias("a"), "gram")
        .join(pref.select(F.col(id_col).alias("b"), "gram"), "gram")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return jaccard_verify(cands, toks, id_col).where(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# 64-bit perceptual-fingerprint dedup (round 15: promoted from the
# round-14 a213/a214 query helpers to a first-class, fingerprint-agnostic
# operator family).  Works over ANY 64-bit hex fingerprint column --
# image average-hash, audio energy-delta bits, SimHash -- and gives the
# same three lifecycle verbs as the MinHash text index: inline pairs
# (hash64_band_pairs), persistable index payload (hash64_band_rows), and
# delta serving against a persisted index (serve_hash64_band_index).
# Candidates come from the Manku 4x16-bit pigeonhole bands (hamming <= 3
# guarantees a shared band; the 65536-value band domain prunes chance
# collisions -- SCALE.md round-14 band-width lesson), verification is
# the exact per-byte bit_count(xor) Hamming distance.
# ---------------------------------------------------------------------------


def hamming64_sql(a_sql: str, b_sql: str) -> str:
    """Spark-SQL text of the exact Hamming distance between two 16-hex
    64-bit fingerprints (per-byte ``bit_count(xor)`` fold)."""
    return (
        "aggregate(sequence(0, 7), 0, (acc, j) -> acc + bit_count("
        f"cast(conv(substr({a_sql}, 2*j + 1, 2), 16, 10) as int) ^ "
        f"cast(conv(substr({b_sql}, 2*j + 1, 2), 16, 10) as int)))"
    )


def hash64_band_rows(
    df: DataFrame, id_col: str = "doc_id", hash_col: str = "ahash"
) -> DataFrame:
    """The Manku band rows of a 64-bit hex fingerprint column:
    ``(id, hash, band 0..3, val = 16-bit hex quarter)`` -- 4 narrow rows
    per document.

    This is BOTH the inline pair-join frame and the persistable
    perceptual-index payload (c72): fingerprints are deterministic in
    the content, so band rows computed at build time and at serve time
    are interchangeable -- the same exactness property the MinHash index
    rests on (:func:`minhash_band_index`).  Store it bucketed on
    ``(band, val)`` (``Warehouse.write_bucketed``) and daily deltas
    band-join it with zero index-side exchanges.
    """
    return df.select(
        id_col,
        hash_col,
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                f"j -> struct(j as band, substr({hash_col}, 4*j + 1, 4)"
                " as val))"
            )
        ).alias("__b"),
    ).select(id_col, hash_col, "__b.band", "__b.val")


def _hash64_cands(
    left_rows: DataFrame,
    right_rows: DataFrame,
    id_col: str,
    hash_col: str,
) -> DataFrame:
    """Distinct candidate pairs ``(a < b, __ah_a, __ah_b)`` from a band
    join of two band-row frames.  Self-join (left is right) sees each
    unordered pair in both orders and the least/greatest normalization +
    distinct collapses them; a cross join against a disjoint index sees
    each once.  Hashes travel WITH their ids so the verify never re-reads
    a corpus."""
    lt = F.col("__l") < F.col("__r")
    return (
        left_rows.select(
            F.col(id_col).alias("__l"), F.col(hash_col).alias("__hl"),
            "band", "val",
        )
        .join(
            right_rows.select(
                F.col(id_col).alias("__r"), F.col(hash_col).alias("__hr"),
                "band", "val",
            ),
            ["band", "val"],
        )
        .where(F.col("__l") != F.col("__r"))
        .select(
            F.least("__l", "__r").alias("a"),
            F.greatest("__l", "__r").alias("b"),
            F.when(lt, F.col("__hl")).otherwise(F.col("__hr")).alias("__ah_a"),
            F.when(lt, F.col("__hr")).otherwise(F.col("__hl")).alias("__ah_b"),
        )
        .distinct()
    )


def _hash64_verify(cands: DataFrame, max_hamming: int) -> DataFrame:
    """Exact-Hamming verify of banded candidates: ``(a, b, hamming)``."""
    return (
        cands.withColumn(
            "hamming", F.expr(hamming64_sql("__ah_a", "__ah_b")).cast("int")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def hash64_band_pairs(
    ah: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    hash_col: str = "ahash",
) -> DataFrame:
    """(a, b, hamming) near-dup pairs over a 64-bit hex fingerprint
    column via the Manku 4x16-bit pigeonhole band join + exact per-byte
    ``bit_count(xor)`` verify (``max_hamming <= 3`` keeps the pigeonhole
    sound).  Shared by the image (a213) and audio (a214) perceptual
    dedup queries; the persisted-index serve path is
    :func:`serve_hash64_band_index`."""
    rows = hash64_band_rows(ah, id_col, hash_col)
    return _hash64_verify(
        _hash64_cands(rows, rows, id_col, hash_col), max_hamming
    )


def serve_hash64_band_index(
    index: DataFrame,
    delta_hashes: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    hash_col: str = "ahash",
) -> DataFrame:
    """Dedup a delta's fingerprints against a PERSISTED band index:
    ``(a, b, hamming)`` near-dup pairs with at least one delta side.

    ``index`` is the read-back :func:`hash64_band_rows` table (bucketed
    on ``(band, val)`` -> its side of the join plans zero exchanges);
    ``delta_hashes`` is the delta's ``(id, hash)`` frame -- at serve
    time only the DELTA pays the decode/fingerprint pass, and because
    the index rows carry the full 64-bit hash the verify needs NO
    corpus re-read at all (unlike the MinHash serve, whose exact-Jaccard
    check re-reads bounded candidate texts).  Delta ids must be disjoint
    from index ids.  The delta-internal self-join covers new-vs-new
    duplicates."""

    d_rows = pin_frame(  # feeds the index join AND the self-join
        hash64_band_rows(delta_hashes, id_col, hash_col)
    )
    cross = _hash64_cands(d_rows, index, id_col, hash_col)
    within = _hash64_cands(d_rows, d_rows, id_col, hash_col)
    return _hash64_verify(
        cross.unionByName(within).distinct(), max_hamming
    )
