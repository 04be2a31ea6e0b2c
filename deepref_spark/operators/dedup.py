"""Deduplication suite over the `documents` table: exact, MinHash+LSH,
SimHash, n-gram Jaccard (embedding near-dup lives in similarity.py).

Design for 100 TB:
  * exact dedup is a single hash-groupBy (map-side combined);
  * near-dup never goes quadratic — candidates come from band-bucket
    joins (LSH) whose block sizes AQE's skew handling bounds;
  * all hashing uses the portable md5 formulas so DuckDB oracles verify
    the exact same numbers.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from deepref_spark import portable
from deepref_spark.portable import SPARK, md5_mod

HASH_SPACE = 1_000_003


def _norm_text() -> str:
    return portable.norm_text("text", SPARK)


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicates by normalized-text md5: keep the smallest doc_id
    per group, report group size."""
    keyed = documents.select("doc_id", F.expr(f"md5({_norm_text()})").alias("content_hash"))
    return (
        keyed.groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _with_shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """doc_id + token k-shingle array, with tokenization staged as a
    real column. The extra `_n` reference makes the tokens expression
    multi-referenced so CollapseProject (SPARK-36718 rule) cannot inline
    the regex chain back into the per-shingle lambda — keeping
    tokenization O(1) per row instead of O(#shingles) per row. (Never
    inline the tokenizer inside the per-element lambda: that form
    re-tokenizes the document for EVERY shingle index — measured 10x+
    slowdown at sf0.1.)"""
    if "t" in documents.columns:
        # round 6: reuse a pre-staged token-array column (the queries-
        # layer doc_toks stage, built with this exact norm_tokens
        # expression) instead of re-running the regex chain
        staged = documents.select(
            "doc_id", F.col("t").alias("_toks")
        ).withColumn("_n", F.size("_toks"))
    else:
        toks = portable.norm_tokens("text", SPARK)
        staged = documents.select(
            "doc_id", F.expr(toks).alias("_toks")
        ).withColumn("_n", F.size("_toks"))
    return staged.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, greatest(1, _n - {k - 1})), "
            f"i -> array_join(slice(_toks, i, {k}), ' '))"
        ).alias("shingles"),
    )


def minhash_band_keys(documents: DataFrame, n_bands: int = 8,
                      rows_per_band: int = 2, k: int = 3) -> DataFrame:
    """(doc_id, band, sig): real b x r MinHash-LSH banding over token
    k-shingles, all built-ins.

    Per minhash function f the row value is the min over shingles of an
    independent FULL-WIDTH 32-bit hash (portable.hex32 over a salted
    md5); band b's signature is the ':'-joined concatenation of its
    ``rows_per_band`` row values. Collision probability per band is
    j^r, so with r >= 2 mildly-similar pairs (j=0.2-0.3) stop flooding
    the candidate set at web scale (P(candidate) = 1-(1-j^r)^b: at
    j=0.25, b=8, r=2 that is 0.39; the r=1 form gave 0.90), while
    j>=0.9 pairs are still caught with P > 1 - 2e-6. The 32-bit hash
    space matters equally: the min of n uniform 16-bit values
    saturates near 0 as n grows, colliding all long documents
    regardless of content.

    Hashing cost: one md5 yields four 32-bit values, so b*r/4 md5s per
    shingle (2 at the 8x2 default) — flat in the band count. Each md5
    array is staged as a multi-referenced column so CollapseProject
    cannot inline the shingle chain back into the per-element lambdas.
    """
    from deepref_spark.portable import hex32

    n_funcs = n_bands * rows_per_band
    n_md5 = (n_funcs + 3) // 4
    sh = _with_shingles(documents, k)
    hash_cols = [
        F.expr(f"transform(shingles, s -> md5(concat('{t}:', s)))").alias(f"_h{t}")
        for t in range(n_md5)
    ]
    staged = sh.select("doc_id", *hash_cols)

    def mh(f: int) -> str:
        t, slot = divmod(f, 4)
        return f"array_min(transform(_h{t}, h -> {hex32('h', slot * 8, SPARK)}))"

    band_sigs = [
        "concat_ws(':', {vals}) AS band_{b}".format(
            vals=", ".join(mh(b * rows_per_band + r) for r in range(rows_per_band)),
            b=b,
        )
        for b in range(n_bands)
    ]
    sig = staged.selectExpr("doc_id", *band_sigs)
    return sig.selectExpr(
        "doc_id",
        "stack({n}, {pairs}) as (band, sig)".format(
            n=n_bands, pairs=", ".join(f"{b}, band_{b}" for b in range(n_bands))
        ),
    )


def minhash_lsh_pairs(documents: DataFrame, n_bands: int = 8,
                      rows_per_band: int = 2, k: int = 3) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any b x r band bucket."""
    keys = minhash_band_keys(documents, n_bands, rows_per_band, k).localCheckpoint(eager=False)
    a = keys.select("band", "sig", F.col("doc_id").alias("a"))
    b = keys.select("band", "sig", F.col("doc_id").alias("b"))
    return (
        a.join(b, ["band", "sig"]).where(F.col("a") < F.col("b"))
        .select("a", "b").distinct()
    )


def ngram_jaccard_pairs(documents: DataFrame, k: int = 3,
                        threshold: float = 0.8,
                        df_cap: int | None = None) -> DataFrame:
    """Exact shingle-Jaccard >= threshold, computed via an inverted
    shingle index (explode + join + group) — linear in total postings,
    never all-pairs. The scale path prefilters with minhash_lsh_pairs;
    this operator is the verifier.

    ``df_cap``: drop shingles whose document frequency exceeds the cap
    BEFORE the self-join (similarity is then defined over the reduced
    shingle universe, sizes included — the oracle applies the same
    rule). Without it a ubiquitous shingle's posting list makes the
    self-join quadratic in the hottest key; at 100 TB the cap is
    mandatory, locally it defaults off to keep the uncapped oracle."""
    sh = (
        _with_shingles(documents, k)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .distinct()
    )
    if df_cap is not None:
        # document frequency via plain groupBy count — MAP-SIDE COMBINED,
        # so the ubiquitous shingle never lands its whole posting list in
        # one partition (the round-2 Window.partitionBy("shingle") form
        # materialized exactly the skew the cap exists to remove). The
        # over-cap list is then broadcast anti-joined back: it holds at
        # most total_postings/df_cap shingles and each row is one short
        # string, so it stays broadcast-sized far past the point where
        # the posting table itself is petabytes; if it ever outgrows the
        # broadcast threshold Spark falls back to a shuffle anti-join
        # whose reduce work per hot key is a drop (AQE splits it).
        sh = sh.localCheckpoint(eager=False)  # postings: count + anti-join
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > df_cap)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # the posting table feeds several consumers (sizes, both self-join
    # sides): stage it so the derivation runs exactly once
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        sh.alias("x")
        .join(sh.alias("y"), "shingle")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common
        .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "n_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "n_b"), "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(documents: DataFrame, bits: int = 16, k: int = 3) -> DataFrame:
    """Per-doc SimHash over token k-shingles: bit j of each shingle's
    md5-derived hash votes +/-; the fingerprint sets bit j when the
    votes are positive. Explode+pivot-free formulation: one aggregate
    per bit inside a single projection."""
    from deepref_spark.portable import md5_bit

    sh = _with_shingles(documents, k).select(
        "doc_id", F.expr("transform(shingles, s -> md5(s))").alias("hashes")
    )
    bit_terms = []
    for j in range(bits):
        # vote: +1 when md5 bit j is 1, -1 otherwise; one md5 per shingle
        bit_terms.append(
            f"CAST(CASE WHEN aggregate(hashes, 0, (acc, h) -> acc + (2 * {md5_bit('h', j)} - 1)) > 0 "
            f"THEN {1 << j} ELSE 0 END AS BIGINT)"
        )
    return sh.select(
        "doc_id", F.expr(" + ".join(bit_terms)).alias("simhash")
    )


def simhash64(documents: DataFrame, k: int = 3) -> DataFrame:
    """64-bit SimHash — one md5 per shingle, decoded ONCE into two
    32-bit integers (portable.hex32); the 63 bit votes are then integer
    shift/mask aggregates instead of per-bit hex-string decodes (the
    round-2 md5_true_bit form did 63 substr+ascii chains per shingle —
    the fingerprint stage's dominant cost). The 16-bit variant above
    stays for its oracle query; this is the scale fingerprint: at 10^10
    docs a 16-bit bucket holds ~10^6 docs and any within-bucket join
    goes quadratic, while 64 bits keep buckets sparse."""
    from deepref_spark.portable import hex32

    sh = _with_shingles(documents, k).select(
        "doc_id", F.expr("transform(shingles, s -> md5(s))").alias("hashes")
    )
    # hashes is referenced by both int arrays -> the md5 transform stays
    # staged (CollapseProject's cost guard); each int array is then
    # referenced by ~32 vote aggregates, likewise staged
    ints = sh.select(
        "doc_id",
        F.expr(f"transform(hashes, h -> {hex32('h', 0, SPARK)})").alias("_lo"),
        F.expr(f"transform(hashes, h -> {hex32('h', 8, SPARK)})").alias("_hi"),
    )

    def vote(j: int) -> str:
        arr, jj = ("_lo", j) if j < 32 else ("_hi", j - 32)
        return (
            f"CAST(CASE WHEN aggregate({arr}, 0, "
            f"(acc, v) -> acc + CAST(2 * (shiftright(v, {jj}) & 1) - 1 AS INT)) > 0 "
            f"THEN {1 << j} ELSE 0 END AS BIGINT)"
        )

    # 63 vote bits keep the BIGINT non-negative
    return ints.select("doc_id", F.expr(" + ".join(vote(j) for j in range(63))).alias("simhash"))


def _block_layout(n_bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(offset, width) per block: n_bits split as evenly as possible."""
    base, extra = divmod(n_bits, n_blocks)
    layout, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        layout.append((off, w))
        off += w
    return layout


def simhash_block_pairs(fingerprints: DataFrame, max_hamming: int = 3,
                        n_blocks: int = 6, n_bits: int = 63) -> DataFrame:
    """Manku-style block-combination join over (doc_id, simhash).

    Split the fingerprint into ``n_blocks`` blocks; a pair within
    Hamming distance ``max_hamming`` differs in at most ``max_hamming``
    blocks, so at least ``n_blocks - max_hamming`` blocks match exactly
    — join on every C(n_blocks, n_blocks - max_hamming) concatenation
    of that many blocks (complete by pigeonhole), verify popcount(xor).

    The combination keys are what make this survive web scale: at the
    6-block / hamming<=3 default each key concatenates 3 blocks of
    10-11 bits (>= 31 bits, vs the 16-bit single-band keys of round 2
    that pack ~150k docs per bucket at 10^10 docs). Expected bucket
    size at N = 10^10 is N / 2^31 ~ 5 docs per (combo, key) bucket —
    the within-bucket self-join is constant work, and the 20x key
    fan-out is linear map-side cost, no extra shuffle rounds.
    Reference for the construction: Manku, Jain, Sarma, "Detecting
    Near-Duplicates for Web Crawling" (WWW'07), §3."""
    from itertools import combinations

    assert max_hamming < n_blocks, "recall needs n_blocks > max_hamming"
    layout = _block_layout(n_bits, n_blocks)
    # stage the block values as columns: each is referenced by
    # C(n_blocks-1, keep-1) combination keys, so Catalyst keeps the
    # shift/mask staged instead of re-deriving per key
    blocks = [
        f"(shiftright(simhash, {off}) & {(1 << w) - 1}) AS blk_{i}"
        for i, (off, w) in enumerate(layout)
    ]
    sig = fingerprints.selectExpr("doc_id", "simhash", *blocks)
    keep = n_blocks - max_hamming
    combos = list(combinations(range(n_blocks), keep))
    key_exprs = []
    for ci, combo in enumerate(combos):
        # arithmetic concatenation: shift each block into its own field
        expr = "CAST(0 AS BIGINT)"
        for i in combo:
            expr = f"({expr} * {1 << layout[i][1]} + blk_{i})"
        key_exprs.append(f"{ci}, {expr}")
    keyed = sig.selectExpr(
        "doc_id", "simhash",
        "stack({n}, {pairs}) as (combo, ckey)".format(
            n=len(combos), pairs=", ".join(key_exprs)
        ),
    )
    a = keyed.select("combo", "ckey", F.col("doc_id").alias("a"), F.col("simhash").alias("sh_a"))
    b = keyed.select("combo", "ckey", F.col("doc_id").alias("b"), F.col("simhash").alias("sh_b"))
    cand = (
        a.join(b, ["combo", "ckey"]).where(F.col("a") < F.col("b"))
        .select("a", "b", "sh_a", "sh_b").distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sh_a ^ sh_b)"))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", F.col("hamming").cast("int").alias("hamming"))
    )


def simhash_near_pairs(documents: DataFrame, max_hamming: int = 3,
                       k: int = 3, n_blocks: int = 6) -> DataFrame:
    """Near-dup pairs at Hamming distance <= max_hamming over the 64-bit
    fingerprint via Manku block-combination joins (simhash_block_pairs
    has the bucket math). Output is exactly {pairs : hamming <= max} —
    candidate generation is complete by pigeonhole, so the result is
    independent of the blocking scheme and SQL-oracle-checkable."""
    # fingerprints feed all join sides — stage once instead of
    # running the 63-vote aggregation per side
    s = simhash64(documents, k).localCheckpoint(eager=False)
    return simhash_block_pairs(s, max_hamming=max_hamming, n_blocks=n_blocks)


def passage_dedup(documents: DataFrame, min_words: int = 4) -> DataFrame:
    """Passage-level frequency index (boilerplate detection): split each
    doc on sentence boundaries, hash the normalized passage, count
    distinct docs per passage. The cleaning pass filters n_docs > its
    boilerplate threshold and anti-joins docs on the hash. The groupBy
    is map-side combined (one hash per passage occurrence) — strictly
    linear at any scale."""
    passages = documents.select(
        "doc_id",
        F.explode(F.expr("split(text, '[.!?]')")).alias("raw"),
    ).select(
        "doc_id",
        F.expr(f"trim(regexp_replace(lower(raw), '[^a-z0-9 ]', ' '))").alias("p"),
    ).where(
        F.expr(f"size(split(p, ' +')) >= {min_words}")
    ).select("doc_id", F.expr("md5(p)").alias("passage_hash")).distinct()
    return (
        passages.groupBy("passage_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
    )


def candidate_pair_jaccard(documents: DataFrame, candidates: DataFrame,
                           k: int = 3, threshold: float = 0.8) -> DataFrame:
    """Exact shingle-Jaccard restricted to CANDIDATE pairs: join each
    (a, b) pair with the two docs' distinct-shingle arrays and compute
    |intersect| / |union| per pair — per-pair work bounded by document
    length, no inverted-index self-join at all. This is the verify
    stage of the scale path (LSH prefilter feeds it); semantics match
    ngram_jaccard_pairs on the candidate subset exactly (both operate
    on the distinct shingle set)."""
    sets = (
        _with_shingles(documents, k)
        .select("doc_id", F.array_distinct("shingles").alias("sh_set"))
        .localCheckpoint(eager=False)  # feeds both pair sides
    )
    return (
        candidates.select("a", "b")
        .join(sets.select(F.col("doc_id").alias("a"), F.col("sh_set").alias("sh_a")), "a")
        .join(sets.select(F.col("doc_id").alias("b"), F.col("sh_set").alias("sh_b")), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def near_dup_keep_map(documents: DataFrame, n_bands: int = 8,
                      rows_per_band: int = 2, k: int = 3,
                      threshold: float = 0.8,
                      df_cap: int | None = None,
                      prefilter: bool = True) -> DataFrame:
    """The dedup DECISION: LSH candidate pairs -> exact-Jaccard verify
    -> connected components over the surviving edges -> one keep doc
    (cluster min) per document. Docs with no near-dup keep themselves.
    This is the end-to-end removal artifact a cleaning pass anti-joins
    on — pairs alone (minhash_lsh_pairs) are only the candidate stage.

    DEFAULT = the scale shape: b x r MinHash-LSH prefilter, then exact
    Jaccard on the candidate pairs only (candidate_pair_jaccard — per
    pair work bounded by doc length, no posting-list self-join
    anywhere). At the 8x2 default a true pair at j >= 0.8 is missed
    with P = (1-j^2)^8 <= 1.7e-4 (j=0.9: 2e-6), so prefiltered output
    equals the exact keep map in practice (fixture test asserts
    equality). ``prefilter=False`` is the exhaustive verifier for
    oracles and audits; there df_cap bounds the inverted index
    (mandatory at 100 TB on that path)."""
    from deepref_spark.operators.linking import connected_components

    if prefilter:
        docs = documents.select("doc_id", "text").localCheckpoint(eager=False)
        cands = minhash_lsh_pairs(docs, n_bands=n_bands,
                                  rows_per_band=rows_per_band, k=k)
        verified = candidate_pair_jaccard(docs, cands, k=k, threshold=threshold)
        documents = docs
    else:
        verified = ngram_jaccard_pairs(documents, k=k, threshold=threshold, df_cap=df_cap)
    comps = connected_components(verified.select("a", "b"))  # numeric min labels
    ids = documents.select("doc_id").distinct()
    return (
        ids.join(comps.withColumnRenamed("entity", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("keep_doc_id"))
    )


def substring_dup_stats(documents: DataFrame, k: int = 5) -> DataFrame:
    """Exact-substring dedup stats (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a token window of
    length ``k`` that occurs anywhere else in the corpus marks its
    covering positions as duplicated. The paper builds a corpus suffix
    array; the distributed re-expression is the fixed-window rolling
    form ES-Dedup uses at scale — every k-token window is hashed, a
    window hash with total corpus frequency > 1 is "duplicated", and
    each doc reports the fraction of its windows that are duplicated
    (the cleaning pass drops or trims docs above a threshold).

    Shape at 100 TB: ONE corpus scan emits ~n_tokens window hashes
    (md5 of the joined window, same formula as the shingle family so
    the DuckDB oracle reproduces the numbers); a map-side-combined
    groupBy counts each hash; the flag join back to windows shuffles
    both sides on the same key (AQE handles hash skew from boilerplate
    windows); the final per-doc rollup is a second combineable agg.
    No suffix array, no global sort, nothing quadratic.
    """
    wins = (
        _with_shingles(documents, k)
        .select("doc_id", F.posexplode("shingles").alias("pos", "sh"))
        .select("doc_id", "pos", F.expr("md5(sh)").alias("whash"))
        .localCheckpoint(eager=False)  # feeds both the freq agg and the flag join
    )
    freq = wins.groupBy("whash").agg(F.count(F.lit(1)).cast("long").alias("wfreq"))
    return (
        wins.join(freq, "whash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(F.when(F.col("wfreq") > 1, 1).otherwise(0))
            .cast("long").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_windows").cast("double") / F.col("n_windows"), 6),
        )
    )


def incremental_dedup(corpus: DataFrame, batch: DataFrame,
                      n_bands: int = 8, rows_per_band: int = 2,
                      k: int = 3, threshold: float = 0.8) -> DataFrame:
    """Ingest-time dedup gate: for each NEW document, is it a near-dup
    of anything already in the corpus? The continuous-ingest analogue
    of near_dup_keep_map — instead of clustering the whole corpus, a
    new batch's band keys probe the existing corpus's band keys and
    only cross-corpus candidates are verified.

    Shape at 100 TB: the corpus band table is the PERSISTED artifact a
    production pipeline maintains (bucketed by (band, sig)); per
    ingest only the batch side is hashed, the candidate join touches
    matching buckets alone, and verification cost is bounded by
    candidate count times document length (candidate_pair_jaccard).
    Batch band keys are typically small enough to broadcast against
    the bucketed corpus table — zero shuffle of the big side.

    Returns one row per batch doc: (doc_id, dup_of, jaccard, is_dup)
    — dup_of = the smallest corpus doc_id among verified matches
    (ties on the same doc impossible; the struct-min picks the
    (dup_of, jaccard) pair atomically), NULL if the doc is novel.
    """
    docs = (
        corpus.select("doc_id", "text").union(batch.select("doc_id", "text"))
        .localCheckpoint(eager=False)  # shingle sets shared by both pair sides
    )
    kb = minhash_band_keys(batch, n_bands, rows_per_band, k)
    kc = minhash_band_keys(corpus, n_bands, rows_per_band, k)
    cands = (
        kb.select(F.col("doc_id").alias("a"), "band", "sig")
        .join(kc.select(F.col("doc_id").alias("b"), "band", "sig"),
              ["band", "sig"])
        .select("a", "b").distinct()
    )
    verified = candidate_pair_jaccard(docs, cands, k=k, threshold=threshold)
    best = (
        verified.groupBy("a")
        .agg(F.min(F.struct("b", "jaccard")).alias("m"))
        .select(F.col("a").alias("doc_id"),
                F.col("m.b").alias("dup_of"),
                F.col("m.jaccard").alias("jaccard"))
    )
    return (
        batch.select("doc_id").join(best, "doc_id", "left")
        .select("doc_id", "dup_of", "jaccard",
                F.col("dup_of").isNotNull().alias("is_dup"))
    )


def minhash_signature(documents: DataFrame, n_bands: int = 8,
                      rows_per_band: int = 2, k: int = 3) -> DataFrame:
    """(doc_id, sig array<bigint>): the raw b*r minhash row values as
    one vector — the estimator view of the banding in
    minhash_band_keys (same salted-md5 hex32 hash family, same
    staging), for signature-similarity estimation rather than
    bucketing."""
    from deepref_spark.portable import hex32

    n_funcs = n_bands * rows_per_band
    n_md5 = (n_funcs + 3) // 4
    sh = _with_shingles(documents, k)
    hash_cols = [
        F.expr(f"transform(shingles, s -> md5(concat('{t}:', s)))").alias(f"_h{t}")
        for t in range(n_md5)
    ]
    staged = sh.select("doc_id", *hash_cols)

    def mh(f: int) -> str:
        t, slot = divmod(f, 4)
        return f"array_min(transform(_h{t}, h -> {hex32('h', slot * 8, SPARK)}))"

    return staged.selectExpr(
        "doc_id",
        "array({}) AS sig".format(", ".join(mh(f) for f in range(n_funcs))),
    )


def minhash_calibration(documents: DataFrame, n_bands: int = 8,
                        rows_per_band: int = 2, k: int = 3) -> DataFrame:
    """MinHash-estimate vs exact Jaccard per LSH candidate pair — the
    calibration read that justifies trusting signature similarity at
    scale: est_ppm = (matching minhash rows) / (b*r) on the ppm grid,
    next to the exact distinct-shingle Jaccard, plus the signed error.
    Run at small SF before a 100 TB sweep relies on estimate-only
    thresholds (the events_heavy_hitters discipline applied to the
    dedup lane).

    Scale shape: candidates come from the banding (never all pairs);
    signatures are fixed-width vectors (b*r longs) and shingle sets are
    per-doc bounded, so the per-pair verify is O(doc length) — the
    keep-map's bounded-verify contract with an estimator column added.
    """
    docs = documents.localCheckpoint(eager=False)  # shingled 3x below
    pairs = minhash_lsh_pairs(docs, n_bands, rows_per_band, k)
    sigs = minhash_signature(docs, n_bands, rows_per_band, k) \
        .localCheckpoint(eager=False)  # feeds both pair sides
    sets = (
        _with_shingles(docs, k)
        .select("doc_id", F.array_distinct("shingles").alias("sh_set"))
        .localCheckpoint(eager=False)
    )
    n_funcs = n_bands * rows_per_band
    return (
        pairs
        .join(sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a")), "a")
        .join(sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b")), "b")
        .join(sets.select(F.col("doc_id").alias("a"), F.col("sh_set").alias("sh_a")), "a")
        .join(sets.select(F.col("doc_id").alias("b"), F.col("sh_set").alias("sh_b")), "b")
        .select(
            "a", "b",
            F.expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), "
                   "0L, (acc, v) -> acc + v)").cast("long").alias("est_matches"),
            F.expr("CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)").alias("inter"),
            F.expr("CAST(size(array_union(sh_a, sh_b)) AS BIGINT)").alias("uni"),
        )
        .select(
            "a", "b", "est_matches",
            F.expr(f"est_matches * 1000000 div {n_funcs}").cast("long").alias("est_ppm"),
            F.expr("inter * 1000000 div greatest(1L, uni)").cast("long").alias("exact_ppm"),
            F.expr(f"est_matches * 1000000 div {n_funcs} "
                   "- inter * 1000000 div greatest(1L, uni)")
            .cast("long").alias("err_ppm"),
        )
    )


def bloom_gate(documents: DataFrame, m_words: int = 64,
               k: int = 3) -> DataFrame:
    """Bloom-filter membership gate (the sketch lane's third member,
    next to HLL distinct-count and count-min frequency): texts of the
    even-doc_id half are indexed into an m_words x 63-bit filter (k
    md5-derived bit positions each — the shared portable hash, so the
    filter is bit-identical in the SQL twin), then EVERY document
    probes it. Returns (doc_id, bloom_hit, exact_hit) with the exact
    side from a semi-join — the false-positive accounting a dedup
    pre-gate is tuned by.

    Scale shape: the filter builds as one groupBy over at most m_words
    keys (bit_or is commutative — map-side combined) and joins to the
    probe side as a BROADCAST (the filter is m_words rows no matter
    the corpus size); probes explode to k rows each, roll back up with
    one grouped count. The exact side is the one shuffle join, present
    only because the operator REPORTS the filter's error; a production
    gate drops it. Bits use 63-bit words so no mask ever touches the
    sign bit."""
    m_bits = m_words * 63

    def bit_cols(df: DataFrame) -> DataFrame:
        per_hash = []
        for i in range(k):
            h = md5_mod(f"concat(text, ':b{i}')", m_bits)
            per_hash.append(
                f"named_struct('w', {h} div 63, 'p', {h} % 63)")
        return df.select(
            "*", F.explode(F.expr("array(" + ", ".join(per_hash) + ")"))
            .alias("b")
        ).select("*", F.col("b.w").alias("w"), F.col("b.p").alias("p"))

    indexed = documents.where(F.expr("doc_id % 2 = 0")).select("text").distinct()
    bloom = (
        bit_cols(indexed)
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(1L, p))").alias("bits"))
    )
    probes = bit_cols(documents.select("doc_id", "text"))
    probed = (
        probes.join(F.broadcast(bloom), "w", "left")
        .select(
            "doc_id",
            F.when((F.coalesce(F.col("bits"), F.lit(0))
                    .bitwiseAND(F.expr("shiftleft(1L, p)"))) != 0, F.lit(1))
            .otherwise(F.lit(0)).alias("hit"),
        )
        .groupBy("doc_id")
        .agg(F.when(F.sum("hit") == k, F.lit(1)).otherwise(F.lit(0))
             .cast("long").alias("bloom_hit"))
    )
    exact = (
        documents.select("doc_id", "text")
        .join(indexed.withColumnRenamed("text", "_it"),
              F.col("text") == F.col("_it"), "left_semi")
        .select("doc_id", F.lit(1).cast("long").alias("exact_hit"))
    )
    return (
        probed.join(exact, "doc_id", "left")
        .select("doc_id", "bloom_hit",
                F.coalesce("exact_hit", F.lit(0)).cast("long")
                .alias("exact_hit"))
    )


def boilerplate_stats(documents: DataFrame, min_words: int = 4,
                      df_threshold: int = 3) -> DataFrame:
    """Per-document boilerplate fraction — the CLEANING side of
    passage_dedup's frequency index (CCNet's line-dedup pass, reported
    per doc instead of applied destructively): a passage is boilerplate
    when it appears in >= ``df_threshold`` distinct docs; each doc
    reports its passage count, boilerplate count, and fraction on the
    exact ppm grid.

    Same passage derivation as passage_dedup (split on sentence
    boundaries, normalize, hash — one map-side-combined distinct), one
    grouped doc-frequency agg, one co-keyed join back on the passage
    hash, one per-doc rollup. Strictly linear; the frequency table is
    bounded by distinct passages, never total occurrences.
    """
    passages = documents.select(
        "doc_id",
        F.explode(F.expr("split(text, '[.!?]')")).alias("raw"),
    ).select(
        "doc_id",
        F.expr("trim(regexp_replace(lower(raw), '[^a-z0-9 ]', ' '))").alias("p"),
    ).where(
        F.expr(f"size(split(p, ' +')) >= {min_words}")
    ).select("doc_id", F.expr("md5(p)").alias("passage_hash")).distinct() \
        .localCheckpoint(eager=False)  # feeds the df agg AND the rollup
    df_tab = passages.groupBy("passage_hash").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    return (
        passages.join(df_tab, "passage_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_passages"),
            F.sum(F.when(F.col("n_docs") >= df_threshold, 1).otherwise(0))
            .cast("long").alias("n_boiler"),
        )
        .withColumn("boiler_ppm",
                    F.expr("n_boiler * 1000000 DIV n_passages").cast("long"))
    )


def containment_pairs(documents: DataFrame, k: int = 3,
                      threshold_ppm: int = 500_000,
                      df_cap: int | None = None) -> DataFrame:
    """Directed shingle CONTAINMENT C(src->dst) = |src ∩ dst| / |src|
    on the exact ppm grid — the asymmetric companion to
    ngram_jaccard_pairs (Broder's containment): a short document quoted
    inside a long one scores near 1e6 here while its Jaccard stays
    low, so this is the partial-copy / quotation detector.

    Same inverted shingle index as the Jaccard verifier (explode +
    self-join + group, linear in postings, never all-pairs; the
    optional ``df_cap`` drops ubiquitous shingles BEFORE the self-join
    exactly as there). Each unordered overlap row emits both
    directions; integer ppm division keeps the threshold exact across
    engines. The scale path prefilters candidates with
    minhash_lsh_pairs; this is the bounded verifier."""
    sh = (
        _with_shingles(documents, k)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .distinct()
    )
    if df_cap is not None:
        sh = sh.localCheckpoint(eager=False)
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > df_cap)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.localCheckpoint(eager=False)  # sizes + both self-join sides
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    common = (
        sh.alias("x")
        .join(sh.alias("y"), "shingle")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    directed = (
        common.select(F.col("a").alias("src"), F.col("b").alias("dst"), "common")
        .unionAll(
            common.select(F.col("b").alias("src"), F.col("a").alias("dst"),
                          "common"))
    )
    return (
        directed
        .join(sizes.withColumnRenamed("doc_id", "src")
              .withColumnRenamed("n_sh", "n_src"), "src")
        .join(sizes.withColumnRenamed("doc_id", "dst")
              .withColumnRenamed("n_sh", "n_dst"), "dst")
        .withColumn("containment_ppm",
                    F.expr("common * 1000000 DIV n_src").cast("long"))
        .where(F.col("containment_ppm") >= threshold_ppm)
        .select("src", "dst", "n_src", "n_dst", "common", "containment_ppm")
    )


def prefix_filter_pairs(documents: DataFrame, k: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Exact shingle-Jaccard >= threshold via PPJoin-style PREFIX
    FILTERING (Xiao et al. 2011): order each document's shingles by
    ascending global document frequency (rarest first, shingle text
    tie-break), keep only the first ``n - ceil(t*n) + 1`` as the
    document's prefix, and generate candidates ONLY from prefix-prefix
    collisions — two sets with Jaccard >= t MUST share at least one
    prefix token under a common global order, so the filter is
    lossless. Candidates are then verified exactly against the full
    sorted shingle arrays (bounded per doc; one array_intersect per
    candidate pair).

    Same contract as ngram_jaccard_pairs (equality pinned by pytest),
    different scale shape: the self-join runs on the PREFIX posting
    table — at t=0.8 roughly a fifth of the postings, and prefixes are
    rarest-first, so hot ubiquitous shingles (exactly the ones that
    make the full inverted-index join quadratic) land in prefixes last
    or never. No df_cap needed: the frequency ORDER does the work the
    cap approximates. All stream-sized stages are grouped aggs or
    equi-joins; the per-doc rank window partitions by doc_id."""
    sh = (
        _with_shingles(documents, k)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .distinct()
        .localCheckpoint(eager=False)  # df + rank + verify arrays
    )
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    ranked = sh.join(dfreq, "shingle").withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")),
    ).withColumn(
        "n_sh",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).cast("long"),
    )
    # ceil(t*n) on the exact ppm integer grid — float ceil(0.8*5) can
    # evaluate to 5 under binary rounding and silently shrink the
    # prefix, voiding the lossless-filter guarantee
    t_ppm = int(round(threshold * 1_000_000))
    prefix = ranked.where(
        F.col("rnk")
        <= F.col("n_sh")
        - F.expr(f"(n_sh * {t_ppm}L + 999999) DIV 1000000")
        + 1
    ).select("doc_id", "shingle")
    cands = (
        prefix.alias("x")
        .join(prefix.alias("y"), "shingle")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    arrs = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("shingle")).alias("arr"),
        F.count(F.lit(1)).cast("long").alias("n_sh"),
    )
    return (
        cands
        .join(arrs.select(F.col("doc_id").alias("a"),
                          F.col("arr").alias("arr_a"),
                          F.col("n_sh").alias("n_a")), "a")
        .join(arrs.select(F.col("doc_id").alias("b"),
                          F.col("arr").alias("arr_b"),
                          F.col("n_sh").alias("n_b")), "b")
        .withColumn("common",
                    F.size(F.array_intersect("arr_a", "arr_b"))
                    .cast("long"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b")
                               - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def cdc_chunk_stats(documents: DataFrame, divisor: int = 16) -> DataFrame:
    """Content-defined chunking dedup report per source — the
    storage-dedup modality (LBFS/FastCDC family) the shingle methods
    miss: chunk boundaries are decided by the CONTENT (a token whose
    32-bit hash is 0 mod ``divisor`` starts a new chunk, expected
    chunk length = divisor tokens), so an insertion early in a
    document shifts only the chunks it touches while every boundary
    downstream re-synchronizes — exact dedup re-finds the unchanged
    tail, which fixed-width blocking never can. Per source: chunk and
    token counts, chunks whose content hash recurs anywhere in the
    corpus, and the duplicated token mass on the exact ppm grid.

    Scale shape: tokenization is STAGED (checkpointed column — the
    lambda-trap discipline), the boundary rule is one hash per token,
    the chunk-id assignment is a per-document prefix-sum window
    (bounded by doc length, never corpus-wide), chunk signatures are
    one map-side-combined groupBy, and the recurrence test is a
    sig-keyed count joined back on the same key. Everything is
    BIGINT/string arithmetic on the shared portable hash formulas, so
    the DuckDB oracle verifies the exact numbers.
    """
    from deepref_spark.portable import hex32

    toks = portable.norm_tokens("text", SPARK)
    staged = (
        documents.select("doc_id", "source", F.expr(toks).alias("_toks"))
        .localCheckpoint(eager=False)
    )
    pos = staged.select(
        "doc_id", "source",
        F.posexplode("_toks").alias("pos", "tok"),
    )
    h32 = hex32("md5(concat('cdc|', tok))", 0, SPARK)
    pos = pos.withColumn(
        "cut", F.expr(f"CAST(({h32}) % {int(divisor)} = 0 AS INT)"))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    chunks = (
        pos.withColumn("chunk_id", F.sum("cut").over(w))
        .groupBy("doc_id", "source", "chunk_id")
        .agg(
            F.expr("md5(array_join(transform("
                   "sort_array(collect_list(struct(pos, tok))),"
                   " s -> s.tok), ' '))").alias("sig"),
            F.count(F.lit(1)).cast("long").alias("n_toks"),
        )
        .localCheckpoint(eager=False)  # feeds the occ agg AND the rollup
    )
    occ = chunks.groupBy("sig").agg(
        F.count(F.lit(1)).cast("long").alias("occ"))
    return (
        chunks.join(occ, "sig")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("occ") > 1, 1).otherwise(0)).cast("long")
            .alias("n_dup_chunks"),
            F.sum(F.when(F.col("occ") > 1, F.col("n_toks")).otherwise(0))
            .cast("long").alias("dup_token_mass"),
        )
        .withColumn(
            "dup_ppm",
            F.expr("dup_token_mass * 1000000 DIV greatest(1, n_tokens)")
            .cast("long"),
        )
    )


def url_canon_stats(urls: DataFrame) -> DataFrame:
    """URL canonicalization + dedup rollup — the CommonCrawl-style
    fetch-dedup key every web pipeline computes before content-level
    dedup ever runs: strip the #fragment, lowercase scheme+host, drop
    'www.' and the scheme default port (:443/:80), remove utm_*
    tracking params (plus the separator they orphan) and the trailing
    slash, then group raw URLs by the canonical form. Per canonical
    URL: the document count and the number of DISTINCT raw spellings
    it absorbed (n_raw > 1 cells are the fetch-dedup win the report
    exists to size).

    ``urls``: (doc_id, url). The chain is four staged
    portable-formula fragments (portable.url_defrag / url_head /
    url_canon_head / url_canon_tail) — one formula text in both
    engines, no capture-group replacements (Java $1 vs RE2 \\1 is the
    one regexp_replace syntax Spark and DuckDB do not share).

    Scale shape: pure per-row JVM expressions (staged columns so each
    regex runs once), then ONE map-side-combinable groupBy on the
    canonical key. countDistinct(url) inside a canonical group is
    bounded by the spelling fan-in of one resource, never the corpus.
    """
    from deepref_spark.portable import (SPARK, url_canon_head,
                                        url_canon_tail, url_defrag,
                                        url_head)

    staged = (
        urls
        .withColumn("_df", F.expr(url_defrag("url", SPARK)))
        .withColumn("_hd", F.expr(url_head("_df")))
        .withColumn("_tl", F.expr("substr(_df, length(_hd) + 1)"))
        .withColumn("canon_url",
                    F.concat(F.expr(url_canon_head("_hd", SPARK)),
                             F.expr(url_canon_tail("_tl", SPARK))))
    )
    return (
        staged.groupBy("canon_url")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.countDistinct("url").cast("long").alias("n_raw"))
        .withColumn("is_collapsed", (F.col("n_raw") > 1).cast("int"))
    )


def dedup_yield_report(documents: DataFrame, keep_map: DataFrame | None = None,
                       **keep_map_kwargs) -> DataFrame:
    """The one-row yield report a cleaning run publishes after the
    dedup DECISION (near_dup_keep_map): cluster count, corpus size,
    how many docs the keep-map removes, the largest cluster, and the
    singleton/dup-cluster split — the numbers that decide whether the
    LSH thresholds are eating the corpus or missing duplicates before
    anyone anti-joins 100 TB against the map.

    Pure composition: the keep map's (doc_id, keep_doc_id) grouped
    into per-cluster sizes (map-side combined), then ONE global
    rollup over the cluster-sized table — no second pass over text.
    All counts BIGINT, order-independent."""
    # ``keep_map`` lets callers pass an already-materialized keep map
    # (the session's persisted stage) — identical rows by construction
    km = (near_dup_keep_map(documents, **keep_map_kwargs)
          if keep_map is None else keep_map)
    cl = km.groupBy("keep_doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz"))
    return cl.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.sum(F.expr("CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END"))
        .cast("long").alias("n_removed"),
        F.max("sz").cast("long").alias("max_cluster"),
        F.sum(F.expr("CASE WHEN sz = 1 THEN 1 ELSE 0 END"))
        .cast("long").alias("n_singletons"),
        F.sum(F.expr("CASE WHEN sz > 1 THEN 1 ELSE 0 END"))
        .cast("long").alias("n_dup_clusters"))


def quality_keep_map(documents: DataFrame, n_bands: int = 8,
                     rows_per_band: int = 2, k: int = 3,
                     threshold: float = 0.8,
                     keep_map: DataFrame | None = None) -> DataFrame:
    """Quality-aware near-dup keeper: the same LSH -> verify -> CC
    clusters as near_dup_keep_map, but the survivor of each cluster is
    the HIGHEST-QUALITY member (text_analysis.quality_score on the ppm
    grid, doc_id tie-break) instead of the arbitrary min-id — the
    choice a production cleaning pass actually makes, since near-dup
    clusters routinely mix a clean original with truncated or
    boilerplate-wrapped copies. Returns (doc_id, cluster_id,
    best_doc_id, best_q_ppm); anti-join on doc_id <> best_doc_id.

    Scale shape: everything up to the cluster map is near_dup_keep_map
    (banded candidates, bounded verify, checkpointed CC); the quality
    score is one more single-scan column; the winner is one window
    over the cluster-keyed table (keys are cluster-sized, no skew
    beyond the largest cluster — the same bound the CC already has).
    """
    from deepref_spark.operators.text_analysis import quality_score

    docs = documents.select("doc_id", "text").localCheckpoint(eager=False)
    # ``keep_map`` lets callers pass an already-materialized keep map
    # (the session's persisted stage) — identical rows by construction
    km = (near_dup_keep_map(docs, n_bands=n_bands,
                            rows_per_band=rows_per_band, k=k,
                            threshold=threshold)
          if keep_map is None else keep_map)
    q = quality_score(docs).select(
        "doc_id",
        F.expr("CAST(floor(quality * 1000000 + 0.5) AS BIGINT)")
        .alias("q_ppm"))
    jq = km.join(q, "doc_id")
    w = Window.partitionBy("keep_doc_id").orderBy(F.desc("q_ppm"),
                                                  F.asc("doc_id"))
    best = (
        jq.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("keep_doc_id"), F.col("doc_id").alias("best_doc_id"),
                F.col("q_ppm").alias("best_q_ppm"))
    )
    return (
        km.join(best, "keep_doc_id")
        .select("doc_id", F.col("keep_doc_id").alias("cluster_id"),
                "best_doc_id", "best_q_ppm")
    )


def df_spectrum(documents: DataFrame, k: int = 3) -> DataFrame:
    """Shingle document-frequency spectrum in log2 buckets — the
    dedup-difficulty planning read that sizes ngram_jaccard's df_cap
    and the bloom gate BEFORE building an inverted index: for each
    df bucket [2^b, 2^(b+1)), how many distinct shingles land there
    and how much posting MASS (sum of df) they carry. The heavy tail
    is exactly what a df_cap cuts; this table says what fraction of
    the index it is.

    One staged-tokenize pass (the _with_shingles barrier — tokenize
    once per doc, never per shingle), one distinct (doc, shingle)
    projection, two map-side-combined grouped counts. The bucket
    ladder is the exact integer CASE from graph.jdd_buckets — no
    log(), engine-exact.
    """
    from deepref_spark.operators.graph import _log2_bucket_case

    posts = (
        _with_shingles(documents, k=k)
        .select("doc_id", F.explode("shingles").alias("s"))
        .distinct()
    )
    dfc = posts.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df"))
    spec = (
        dfc.select(F.expr(_log2_bucket_case("df")).cast("long")
                   .alias("df_bucket"), "df")
        .groupBy("df_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
             F.sum("df").cast("long").alias("n_postings"))
        .localCheckpoint(eager=False)  # feeds the share join
    )
    tot = F.broadcast(spec.agg(F.sum("n_postings").cast("long")
                               .alias("tot_postings")))
    return (
        spec.crossJoin(tot)
        .select("df_bucket", "n_shingles", "n_postings",
                F.expr("n_postings * 1000000 div tot_postings")
                .cast("long").alias("postings_ppm"))
    )
