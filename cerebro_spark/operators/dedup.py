"""Deduplication operators for large-scale training-data pipelines.

Driver-mandated extensions (BASELINE.json north star) — no reference file:line;
designed shuffle-aware for 100 TB:

- exact dedup: hash-groupBy on content digest — one shuffle, map-side partial
  agg, no window over the full table;
- n-gram Jaccard: shingle explode → inverted-index self-join on shingle →
  pair-count agg.  The join key is the shingle hash, so hot shingles are the
  skew risk — ``max_shingle_freq`` drops stop-shingles (standard optimization,
  bounds the quadratic blowup);
- MinHash/LSH: per-doc signatures via deterministic permutation hashes, banded
  into LSH buckets; candidate pairs only join within a bucket.  Scales as
  O(docs × bands), never O(docs²);
- SimHash: 64-bit fingerprints; near-dup when Hamming distance ≤ k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cerebro_spark.operators.util import default_parallelism, ensure_parallelism

# Mersenne prime 2^31-1: modulus for minhash permutations.  Multipliers are
# in [1, p-1], token hashes reduced mod p first, so a·x < 2^62 stays in a
# signed long AND wraps the modulus many times (the wrap is what scrambles the
# ordering — a modulus near the product ceiling would leave (a·x+b) monotonic
# in x and every permutation would pick the same minimum).
_MINHASH_P = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation coefficients via an LCG — identical
    constants are regenerated in the DuckDB oracle SQL."""
    coeffs = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = 1 + state % (_MINHASH_P - 1)
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % _MINHASH_P
        coeffs.append((a, b))
    return coeffs


def exact_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup by content digest: keep the lowest id per md5(content).

    groupBy on the digest → single shuffle with partial aggregation; at 100 TB
    the digest groupBy distributes uniformly by construction (hash keys).
    """
    return (
        df.withColumn("__digest", F.md5(F.col(content_col)))
        .groupBy("__digest")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__digest")
    )


def duplicate_groups(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact duplicates (digest, ids, count) — the audit view."""
    return (
        df.withColumn("digest", F.md5(F.col(content_col)))
        .groupBy("digest")
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("ids"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _shingles(content_col: str, n: int):
    """Word n-gram shingle array (distinct) from a text column — JVM-side:
    split → sliding windows via transform over index sequence."""
    toks = F.split(F.trim(F.col(content_col)), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array())
    )


def _shingle_hash_df(
    df: DataFrame, content_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, sh: array<bigint>) — distinct 64-bit shingle hashes WITHOUT
    building shingle strings: hash each token once, then hash the n
    token-hashes per window (``xxhash64`` is n-ary).  Skips the per-shingle
    ``array_join`` string allocation and string-based ``array_distinct`` of
    `_shingles`; only usable where the shingle key itself is internal (the
    Jaccard joins), not where the oracle must reproduce the hash (MinHash
    keeps the portable md5-over-string path).

    The token-hash array MUST be materialized in its own projection: inlining
    it makes every ``element_at`` in the window lambda re-evaluate the whole
    array — O(tokens²·n) per doc, measured 5× slower than the string path.
    A multi-referenced non-trivial alias blocks CollapseProject, keeping the
    two-stage shape.
    """
    toks = F.split(F.trim(F.col(content_col)), r"\s+")
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("__th"),
    )
    th = F.col("__th")
    idx = F.sequence(F.lit(0), F.greatest(F.size(th) - n, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.xxhash64(
            *[F.element_at(th, (i + k + 1).cast("int")) for k in range(n)]
        ),
    )
    sh = F.array_distinct(
        F.when(F.size(th) >= n, grams).otherwise(F.array().cast("array<bigint>"))
    )
    return hashed.select("id", sh.alias("sh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.6,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by exact word-n-gram Jaccard similarity.

    Inverted-index join: explode shingles, self-join per shingle (docs sharing
    no shingle never meet), count shared shingles per pair, Jaccard =
    |∩| / (|A|+|B|-|∩|).  ``max_shingle_freq`` removes degenerate shingles
    shared by more than N docs — the skew/blowup guard at scale.
    """
    df = ensure_parallelism(df)
    # shuffle key = 64-bit hash of the shingle, not the (long) shingle string:
    # 8-byte keys instead of ~n·8 bytes of text, built hash-of-token-hashes
    # (no shingle strings at all — see _shingle_hashes).  A 64-bit collision
    # (~n²/2⁶⁵) would merge two shingles; negligible and caught by the oracle.
    base = _shingle_hash_df(df, content_col, id_col, n).withColumn(
        "n_sh", F.size("sh")
    )
    ex = base.select("id", "n_sh", F.explode("sh").alias("s"))

    # Inverted-index pair generation WITHOUT a self-join (a self-join would
    # recompute the shingle explosion for both branches — no exchange reuse):
    # one groupBy(shingle) collects the posting list, pairs explode in-array.
    # ``max_shingle_freq`` caps posting-list length — both the skew guard and
    # the pair-blowup bound (pairs per shingle ≤ f²/2).
    members = F.array_sort(
        F.collect_list(F.struct(F.col("id"), F.col("n_sh")))
    )
    posting = ex.groupBy("s").agg(members.alias("m"))
    if max_shingle_freq is not None:
        posting = posting.filter(F.size("m") <= max_shingle_freq)
    pair_arr = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.transform(
                F.slice(F.col("m"), i + 2, F.size(F.col("m"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["n_sh"].alias("n_a"),
                    y["n_sh"].alias("n_b"),
                ),
            ),
        )
    )
    pairs = (
        posting.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )
    return pairs


def ngram_containment_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT: max(|∩|/|A|, |∩|/|B|)
    — catches a short document embedded in a long one, which Jaccard
    structurally misses (a 50-shingle quote inside a 1000-shingle page has
    Jaccard ≤ 0.05 but containment 1.0).  The dedup-literature companion to
    :func:`ngram_jaccard_pairs`; identical posting-list pair generation, so
    the same skew guard and single-scan plan apply.
    """
    df = ensure_parallelism(df)
    base = _shingle_hash_df(df, content_col, id_col, n).withColumn(
        "n_sh", F.size("sh")
    )
    ex = base.select("id", "n_sh", F.explode("sh").alias("s"))
    members = F.array_sort(
        F.collect_list(F.struct(F.col("id"), F.col("n_sh")))
    )
    posting = ex.groupBy("s").agg(members.alias("m"))
    if max_shingle_freq is not None:
        posting = posting.filter(F.size("m") <= max_shingle_freq)
    pair_arr = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.transform(
                F.slice(F.col("m"), i + 2, F.size(F.col("m"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["n_sh"].alias("n_a"),
                    y["n_sh"].alias("n_b"),
                ),
            ),
        )
    )
    return (
        posting.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "containment",
            F.round(
                F.greatest(
                    F.col("inter") / F.col("n_a"),
                    F.col("inter") / F.col("n_b"),
                ),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "inter", "containment")
    )


def _portable_token_hash(col, hex_chars: int = 8):
    """Deterministic md5-prefix token hash computable identically in DuckDB
    (used instead of Spark's murmur ``hash`` so oracle SQL can reproduce
    values).  8 hex chars = 32 bits (MinHash needs values within the
    Mersenne-31 modulus); pass 15 (60 bits) wherever the hash is a JOIN KEY
    over a web-scale distinct space — at ~1e9 keys a 32-bit space makes
    every probe collide with ~20% probability."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def contamination_check(
    train: DataFrame,
    test: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination scan: for each TEST document, the fraction of
    its word n-gram shingles that appear anywhere in the TRAIN corpus.

    Scale shape: the train side collapses to its DISTINCT shingle-hash set
    (one aggregation — NOT per-doc pairing, which would be a pair blowup);
    the test side is one explode + one 8-byte-key equi-join + one groupBy.
    At 100 TB the distinct-shingle set is the big side — it shuffles once,
    and the join key is the portable 60-bit md5-prefix hash (at 1e9 distinct
    shingles a 32-bit key would give every clean shingle a ~20% collision
    chance and inflate contamination; 60 bits keeps the expected collision
    count per doc ≪ 1), so a Bloom/semi-join pre-filter applies (AQE
    injects one for selective joins).

    Returns (``id_col``, n_shingles, n_matched, contamination,
    is_contaminated) for every test doc, including zero-match docs.
    """
    tr = (
        train.select(F.explode(_shingles(content_col, n)).alias("__s"))
        .select(_portable_token_hash(F.col("__s"), 15).alias("s"))
        .distinct()
    )
    te = test.select(
        F.col(id_col).alias("id"), _shingles(content_col, n).alias("sh")
    ).withColumn("n_shingles", F.size("sh"))
    te_ex = te.select("id", F.explode("sh").alias("__s")).select(
        "id", _portable_token_hash(F.col("__s"), 15).alias("s")
    )
    matched = te_ex.join(tr, "s").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    out = (
        te.select("id", "n_shingles")
        .join(matched, "id", "left")
        .withColumn("n_matched", F.coalesce("n_matched", F.lit(0)))
        .withColumn(
            "contamination",
            F.when(
                F.col("n_shingles") > 0,
                F.round(F.col("n_matched") / F.col("n_shingles"), 6),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "is_contaminated", (F.col("contamination") >= threshold).cast("int")
        )
    )
    return out.withColumnRenamed("id", id_col)


def minhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """MinHash signatures over word n-gram shingles.

    For permutation i: h_i(x) = (a_i·x + b_i) mod p (p = 2^61-1); signature
    element = min over shingles.  Expressed as explode → groupBy(id) with
    ``min`` aggregates — one shuffle, combiner-friendly, no UDFs.
    """
    df = ensure_parallelism(df)
    base = df.select(
        F.col(id_col).alias("id"), F.explode(_shingles(content_col, n)).alias("s")
    ).withColumn("x", _portable_token_hash(F.col("s")) % _MINHASH_P)
    aggs = [
        F.min((F.col("x") * a + b) % _MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    ]
    return base.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified by estimated
    Jaccard (fraction of matching signature components).

    Bucket join: docs collide only when an entire band matches; band key =
    concatenated band signature.  Self-join runs per bucket → no O(n²)…
    unless the corpus has a hot band signature (boilerplate template shared
    by k docs → k²/2 candidate pairs in ONE bucket).  ``max_bucket_size``
    is the skew guard: buckets above the cap are excluded from the join
    (their membership is boilerplate, not near-duplication — run
    ``dedup_exact`` first for identical docs, and use ``lsh_bucket_stats``
    to pick the cap; the adversarial soak in ``tools/soak_lsh_skew.py``
    records the cap/pair-mass curve).  Default None = exact semantics (the
    oracle-gated shape); at 100 TB set it — a template with 50k copies
    otherwise contributes 1.25e9 pairs to a single reducer.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(df, content_col, id_col, n, num_hashes)
    band_cols = [
        F.concat_ws(
            "_", F.lit(bi), *[F.col(f"h{bi * rows + r}") for r in range(rows)]
        ).alias(f"band{bi}")
        for bi in range(bands)
    ]
    banded = sig.select("id", *[F.col(f"h{i}") for i in range(num_hashes)], *band_cols)
    bands_long = banded.select(
        "id",
        *[F.col(f"h{i}") for i in range(num_hashes)],
        F.posexplode(
            F.array(*[F.col(f"band{bi}") for bi in range(bands)])
        ).alias("bi", "bucket"),
    )
    if max_bucket_size is not None:
        small = (
            bands_long.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("__bs"))
            .filter(F.col("__bs") <= max_bucket_size)
            .select("bucket")
        )
        # bucket-id side is tiny after the cap? No — it is #buckets-sized;
        # the join is a shuffle equi-join on bucket either way, and the agg
        # is map-side partial.  The CAP is what bounds the next join's
        # per-bucket fan-out.
        bands_long = bands_long.join(small, "bucket")
    a = bands_long.select(
        F.col("bi"),
        F.col("bucket"),
        F.col("id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(num_hashes)],
    )
    b = bands_long.select(
        F.col("bi"),
        F.col("bucket"),
        F.col("id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(num_hashes)],
    )
    matches = sum(
        (F.col(f"ha{i}") == F.col(f"hb{i}")).cast("int") for i in range(num_hashes)
    )
    # threshold-filter BEFORE the dedup shuffle: the sub-threshold candidate
    # mass (the expensive part of a skewed corpus — a hot band's k²/2 pairs
    # are mostly boilerplate collisions below the Jaccard bar) is discarded
    # row-locally in the join stage, and only the qualifying set — orders of
    # magnitude smaller — pays the dropDuplicates exchange.
    return (
        a.join(b, ["bi", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((matches / num_hashes) >= threshold)
        .select("id_a", "id_b", (matches / num_hashes).alias("est_jaccard"))
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_bucket_stats(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Bucket-size histogram of the banded-LSH index: ``(bucket_size,
    n_buckets, candidate_pairs)`` — the skew diagnostic to run BEFORE
    launching ``minhash_lsh_pairs`` at scale.  The pair join's cost is
    Σ size·(size−1)/2 over buckets; one hot bucket (a boilerplate band
    signature shared by millions of docs) dominates everything, and this
    profile is how you find it and pick the ``max_shingle_freq``-style cap.
    Same band layout as ``minhash_lsh_pairs`` so the histogram describes
    exactly the join it predicts."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, content_col, id_col, n, num_hashes)
    band_cols = [
        F.concat_ws(
            "_", F.lit(bi), *[F.col(f"h{bi * rows + r}") for r in range(rows)]
        )
        for bi in range(bands)
    ]
    bands_long = sig.select(
        "id", F.explode(F.array(*band_cols)).alias("bucket")
    )
    sizes = bands_long.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return sizes.groupBy("bucket_size").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast("long")
        ).alias("candidate_pairs"),
    )


def simhash(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
) -> DataFrame:
    """SimHash fingerprint (default 48-bit — keeps every shift/sum in signed
    long range) per document over distinct word tokens.

    Per-bit majority vote expressed as explode → per-bit sum of ±1 → sign.
    All JVM-side; one shuffle (groupBy id).  Token hash is the portable
    md5-prefix hash (15 hex chars = 60 bits ≥ ``bits``) so oracle SQL can
    reproduce fingerprints.
    """
    assert bits <= 60
    df = ensure_parallelism(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(content_col)), r"\s+"))
        ).alias("tok"),
    ).withColumn("x", F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long"))
    votes = [
        F.sum(
            F.when((F.expr(f"shiftright(x, {i})") % 2) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    fingerprint = sum(
        F.when(
            F.col(f"v{i}") > 0,
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {i})"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    )
    return agg.select("id", fingerprint.alias("simhash"))


def _simhash_segments(
    df: DataFrame,
    content_col: str,
    id_col: str,
    bits: int,
    blocks: int,
) -> DataFrame:
    """(id, simhash, blk, seg) — each doc exploded into its ``blocks``
    pigeonhole segments.  Shared by ``simhash_pairs`` (the join) and
    ``simhash_bucket_stats`` (the skew diagnostic) so the histogram
    describes exactly the join it predicts."""
    width = bits // blocks
    sh = simhash(df, content_col, id_col, bits)
    return sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("blk"),
                        (
                            F.expr(f"shiftright(simhash, {bi * width})")
                            % F.lit(2 ** width).cast("long")
                        ).alias("seg"),
                    )
                    for bi in range(blocks)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", F.col("b.blk").alias("blk"), F.col("b.seg").alias("seg"))


def simhash_bucket_stats(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    blocks: int = 4,
) -> DataFrame:
    """Bucket-size histogram of the simhash pigeonhole index:
    ``(bucket_size, n_buckets, candidate_pairs)`` — the skew diagnostic to
    run BEFORE ``simhash_pairs`` at scale, the exact analogue of
    ``lsh_bucket_stats`` for the (block, segment) buckets.  The pair join's
    cost is Σ size·(size−1)/2 over buckets; a boilerplate template shared
    by k docs lands k members in each of its ``blocks`` buckets, and this
    profile is how you find the knee and pick ``max_bucket_size``."""
    seg = _simhash_segments(df, content_col, id_col, bits, blocks)
    sizes = seg.groupBy("blk", "seg").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return sizes.groupBy("bucket_size").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast("long")
        ).alias("candidate_pairs"),
    )


def simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 48,
    blocks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ k via the pigeonhole block trick:
    split the fingerprint into ``blocks`` segments — any pair within distance
    k < blocks must agree on ≥1 block, so the join key is (block_idx, segment).
    Avoids the O(n²) all-pairs comparison.

    RECALL GUARANTEE requires ``max_hamming < blocks``: at
    ``max_hamming >= blocks`` a qualifying pair can differ in every block
    and be missed, and the result is the well-defined approximation
    "pairs with hamming ≤ k that also share ≥1 block" (which a mirroring
    oracle reproduces exactly, but is not exhaustive).  For exact recall
    at larger k, raise ``blocks`` to ``k + 1`` — and re-check the width
    rule below, since more blocks means narrower segments.

    ``max_bucket_size`` is the same boilerplate-skew guard as
    ``minhash_lsh_pairs``: a template shared by k docs puts k²/2 candidate
    pairs in each of its (block, segment) buckets; buckets above the cap
    are excluded (default None = exact semantics; size it from the
    ``simhash_bucket_stats`` histogram at corpus scale).

    SIZING (measured, tools/soak_simhash_skew.py): segment width =
    ``bits // blocks`` must satisfy ``2^width >> N / cap`` or random
    birthday collisions alone push EVERY bucket over the cap and capped
    recall collapses to zero — at 1M docs use ``bits=60`` (width 15), not
    the default 48 (width 12).  Background candidate mass is
    ``blocks·N²/2^(width+1)`` — quadratic in N at fixed width — and
    ``bits`` is capped at 60 by the signed-long fingerprint, so this
    operator's applicability bound is ~1-2M docs per run (per dump/shard);
    beyond that prefer ``minhash_lsh_pairs``, whose band width grows with
    ``num_hashes`` without bound.
    """
    seg = _simhash_segments(df, content_col, id_col, bits, blocks)
    if max_bucket_size is not None:
        small = (
            seg.groupBy("blk", "seg")
            .agg(F.count(F.lit(1)).alias("__bs"))
            .filter(F.col("__bs") <= max_bucket_size)
            .select("blk", "seg")
        )
        seg = seg.join(small, ["blk", "seg"])
    a = seg.select("blk", "seg", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = seg.select("blk", "seg", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    hamming = F.bit_count(F.expr("sh_a ^ sh_b"))
    # hamming-filter BEFORE any dedup: the candidate set is the quadratic
    # intermediate, the qualifying set is tiny — never shuffle the former
    cand = (
        a.join(b, ["blk", "seg"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming <= max_hamming)
    )
    if max_bucket_size is None:
        # exact path: emit each pair only from its FIRST matching block —
        # a row-local filter (both fingerprints are in the row), so the
        # dropDuplicates shuffle over candidates disappears entirely.  Not
        # applicable under a cap: the minimal matching block's bucket may
        # be capped away while a later small bucket legitimately carries
        # the pair (pinned by the cap ground-truth test).
        width = bits // blocks
        seg_eq = [
            (
                F.expr(f"shiftright(sh_a, {bi * width})")
                % F.lit(2**width).cast("long")
                == F.expr(f"shiftright(sh_b, {bi * width})")
                % F.lit(2**width).cast("long")
            )
            for bi in range(blocks)
        ]
        first_match = F.coalesce(
            *[F.when(seg_eq[bi], F.lit(bi)) for bi in range(blocks)]
        )
        deduped = cand.filter(F.col("blk") == first_match)
    else:
        deduped = cand.dropDuplicates(["id_a", "id_b"])
    return deduped.select("id_a", "id_b", hamming.alias("hamming"))


def winnow_fingerprints(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    portable: bool = True,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — public algorithm): hash every word ``k``-gram, slide a
    ``w``-window over the hash sequence, keep the minimum hash per window,
    emit the distinct ``(doc_id, fp)`` set.  Guarantee: any shared token run
    of length ≥ w + k − 1 between two documents produces at least one shared
    fingerprint, while keeping only ~2/(w+1) of the k-gram hashes — the
    sub-sampling that makes substring-overlap detection affordable where the
    full n-gram posting index (``ngram_jaccard_pairs``) is not.

    Spark-first: both passes are higher-order array functions inside one
    whole-stage-codegen projection chain (split → k-gram hashes →
    per-window ``array_min`` → explode); the only shuffle is the final
    distinct.  ``portable=True`` (default) builds md5-prefix hashes
    (``_portable_token_hash``, 15 hex chars = 60 bits) so the DuckDB
    oracle reproduces them bit-for-bit; ``portable=False`` hashes each
    token once with ``xxhash64`` and takes the n-ary xxhash of the k
    token-hashes per gram — no string allocation at all, measured 2.6×
    faster at 200k docs (the same trade `_shingle_hash_df` documents) —
    use it wherever the fingerprint is internal (the overlap join).

    No reference file:line — driver-mandated extension family (SURVEY §7
    step 7 / §8)."""
    df = ensure_parallelism(df)
    toks = F.split(F.trim(F.lower(F.col(content_col))), r"\s+")
    if portable:
        gram_idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
        grams = F.transform(
            gram_idx,
            lambda i: _portable_token_hash(
                F.array_join(F.slice(toks, (i + 1).cast("int"), k), " "), 15
            ),
        )
        # __h must be materialized in its own projection: each window lambda
        # references it, and inlining would re-evaluate the whole k-gram hash
        # array per window (the O(tokens²) trap measured in _shingle_hash_df)
        hashed = df.select(
            F.col(id_col).alias("doc_id"),
            F.when(F.size(toks) >= k, grams)
            .otherwise(F.array().cast("array<bigint>"))
            .alias("__h"),
        )
    else:
        # two-stage: token-hash array materialized first (multi-referenced
        # alias blocks CollapseProject — see _shingle_hash_df), then the
        # n-ary gram hash over element_at lookups
        th_df = df.select(
            F.col(id_col).alias("doc_id"),
            F.transform(toks, lambda t: F.xxhash64(t)).alias("__th"),
        )
        th = F.col("__th")
        gram_idx = F.sequence(F.lit(0), F.greatest(F.size(th) - k, F.lit(0)))
        grams = F.transform(
            gram_idx,
            lambda i: F.xxhash64(
                *[F.element_at(th, (i + j + 1).cast("int")) for j in range(k)]
            ),
        )
        hashed = th_df.select(
            "doc_id",
            F.when(F.size(th) >= k, grams)
            .otherwise(F.array().cast("array<bigint>"))
            .alias("__h"),
        )
    h = F.col("__h")
    win_idx = F.sequence(F.lit(0), F.greatest(F.size(h) - w, F.lit(0)))
    wins = (
        F.when(
            F.size(h) >= w,
            F.transform(
                win_idx,
                lambda j: F.array_min(F.slice(h, (j + 1).cast("int"), w)),
            ),
        )
        # fewer grams than one full window: the single clipped window —
        # the min of everything (matches the oracle's clipped frame)
        .when(F.size(h) >= 1, F.array(F.array_min(h)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return (
        hashed.select("doc_id", F.explode(wins).alias("fp"))
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    min_shared: int = 3,
    max_fp_freq: int | None = 1000,
    portable: bool = True,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints — the
    plagiarism/substring-overlap detector built on ``winnow_fingerprints``.

    Same inverted-index pair generation as ``ngram_jaccard_pairs`` (one
    groupBy(fp) posting list, pairs exploded in-array, no self-join) but over
    the winnowed ~2/(w+1) sub-sample instead of every shingle, so the posting
    index is ~w/2× smaller for the same guarantee floor.  ``max_fp_freq``
    caps posting-list length — the skew/blowup guard at scale."""
    fps = winnow_fingerprints(
        df, content_col, id_col, k=k, w=w, portable=portable
    )
    members = F.array_sort(F.collect_list(F.col("doc_id")))
    posting = fps.groupBy("fp").agg(members.alias("m"))
    if max_fp_freq is not None:
        posting = posting.filter(F.size("m") <= max_fp_freq)
    pair_arr = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.transform(
                F.slice(F.col("m"), i + 2, F.size(F.col("m"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        posting.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def duplicated_span_profile(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 16,
    min_freq: int = 2,
) -> DataFrame:
    """Sliding-window exact substring dedup profile: for every position, hash
    the ``window_tokens``-token window starting there; a token is DUPLICATED
    if ANY window covering it occurs ≥ ``min_freq`` times corpus-wide.  The
    per-doc duplicated-token fraction is the quality/dedup signal (the
    suffix-array substring-dedup recipe approximated at fixed granularity:
    every exact duplicate substring of ≥ ``window_tokens`` tokens is caught;
    shorter ones are not — the granularity bound IS the scalability trade).

    Unlike ``text.dedup_chunks`` (aligned disjoint chunks, first-occurrence
    reassembly) this catches duplicates at ANY offset, so shifted copies
    still collide.

    Scale shape: window hashes via the n-ary ``xxhash64`` over token hashes
    (no substring materialization, same trick as ``_shingle_hash_df``); ONE
    shuffle to count window-hash frequencies, one 8-byte-key join back
    (AQE-broadcast while the hot set fits), then the covered-token union is
    computed per doc with in-array interval arithmetic — no second
    explode-shuffle.  Output: (doc_id, n_tokens, n_windows, n_dup_windows,
    dup_token_frac).
    """
    df = ensure_parallelism(df)
    toks = F.split(F.trim(F.col(content_col)), r"\s+")
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("__th"),
    )
    th = F.col("__th")
    n_win = F.greatest(F.size(th) - window_tokens + 1, F.lit(0))
    idx = F.sequence(F.lit(0), F.greatest(n_win - 1, F.lit(0)))
    wh = F.when(
        F.size(th) >= window_tokens,
        F.transform(
            idx,
            lambda i: F.xxhash64(
                *[
                    F.element_at(th, (i + k + 1).cast("int"))
                    for k in range(window_tokens)
                ]
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    base = hashed.select(
        "doc_id", F.size(th).alias("n_tokens"), wh.alias("__wh")
    )
    ex = base.select("doc_id", F.posexplode("__wh").alias("pos", "h"))
    freq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("f"))
    dup_pos = (
        ex.join(freq.filter(F.col("f") >= min_freq), "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("dups"))
    )
    # union of [pos, pos+W-1] intervals over the sorted duplicate positions:
    # each start contributes min(W, next_start - start) covered tokens —
    # a single fold over the bounded per-doc array, no UDF.
    starts = F.col("dups")
    covered = F.when(F.size(starts) == 0, F.lit(0)).otherwise(
        F.aggregate(
            F.zip_with(
                starts,
                F.concat(
                    F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(1))),
                    F.array(F.lit(None).cast("int")),
                ),
                lambda s, nxt: F.least(
                    F.coalesce(nxt - s, F.lit(window_tokens)),
                    F.lit(window_tokens),
                ),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
    )
    return (
        base.join(dup_pos, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.size("__wh").alias("n_windows"),
            F.coalesce(F.size("dups"), F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce(covered, F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_token_frac"),
        )
    )


def band_buckets(
    sig: DataFrame,
    bands: int,
    rows: int,
    id_alias: str = "id",
) -> DataFrame:
    """(id_alias, band, bucket) rows from a signature frame — THE band
    layout of the LSH index (bucket = xxhash64 of the band's ``rows``
    signature components).  Single source of truth shared by
    ``build_lsh_index``, ``query_lsh_index`` and the streaming
    ``neardup_filter_sink``: the persisted params row validates only the
    (n, num_hashes, bands) counts, so layout drift between copies of this
    loop would silently probe a different bucket space."""
    out = None
    for bi in range(bands):
        part = sig.select(
            F.col("id").alias(id_alias),
            F.lit(bi).alias("band"),
            F.xxhash64(
                *[F.col(f"h{bi * rows + r}") for r in range(rows)]
            ).alias("bucket"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def build_lsh_index(
    docs: DataFrame,
    path: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Persist a MinHash-LSH near-dup index: the text twin of
    ``similarity.build_ivf_index``.

    Layout: ``{path}/buckets`` = (doc_id, bucket) rows PARTITIONED BY BAND
    (probing band b reads one directory — partition pruning is the index);
    ``{path}/signatures`` = full signatures for Jaccard estimation at query
    time.  Rebuild cadence = corpus ingest cadence; both writes are one
    shuffle each.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(docs, content_col, id_col, n, num_hashes)
    sig.write.mode("overwrite").parquet(f"{path}/signatures")
    # index params travel WITH the index: a probe under different (n,
    # num_hashes, bands) would join a different hash layout and silently
    # match garbage — query_lsh_index validates against this row.
    from cerebro_spark.operators.util import small_df

    small_df(
        docs.sparkSession,
        [(n, num_hashes, bands)], "n int, num_hashes int, bands int",
    ).write.mode("overwrite").parquet(f"{path}/params")
    sig = docs.sparkSession.read.parquet(f"{path}/signatures")
    bucket_rows = band_buckets(sig, bands, rows)
    (
        bucket_rows.repartition(bands, "band")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(f"{path}/buckets")
    )


def query_lsh_index(
    spark,
    path: str,
    probe_docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Online near-dup lookup: which indexed documents collide with each
    (broadcast-sized) probe document, verified by estimated Jaccard over the
    stored signatures.  One bucket equi-join (probe side broadcast) + one
    signature join — the fact-table side is only the collision set.  Returns
    (probe_id, match_id, est_jaccard) above ``threshold``.

    Probe params must equal the index's persisted build params (validated —
    a mismatched hash layout would silently match garbage).

    Generation-aware: a store compacted online
    (``sinks.compact_neardup_index_online``) carries a ``GENERATION``
    pointer naming the live ``g=N`` subtree; the pointer is resolved ONCE
    per call, so a concurrent compaction flip lands between probes, never
    inside one."""
    from cerebro_spark.operators.util import resolve_index_root

    return _query_lsh_root(
        spark,
        resolve_index_root(path),
        probe_docs,
        content_col=content_col,
        id_col=id_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )


def _query_lsh_root(
    spark,
    path: str,
    probe_docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    before_batch: "int | None" = None,
) -> DataFrame:
    """``query_lsh_index`` pinned to an EXPLICIT root directory (no
    generation resolution) — the online sink probes every still-on-disk
    root during a compaction transition window and needs to address each
    tree directly.

    ``before_batch``: restrict the fact side to index partitions with
    ``__batch < before_batch`` (the sink-owned per-batch layout).  This is
    the sink's replay guard — a replayed batch must probe the exact index
    state its first run saw, so its own batch's entries (including an
    intra-batch near-dup partner, which the intra-batch contract keeps)
    can never drop its docs on retry."""
    stored = spark.read.parquet(f"{path}/params").collect()[0]
    built = (stored["n"], stored["num_hashes"], stored["bands"])
    if built != (n, num_hashes, bands):
        raise ValueError(
            f"LSH index at {path} was built with (n, num_hashes, bands)="
            f"{built}; probe requested {(n, num_hashes, bands)}"
        )
    rows = num_hashes // bands
    # the signature computation (shingling + num_hashes min-aggregates)
    # feeds every per-band branch AND the verification join — persist so it
    # runs once, not bands+1 times
    psig = minhash_signatures(
        probe_docs, content_col, id_col, n, num_hashes
    ).persist()
    pbuckets = band_buckets(psig, bands, rows, id_alias="probe_id")
    idx = spark.read.parquet(f"{path}/buckets")
    if before_batch is not None:
        idx = idx.filter(F.col("__batch") < before_batch)
    cand = (
        idx.join(F.broadcast(pbuckets), ["band", "bucket"])
        .filter(F.col("id") != F.col("probe_id"))
        .select("probe_id", F.col("id").alias("match_id"))
        .distinct()
    )
    isig = spark.read.parquet(f"{path}/signatures")
    if before_batch is not None:
        isig = isig.filter(F.col("__batch") < before_batch)
    est = sum(
        (F.col(f"h{i}") == F.col(f"p{i}")).cast("int") for i in range(num_hashes)
    ) / float(num_hashes)
    renamed = F.broadcast(
        psig.select(
            F.col("id").alias("probe_id"),
            *[F.col(f"h{i}").alias(f"p{i}") for i in range(num_hashes)],
        )
    )
    return (
        cand.join(isig, cand.match_id == isig.id)
        .join(renamed, "probe_id")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("probe_id", "match_id", "est_jaccard")
    )


def _check_jaccard_threshold(threshold: float) -> None:
    # threshold > 1 would make the prefix length |d| − ⌈t·|d|⌉ + 1 negative
    # and fail deep inside the Spark job; t <= 0 has no prefix bound at all
    if not 0 < threshold <= 1:
        raise ValueError(
            f"Jaccard threshold must be in (0, 1]; got {threshold!r}"
        )


def prefix_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join by PREFIX FILTERING (the
    AllPairs family, Bayardo et al. WWW'07): every pair with
    ``jaccard ≥ threshold`` is returned, with no false negatives — the
    exactness complement to the probabilistic MinHash-LSH candidate join.

    Why this scales where the full inverted-index join
    (:func:`ngram_jaccard_pairs`) pays for every shared token: under a
    global token order (rarest df first), a pair at Jaccard ≥ t MUST share
    a token inside each side's first ``|d| − ⌈t·|d|⌉ + 1`` tokens — so only
    that prefix is indexed.  At t=0.9 a 100-token doc indexes 11 tokens
    instead of 100, and because prefixes are the RAREST tokens, posting
    lists stay short exactly where the full index blows up (stopwords).
    Candidates additionally pass the length filter
    ``t·max(|a|,|b|) ≤ min(|a|,|b|)`` in-array before materializing.

    Candidate generation is a superset; the true intersection is then
    recomputed by joining candidates back onto the token table, so the
    OUTPUT is independent of the prefix heuristics — jaccard =
    ``|∩| / (|a|+|b|−|∩|)`` is a single division of exact integers
    (engine-deterministic, no rounding).

    Plan: one distinct tokenization, one combinable groupBy for token
    document frequency, one doc-keyed groupBy that sorts each doc's
    (df, token) list in-array and slices its prefix, posting-list pair
    explosion over PREFIX postings only, and one re-join on (candidate,
    token) for verification.  ``threshold`` must lie in (0, 1].

    Reference parity: no reference counterpart — dedup extension family
    (driver brief).
    """
    _check_jaccard_threshold(threshold)
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(content_col)), r"\s+")).alias("w"),
    ).distinct()
    # read by the prefix build AND the verification join; MEMORY_AND_DISK
    # and LRU-evictable, left persisted like pagerank's edge cache
    # (release is the session's LRU policy, not the operator's — an eager
    # unpersist here would force the re-tokenization on every consumer)
    tok = tok.cache()
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("__df"))
    # pre-aggregated prefix build (r12, same restructure as
    # cross_jaccard_pairs): ONE doc-keyed combinable groupBy collects
    # (df, token), sorts IN-ARRAY and slices the prefix — replacing the
    # size join + per-doc row_number Window whose exchange AQE coalesced
    # to one task.  sort_array on struct(__df, w) is lexicographic
    # (__df asc, w asc), exactly the replaced window order, and the slice
    # bound keeps the downward epsilon: IEEE t·n can land a hair ABOVE an
    # exact integer (0.28·25 = 7.000000000000001 → ceil 8, one prefix
    # token too few → a boundary pair at J = t could be missed); the
    # epsilon only ever LENGTHENS the prefix (a safe superset).  The
    # doc-keyed repartition satisfies the aggregate's distribution (no
    # second exchange) and pins the explode's width AQE-proof.
    lists = (
        tok.join(dfreq, "w")
        .repartition(default_parallelism(tok.sparkSession), F.col("id"))
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("w")))
            ).alias("__a")
        )
    )
    nsz = F.size("__a").cast("long")
    plen = (
        nsz - F.ceil(F.lit(threshold) * nsz - F.lit(1e-9)) + 1
    ).cast("int")
    prefix = (
        lists.select(
            "id",
            nsz.alias("n"),
            F.explode(F.slice(F.col("__a"), 1, plen)).alias("__s"),
        )
        .select("id", "n", F.col("__s.w").alias("w"))
    )
    members = F.array_sort(F.collect_list(F.struct(F.col("id"), F.col("n"))))
    # explicit spread before the posting-list aggregate: the in-array pair
    # explode downstream is a compute blowup AQE's byte-based coalescing
    # folds into one task on small inputs (REPARTITION_BY_NUM is
    # AQE-proof; at scale this exchange is required anyway)
    posting = prefix.repartition(
        default_parallelism(tok.sparkSession), F.col("w")
    ).groupBy("w").agg(members.alias("m"))
    pair_arr = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.filter(
                F.transform(
                    F.slice(F.col("m"), i + 2, F.size(F.col("m"))),
                    lambda y: F.struct(
                        x["id"].alias("id_a"),
                        y["id"].alias("id_b"),
                        x["n"].alias("n_a"),
                        y["n"].alias("n_b"),
                    ),
                ),
                # same downward epsilon as the prefix-length ceil below:
                # IEEE t·max can land a hair above an exact integer
                # (0.28·25 = 7.000000000000001 > 7) and silently drop a
                # TRUE boundary pair at J = t before verification
                lambda p: F.lit(threshold)
                * F.greatest(p["n_a"], p["n_b"])
                - F.lit(1e-9)
                <= F.least(p["n_a"], p["n_b"]),
            ),
        )
    )
    cand = (
        posting.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .distinct()
        # spread before the verification re-join, keyed on id_a — the
        # verify join's OWN key (VERDICT r11 #2: a pair-keyed spread does
        # not satisfy the join's required distribution, so at a scale
        # where the token side stops broadcasting Spark would add its own
        # exchange on id_a and the spread becomes an extra full shuffle;
        # keying on id_a gives the same AQE-proof width pin now and a
        # reusable distribution later).  The token fan-out is a compute
        # blowup AQE's byte-based coalescing folds into one task on small
        # inputs; REPARTITION_BY_NUM is AQE-proof, cluster-width-adaptive.
        .repartition(
            default_parallelism(tok.sparkSession), F.col("id_a")
        )
    )
    ta = tok.select(F.col("id").alias("id_a"), "w")
    tb = tok.select(F.col("id").alias("id_b"), "w")
    verified = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "w"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )
    return verified


def cross_jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT cross-corpus token-Jaccard join: every (left, right) pair
    with ``jaccard ≥ threshold`` as ``(id_l, id_r, inter, jaccard)`` —
    the asymmetric twin of :func:`prefix_jaccard_pairs` (AllPairs/PPJoin
    prefix filtering, Bayardo WWW'07 / Xiao WWW'08) for joins where the
    two sides are DIFFERENT corpora (train × eval benchmark, corpus ×
    blocklist).  Unlike unioning both sides into the self-join, no
    left×left or right×right candidate is ever generated — at a typical
    decontamination scale (1e9 train × 1e5 eval) that is the whole cost.

    Correctness: under any SHARED total token order, a pair at J ≥ t
    must share a token within each side's first ``|d| − ⌈t·|d|⌉ + 1``
    tokens (the prefix theorem's counting argument — if every shared
    token sat outside d's prefix, the overlap could not reach ⌈t·|d|⌉).
    The global order here is (document frequency in RIGHT, token) —
    rarity on the small side keeps its posting lists short; the order
    choice affects only candidate COUNT, never the result, because every
    candidate's true intersection is recomputed before the threshold.
    The same 1e-9 downward epsilon as the self-join guards the IEEE
    ceil/length-filter boundaries.

    Plan: tokenize both sides (distinct), one combinable groupBy for the
    right-side doc freq, one doc-keyed groupBy per side that sorts each
    doc's (df, token) list in-array and slices its prefix, one equi-join
    of prefix tokens (the candidate join), and one verification re-join
    on (id, token).  No cross product anywhere.  ``threshold`` must lie
    in (0, 1].

    Reference parity: no reference counterpart — dedup extension family
    (driver brief).
    """
    from cerebro_spark.operators.util import ensure_parallelism

    _check_jaccard_threshold(threshold)

    def toks(df: DataFrame, name: str) -> DataFrame:
        # tokenize + explode + the distinct's partial aggregate run on the
        # scan's partitions — spread a sub-split input first (measured: a
        # 10.5 s single-task stage at sf0.1; no-op on a multi-split scan)
        return ensure_parallelism(df).select(
            F.col(id_col).alias(name),
            F.explode(
                F.split(F.trim(F.col(content_col)), r"\s+")
            ).alias("w"),
        ).distinct()

    tl = toks(left, "id_l").cache()
    tr = toks(right, "id_r").cache()
    # shared global token order: (df in RIGHT asc, token asc) — tokens
    # absent from the right side get df 0 (sorted first; they can't
    # produce candidates, which only costs prefix slots, never recall)
    dfreq = tr.groupBy("w").agg(F.count(F.lit(1)).alias("__df"))

    def prefixes(tok: DataFrame, name: str) -> DataFrame:
        # pre-aggregated prefix build (r12, VERDICT r11 #4): one combinable
        # groupBy per doc collects (df, token), sorts IN-ARRAY and slices
        # the prefix — replacing the join-on-size + per-doc row_number
        # Window whose exchange AQE coalesced to ONE task (the window +
        # candidate join + pair filter then all rode that task).  The
        # explicit repartition BEFORE the aggregate is keyed on the doc id
        # — it satisfies the aggregate's required distribution (no second
        # exchange) and REPARTITION_BY_NUM pins the width AQE-proof, so
        # the slice + explode + candidate join downstream run cluster-wide.
        # Order parity with the replaced window: sort_array on
        # struct(__df, w) is lexicographic (__df asc, w asc) — exactly the
        # row_number ordering; the slice bound is the same epsilon-guarded
        # ceil, so the prefix SET is identical token for token.
        lists = (
            tok.join(dfreq, "w", "left")
            .fillna({"__df": 0})
            .repartition(default_parallelism(tok.sparkSession), F.col(name))
            .groupBy(name)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__df"), F.col("w")))
                ).alias("__a")
            )
        )
        n = F.size("__a").cast("long")
        plen = (
            n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)) + 1
        ).cast("int")
        return (
            lists.select(
                F.col(name),
                n.alias("n"),
                F.explode(F.slice(F.col("__a"), 1, plen)).alias("__s"),
            )
            .select(name, "n", F.col("__s.w").alias("w"))
        )

    pl = prefixes(tl, "id_l").select(
        "w", "id_l", F.col("n").alias("n_l")
    )
    pr = prefixes(tr, "id_r").select(
        "w", "id_r", F.col("n").alias("n_r")
    )
    cand = (
        pl.join(pr, "w")
        .filter(
            # length filter: t·max ≤ min (epsilon as above) — a pair
            # failing it cannot reach J = t regardless of overlap
            F.lit(threshold) * F.greatest(F.col("n_l"), F.col("n_r"))
            - F.lit(1e-9)
            <= F.least(F.col("n_l"), F.col("n_r"))
        )
        .select("id_l", "id_r", "n_l", "n_r")
        .distinct()
        # explicit spread keyed on id_l — the verification join's OWN key
        # (VERDICT r11 #2: the earlier (id_l, id_r) key did not satisfy
        # the join's required distribution, so once the token side stops
        # broadcasting at scale Spark would add its own exchange on id_l
        # and the spread became an extra full shuffle of the candidates;
        # id_l gives the same width pin now, a reusable distribution
        # later).  The verification re-join fans each candidate out to
        # all its tokens — a compute blowup AQE's byte-based coalescing
        # cannot see (it folded the whole verify chain into ONE task at
        # sf0.1: 10.5 s of the query's 11.5).  REPARTITION_BY_NUM is
        # AQE-proof; defaultParallelism tracks the cluster.
        .repartition(
            default_parallelism(left.sparkSession), F.col("id_l")
        )
    )
    return (
        cand.join(tl, "id_l")
        .join(tr, ["id_r", "w"])
        .groupBy("id_l", "id_r", "n_l", "n_r")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_l") + F.col("n_r") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_l", "id_r", "inter", "jaccard")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    method: str = "exact",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Near-dup-aware decontamination: flag every TRAIN document that is
    a near-duplicate (token Jaccard ≥ ``threshold``) of ANY document in
    an EVAL benchmark — the step every training-data pipeline must run
    before reporting eval numbers, since a contaminated train set
    memorizes the benchmark.  Returns one row per contaminated train
    doc: ``(id_col, n_eval_matches, max_jaccard, first_eval_id)`` (the
    lowest-id matching eval doc, for audit).  Anti-join the result
    against the corpus to get the clean train set.

    ``method='exact'`` (default, the oracle-gated path) routes through
    :func:`cross_jaccard_pairs` — prefix filtering, NO false negatives:
    if a contaminated doc exists, it is flagged.  ``method='minhash'``
    generates candidates by banded MinHash LSH across the two corpora
    (same signature family as :func:`minhash_lsh_pairs`, shared hash
    coefficients so both sides band identically) and then EXACTLY
    verifies each candidate's true token Jaccard — false positives are
    impossible, false negatives only where LSH banding misses a pair
    (P(miss) = (1−s^r)^b, <1e-4 at J=0.9 with 32/8 defaults); use it
    when the train side is too hot-tokened for prefix postings.

    Scale shape: the eval benchmark is the SMALL side by construction
    (1e3–1e6 docs vs 1e9 train) — its postings/signatures are cheap, and
    every join here is an equi-join keyed on token or band bucket; the
    final per-train-doc rollup is one combinable groupBy.

    Reference parity: no reference counterpart — composes the dedup
    extension family (driver brief).
    """
    if method == "exact":
        pairs = cross_jaccard_pairs(
            train, eval_df, content_col, id_col, threshold
        )
    elif method == "minhash":
        sig_t = minhash_signatures(
            train, content_col, id_col, n, num_hashes
        )
        sig_e = minhash_signatures(
            eval_df, content_col, id_col, n, num_hashes
        )
        rows = num_hashes // bands

        def banded(sig: DataFrame, name: str) -> DataFrame:
            band_cols = [
                F.concat_ws(
                    "_",
                    F.lit(bi),
                    *[F.col(f"h{bi * rows + r}") for r in range(rows)],
                )
                for bi in range(bands)
            ]
            return sig.select(
                F.col("id").alias(name),
                F.explode(F.array(*band_cols)).alias("bucket"),
            )

        cand = (
            banded(sig_t, "id_l")
            .join(banded(sig_e, "id_r"), "bucket")
            .select("id_l", "id_r")
            .distinct()
        )

        def toks(df: DataFrame, name: str) -> DataFrame:
            return df.select(
                F.col(id_col).alias(name),
                F.explode(
                    F.split(F.trim(F.col(content_col)), r"\s+")
                ).alias("w"),
            ).distinct()

        tl, tr = toks(train, "id_l"), toks(eval_df, "id_r")
        sl = tl.groupBy("id_l").agg(F.count(F.lit(1)).alias("n_l"))
        sr = tr.groupBy("id_r").agg(F.count(F.lit(1)).alias("n_r"))
        pairs = (
            cand.join(tl, "id_l")
            .join(tr, ["id_r", "w"])
            .groupBy("id_l", "id_r")
            .agg(F.count(F.lit(1)).alias("inter"))
            .join(sl, "id_l")
            .join(sr, "id_r")
            .withColumn(
                "jaccard",
                F.col("inter")
                / (F.col("n_l") + F.col("n_r") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_l", "id_r", "inter", "jaccard")
        )
    else:
        raise ValueError(
            f"method must be 'exact' or 'minhash'; got {method!r}"
        )
    return (
        pairs.groupBy("id_l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval_matches"),
            F.max("jaccard").alias("max_jaccard"),
            F.min("id_r").alias("first_eval_id"),
        )
        .select(
            F.col("id_l").alias(id_col),
            "n_eval_matches",
            "max_jaccard",
            "first_eval_id",
        )
    )


def dedup_savings(
    df: DataFrame,
    text_col: str = "text",
    size_col: str = "n_chars",
) -> DataFrame:
    """Exact-duplicate SAVINGS estimate — ONE row ``(n_docs, n_groups,
    n_dup_docs, bytes_total, bytes_dup, dup_ratio, max_group)``: how
    much of the corpus is literal repetition, in documents AND bytes,
    before anyone runs the dedup.  The sizing number for the dedup
    stage itself: bytes_dup is the storage/compute a dedup_exact pass
    recovers, max_group flags a template flood (one page mirrored
    thousands of times behaves differently from diffuse 2x dups).

    Grouping key is md5(text) (the dedup_exact convention).  All
    outputs are exact integer counts/sums except dup_ratio — one
    division, rounded 6 dp.

    Scale shape: one combinable hash-group aggregate over the corpus,
    one 1-row reduce.  No window, no join, no collect.

    Reference parity: no reference counterpart — dedup-planning
    extension next to dedup_exact/dedup_groups (driver brief).
    """
    dec = "decimal(38,0)"
    groups = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__c"),
            F.sum(F.col(size_col).cast(dec)).alias("__bytes"),
            F.min(F.col(size_col).cast("long")).alias("__sz"),
        )
    )
    agg = groups.agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(
            F.when(F.col("__c") > 1, F.col("__c") - 1).otherwise(0)
        ).cast("long").alias("n_dup_docs"),
        F.sum("__bytes").alias("__bt"),
        F.sum(
            (F.col("__c") - 1).cast(dec) * F.col("__sz")
        ).alias("__bd"),
        F.max("__c").alias("max_group"),
    )
    return agg.select(
        "n_docs",
        "n_groups",
        "n_dup_docs",
        F.col("__bt").cast("long").alias("bytes_total"),
        F.col("__bd").cast("long").alias("bytes_dup"),
        F.when(
            F.col("__bt") > 0,
            F.round(
                F.col("__bd").cast("double") / F.col("__bt").cast("double"),
                6,
            ),
        ).alias("dup_ratio"),
        "max_group",
    )
