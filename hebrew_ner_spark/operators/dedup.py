"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The training-data curation core. Design points that matter at 100 TB:

* **Exact dedup** groups by a content hash — the shuffle key is the 32-char
  md5, uniformly distributed, so no skew regardless of how many copies of
  one page exist; the heavy `text` column never shuffles (column pruning:
  only the hash + doc_id move).
* **MinHash/LSH** materializes a (doc, seed, minhash) signature table whose
  size is H rows/doc independent of document length; candidate generation
  is a self-equi-join on (band, band_key) — banding bounds the join
  fan-out, and identical-band mega-clusters are exactly the AQE skew-join
  case (enabled in session.py).
* **Verification** computes exact k-gram Jaccard only for LSH candidates —
  the quadratic step never touches non-candidate pairs.
* **SimHash** is computed array-side per document with higher-order
  functions (zero Python, zero shuffle); near-pair blocking splits the
  60-bit key into 4 x 15-bit bands (Hamming distance <= 3 guarantees a
  shared band; we verify with bit_count(xor)).

All hashes are the portable 60-bit md5 prefix (functions/hashing.py), so
the DuckDB oracles reproduce every signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.functions.hashing import (
    MINHASH_P,
    minhash_coeffs,
    phash_sql_expr,
    shingles_col,
)
from hebrew_ner_spark.operators.kg import with_tokens
from hebrew_ner_spark.plans.buckets import bucket_overflow, bucket_pairs

SHINGLE_K = 3          # word k-grams for MinHash / Jaccard
NUM_HASHES = 16        # MinHash signature length
LSH_BANDS = 4          # 4 bands x 4 rows
SIMHASH_BITS = 60
SIMHASH_BANDS = 4      # 4 x 15-bit blocks
HAMMING_MAX = 3        # verified Hamming radius
MAX_BUCKET = 4096      # pairwise-explosion ceiling per band bucket


def doc_shingles(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """Long distinct (doc_id, shingle) table (Jaccard verification input,
    where per-doc distinctness IS the semantics)."""
    return (
        with_tokens(docs)
        .withColumn("sh", shingles_col("toks", k))
        .select("doc_id", F.explode("sh").alias("shingle"))
    )


def _shingle_rows(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """NON-distinct (doc_id, shingle) rows on the whole-stage-codegen fast
    path: k shifted slices of the token array zipped and exploded, then one
    concat — no higher-order functions anywhere. transform/array_distinct
    (shingles_col) are codegen-fallback, interpreted per element; on a
    1.28M-doc corpus this zip shape measured 1.9x faster end-to-end and
    lifted the 2->8-core scaling efficiency of the signature pass from
    ~0.55 to ~0.88 (interpreted eval's allocation churn was the
    scaling killer, not the shuffle). Duplicate shingles are fine for
    every min-aggregation consumer: a duplicate cannot change a minimum,
    so signatures and band keys are bit-identical to the distinct form.
    """
    toks = with_tokens(docs).select("doc_id", "toks")
    n_grams = f"greatest(size(toks) - {k - 1}, 0)"
    zipped = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                *[F.expr(f"slice(toks, {i + 1}, {n_grams})") for i in range(k)]
            )
        ).alias("g"),
    )
    return zipped.select(
        "doc_id", F.concat_ws(" ", *[f"g.{i}" for i in range(k)]).alias("shingle")
    )


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """(text_md5, n_docs, canonical_doc_id) for texts appearing > once.

    The canonical representative is the minimum doc_id — deterministic, so
    a rerun (resume) picks identical survivors.
    """
    return (
        docs.select("doc_id", F.md5("text").alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def _minhash_wide(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, h0..hH-1): one md5 per shingle + H universal-hash
    derivations (a_s * base + b_s mod 2^31-1, exact in int64) — the
    classic one-strong-hash MinHash family. All H mins still come out of
    ONE aggregation pass with map-side partials; md5 runs once per
    shingle instead of H times (the measured hot spot of the dedup
    chain)."""
    base = sh.withColumn(
        "b31", F.expr(f"{phash_sql_expr('shingle', 0)} % {MINHASH_P}")
    )
    aggs = [
        F.min(F.expr(f"({a}L * b31 + {b}L) % {MINHASH_P}")).alias(f"h{s}")
        for s, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return base.groupBy("doc_id").agg(*aggs)


def minhash_signatures(docs: DataFrame, num_hashes: int = NUM_HASHES, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, seed, minhash): H-row signature per document.

    One shuffle (groupBy doc_id) with H min-aggregates computed in a single
    pass; map-side partial aggregation keeps reducer input at H values per
    doc per partition. Documents with < k tokens have no shingles and are
    excluded (nothing to sign).
    """
    wide = _minhash_wide(_shingle_rows(docs, k), num_hashes)
    stack_args = ", ".join(f"{s}, h{s}" for s in range(num_hashes))
    return wide.select(
        "doc_id",
        F.expr(f"stack({num_hashes}, {stack_args}) AS (seed, minhash)"),
    ).select("doc_id", F.col("seed").cast("long").alias("seed"), "minhash")


def band_keys_from_shingles(
    sh: DataFrame, bands: int = LSH_BANDS, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """(doc_id, band, band_key) from ANY (doc_id, shingle) table — md5 of
    each band's minhash sub-signature. ``doc_id`` may be any groupable
    type (the fuzzy entity-linking tier keys by surface string). One
    aggregation pass; the signature never exceeds num_hashes values/key."""
    rows = num_hashes // bands
    wide = _minhash_wide(sh, num_hashes)
    band_cols = [
        F.md5(F.concat_ws("_", *[F.col(f"h{b * rows + r}") for r in range(rows)])).alias(f"b{b}")
        for b in range(bands)
    ]
    wide = wide.select("doc_id", *band_cols)
    stack_args = ", ".join(f"{b}, b{b}" for b in range(bands))
    return wide.select(
        "doc_id",
        F.expr(f"stack({bands}, {stack_args}) AS (band, band_key)"),
    ).select("doc_id", F.col("band").cast("long").alias("band"), "band_key")


def _band_keys(docs: DataFrame, bands: int = LSH_BANDS, num_hashes: int = NUM_HASHES, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, band, band_key) over word-shingled documents (codegen
    zip-shingle fast path; min-aggregation makes distinctness irrelevant)."""
    return band_keys_from_shingles(_shingle_rows(docs, k), bands, num_hashes)


def _doc_pairs(keyed: DataFrame, cap: int) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs of doc_ids sharing a (band,
    band_key) bucket of at most ``cap`` docs (``plans.buckets``)."""
    return (
        bucket_pairs(keyed, ["band", "band_key"], "doc_id", cap)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(docs: DataFrame, cap: int = MAX_BUCKET) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one LSH band bucket.

    Bucket sizes follow the corpus duplicate-cluster distribution — AQE
    splits oversized shuffle partitions at runtime; buckets beyond ``cap``
    are excluded here and surfaced by ``lsh_overflow``. A duplicate
    cluster of 10^6 boilerplate pages would otherwise build a
    10^12-entry pair array inside one row; ``near_dup_pairs_all``
    connects such giants through Jaccard-verified hub edges instead.
    """
    return _doc_pairs(_band_keys(docs), cap)


def lsh_overflow(docs: DataFrame, cap: int = MAX_BUCKET) -> DataFrame:
    """(band, band_key, n_docs) for LSH buckets above the pairwise cap."""
    return bucket_overflow(
        _band_keys(docs), ["band", "band_key"], "doc_id", cap
    ).withColumnRenamed("n", "n_docs")


def giant_bucket_groups(docs: DataFrame, cap: int = MAX_BUCKET) -> DataFrame:
    """Exact-hash report for mega buckets: documents whose LSH band
    bucket exceeds ``cap`` grouped by full text hash — (band, band_key,
    text_md5, n_docs, canonical_doc_id). A bucket that large is a
    boilerplate cluster; identical-text grouping shows its duplicate
    structure in O(n). This is a report: the production path,
    ``near_dup_pairs_all``, connects giants through Jaccard-verified hub
    edges. The band-key join is an equi-join; the giant-bucket side is
    tiny (one row per overflowing bucket) and broadcast."""
    keyed = _band_keys(docs)
    giants = bucket_overflow(keyed, ["band", "band_key"], "doc_id", cap).select(
        "band", "band_key"
    )
    members = keyed.join(F.broadcast(giants), ["band", "band_key"])
    return (
        members.join(docs.select("doc_id", F.md5("text").alias("text_md5")), "doc_id")
        .groupBy("band", "band_key", "text_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def near_dup_jaccard(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = SHINGLE_K,
    cap: int = MAX_BUCKET,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard >= threshold.

    (doc_a, doc_b, jaccard_1e6). The exact intersection join touches only
    candidate pairs; |intersection| comes from one join + count, |union|
    from per-doc shingle counts (|A| + |B| - |A∩B|). Pairs inside over-cap
    mega buckets are NOT generated here — consumers that must not lose
    giant clusters (duplicate-component building) use
    ``near_dup_pairs_all``, which unions Jaccard-verified hub edges for
    them.
    """
    return _verify_jaccard_pairs(lsh_candidate_pairs(docs, cap), docs, threshold, k)


def _verify_jaccard_pairs(
    pairs: DataFrame, docs: DataFrame, threshold: float, k: int
) -> DataFrame:
    """Exact shingle-Jaccard verification of an arbitrary (doc_a, doc_b)
    candidate table — the quadratic step always bounded to its input."""
    sh = doc_shingles(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    # |A ∩ B| per candidate pair: attach A's shingles, semi-match B's.
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("shingle"))
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            # exact integer round-half-up: (2a*1e6 + b) DIV 2b — avoids
            # DECIMAL-vs-DOUBLE quantization differences across engines
            "jaccard_1e6",
            F.expr("CAST((2 * (n_inter) * 1000000 + (n_a + n_b - n_inter)) DIV (2 * (n_a + n_b - n_inter)) AS BIGINT)"),
        )
        .where(F.col("jaccard_1e6") >= int(threshold * 1_000_000))
        .select("doc_a", "doc_b", "jaccard_1e6")
    )


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash over token occurrences.

    Computed entirely array-side: hash each token, accumulate a 60-wide
    +/-1 counter vector with aggregate+zip_with, re-pack sign bits. One
    narrow codegen stage, no shuffle, no Python.
    """
    tok_hash = phash_sql_expr("t", 0)
    expr = f"""
      aggregate(
        zip_with(
          aggregate(
            transform(toks, t -> {tok_hash}),
            array_repeat(0L, {bits}),
            (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                                 (c, j) -> c + CASE WHEN (shiftright(h, CAST(j AS INT)) & 1) = 1
                                                    THEN 1 ELSE -1 END)),
          sequence(0, {bits - 1}),
          (c, j) -> CASE WHEN c > 0 THEN shiftleft(1L, CAST(j AS INT)) ELSE 0L END),
        0L, (a, x) -> a + x)
    """
    return with_tokens(docs).select("doc_id", F.expr(expr).alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = HAMMING_MAX, cap: int = MAX_BUCKET
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs within Hamming radius via band blocking.

    60 bits split into 4 x 15-bit blocks: any pair with distance <= 3 shares
    at least one identical block (pigeonhole), so blocking loses nothing.
    Blocks beyond ``cap`` members are excluded from the pair explosion
    (same mega-cluster guard as the LSH path) and reported by
    ``simhash_overflow``. Delegates to ``hamming_near_pairs_from_sigs`` —
    the signature-agnostic form shared with image aHash.
    """
    return hamming_near_pairs_from_sigs(
        simhash(docs).select("doc_id", "simhash"), "simhash", max_hamming, cap
    )


def _block_keys(sigs: DataFrame, sig_col: str, band_bits: int = 15) -> DataFrame:
    """(doc_id, ``sig_col``, band, bval): the 4 x ``band_bits``-bit block
    keys of a signature — ONE definition shared by the pair generator and
    the overflow counter, so the two can never count different buckets."""
    return sigs.select(
        "doc_id",
        sig_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), "
                f"b -> named_struct('band', CAST(b AS BIGINT), "
                f"'bval', shiftright({sig_col}, CAST(b * {band_bits} AS INT))"
                f" & {(1 << band_bits) - 1}))"
            )
        ).alias("bk"),
    ).select(
        "doc_id", sig_col, F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval")
    )


def simhash_overflow(docs: DataFrame, cap: int = MAX_BUCKET) -> DataFrame:
    """(band, bval, n_docs) for SimHash blocks above the pairwise cap."""
    return bucket_overflow(
        _block_keys(simhash(docs), "simhash"), ["band", "bval"], "doc_id", cap
    ).withColumnRenamed("n", "n_docs")


def near_dup_pairs_all(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = SHINGLE_K,
    cap: int = MAX_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b) near-duplicate pairs with giant clusters connected
    in O(n), not lost: Jaccard-verified pairs from capped buckets UNION
    hub-and-spoke edges for over-cap buckets — each member is paired with
    its bucket's minimum doc_id and the pair is Jaccard-verified exactly
    like any other candidate. A 10^6-copy boilerplate cluster contributes
    10^6 - 1 verified hub edges instead of 10^12 pairwise edges, and
    near-identical (not byte-identical) giants connect too, because hub
    verification uses the same shingle Jaccard, not a text-hash equality.
    Known bound: members similar to each other but dissimilar to the hub
    doc fail hub verification and stay separate (the full pairwise answer
    inside a giant bucket is exactly the quadratic blow-up this path
    exists to avoid). This is the input the dedup-components stage
    consumes; the overflow counter still reports every capped bucket.
    """
    keyed = _band_keys(docs, k=k)
    verified = _verify_jaccard_pairs(
        _doc_pairs(keyed, cap), docs, threshold, k
    ).select("doc_a", "doc_b")
    # one members pass: rows of over-cap buckets only
    members = keyed.join(
        F.broadcast(
            bucket_overflow(keyed, ["band", "band_key"], "doc_id", cap).select(
                "band", "band_key"
            )
        ),
        ["band", "band_key"],
    ).select("band", "band_key", "doc_id")
    hubs = members.groupBy("band", "band_key").agg(
        F.min("doc_id").alias("doc_a")
    )
    hub_cands = (
        members.join(hubs, ["band", "band_key"])
        .where(F.col("doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    hub_verified = _verify_jaccard_pairs(hub_cands, docs, threshold, k).select(
        "doc_a", "doc_b"
    )
    return verified.unionByName(hub_verified).distinct()


def lsh_probe_delta(
    base_docs: DataFrame, delta_docs: DataFrame, cap: int = MAX_BUCKET
) -> DataFrame:
    """(doc_a, doc_b): near-dup candidate pairs involving at least one
    DELTA document — incremental dedup-index maintenance, the only shape
    that survives a 10^12-doc corpus ingesting daily crawls. The base
    corpus's band-key table is the stored index (in production an
    Iceberg table carried across crawls — here recomputed because the
    sandbox has no persisted index, but the base side is touched ONLY
    by that one signature read, never re-banded per pair); the delta
    signs only its own documents, then

    * cross pairs: delta band keys equi-join the base index on
      (band, band_key) — shuffle bounded by delta size plus matching
      index rows;
    * intra pairs: the normal capped array-side pair generation among
      the delta itself.

    Contract (gated): probe(base, delta) == full-corpus
    lsh_candidate_pairs(base UNION delta) restricted to pairs with a
    delta member, whenever no combined bucket exceeds ``cap`` (the gate
    asserts that loudly, as cc_dedup_components does). Base-index
    buckets above ``cap`` are excluded from the cross join the same way
    the pair generator excludes them (``near_dup_pairs_all`` connects
    mega-buckets through verified hub edges).
    """
    base_keys = _band_keys(base_docs)
    delta_keys = _band_keys(delta_docs)
    # exclude over-cap index buckets from the probe fan-out
    over = bucket_overflow(base_keys, ["band", "band_key"], "doc_id", cap)
    cross = (
        delta_keys.select("band", "band_key", F.col("doc_id").alias("_d"))
        .join(over.select("band", "band_key"), ["band", "band_key"], "left_anti")
        .join(
            base_keys.select("band", "band_key", F.col("doc_id").alias("_b")),
            ["band", "band_key"],
        )
        .where(F.col("_d") != F.col("_b"))
        .select(
            F.least("_d", "_b").alias("doc_a"),
            F.greatest("_d", "_b").alias("doc_b"),
        )
        .distinct()
    )
    intra = _doc_pairs(delta_keys, cap)
    return cross.unionByName(intra).distinct()


def hamming_near_pairs_from_sigs(
    sigs: DataFrame,
    sig_col: str = "simhash",
    max_hamming: int = HAMMING_MAX,
    cap: int = MAX_BUCKET,
    band_bits: int = 15,
) -> DataFrame:
    """(doc_a, doc_b, hamming): band-blocked Hamming pairs over ANY
    signature table (doc_id, ``sig_col``) of 4 x ``band_bits`` bits — the
    SimHash blocking generalized so other perceptual signatures reuse the
    identical lossless pigeonhole plan: 60-bit SimHash and image aHash
    (multimodal.image_ahash) use 4 x 15-bit blocks, 16-bit SRP role
    signatures (graphstats.similar_roles) 4 x 4-bit blocks; any pair
    within radius 3 shares a block. Over-``cap`` blocks are excluded from
    the pair explosion (``plans.buckets``), and the signature rides the
    member struct so Hamming verifies without a re-join.
    """
    blocks = _block_keys(
        sigs.select("doc_id", F.col(sig_col).alias("_sig")), "_sig", band_bits
    )
    return (
        bucket_pairs(blocks, ["band", "bval"], F.struct("doc_id", "_sig"), cap)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("CAST(bit_count(a._sig ^ b._sig) AS BIGINT)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def lsh_bucket_histogram(docs: DataFrame) -> DataFrame:
    """(bucket, n_buckets, pair_mass) — the LSH band-bucket size
    distribution in log2 buckets (bucket = bitlen(size)), with the
    CANDIDATE-PAIR MASS sum(n*(n-1)/2) each size class would generate.

    The pre-flight observability read for the dedup path: pair
    explosion is quadratic in bucket size, so the pair-mass column —
    not the bucket count — says where the cost lives and whether the
    MAX_BUCKET cap will engage (any bucket with bitlen > 12 overflows
    at the 4096 cap). One (band, key) count + one 64-row-bounded
    aggregate; the histogram is what a scheduler inspects BEFORE
    deciding to run the pair join at all — the same metadata-first
    discipline as maint_manifest_prune.
    """
    sizes = _band_keys(docs).groupBy("band", "band_key").agg(
        F.count("*").alias("n")
    )
    bucket = F.when(F.col("n") <= 0, F.lit(0)).otherwise(
        F.length(F.expr("bin(n)"))
    )
    return (
        sizes.select(
            bucket.cast("long").alias("bucket"),
            F.col("n"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(F.expr("n * (n - 1) DIV 2")).cast("long").alias("pair_mass"),
        )
    )
