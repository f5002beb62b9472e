"""Exact edit-distance similarity join via deletion-neighborhood blocking
(FastSS — Bocek et al. 2007; the SymSpell dictionary-lookup variant of
the same idea).

The LOSSLESS complement to the MinHash char-shingle fuzzy tier in
``operators/linking.py`` (tier 4 of ``link_mentions_full``): LSH over
character shingles trades false negatives for speed, while the deletion
neighborhood is exact — if ``ed(u, v) <= k`` then deleting the (at most
k per side) positions an optimal alignment edits leaves a common kernel,
so the <=k-deletion neighborhoods of u and v intersect. Candidate
generation from a variant-keyed equi-join therefore misses NOTHING; an
exact Levenshtein check on candidates only (both engines ship the same
DP built-in) removes the false positives. The same exact-vs-approximate
pairing the doc grain already has (``ssjoin`` vs ``dedup``), now at the
string grain entity linking needs for typo'd surfaces ("tabel",
"custmer") that shingle-LSH can miss at short lengths.

Reference parity: the reference resolves surfaces by exact dictionary
lookup only (utils/functions.py:167-195 tiered exact/lower match); a web
corpus needs the typo-robust tier, and "every true match found" is the
contract eval-grade linking wants — hence the exact formulation.

Shape at 10^12 docs:

* the QUERY side is the distinct-surface vocabulary, not the mention
  table — neighborhood size is sum(len+1) per distinct string for k=1
  (~linear in vocab bytes), generated JVM-side (transform over
  sequence, zero UDF) and hash-partitioned by variant;
* the DICTIONARY side (canonical names + their neighborhoods) is tiny —
  tens of MB even at 10^8 aliases x ~10 variants — and broadcasts, so
  dictionary linking is map-side: NO shuffle of the query vocabulary at
  all beyond its own distinct;
* the SELF-join form buckets by variant with the shared hard ``cap`` +
  non-silent overflow contract (``plans.buckets``): a variant key shared by more
  than ``cap`` strings (short strings collapse aggressively — deleting
  one char from every 2-letter token lands on the same singletons) is
  excluded from pair generation and surfaced by ``ed_overflow``;
* exact verification touches candidates only; Levenshtein's O(len^2) DP
  runs on string pairs already known to share a kernel, and the length
  filter |len(a) - len(b)| <= k prunes inside the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.functions.hashing import phash_col
from hebrew_ner_spark.operators.textstats import with_tokens
from hebrew_ner_spark.plans.buckets import bucket_overflow, bucket_pairs

ED_K = 1            # default edit-distance radius
ED_CAP = 4096       # pairwise-explosion ceiling per variant key
ED_MIN_LEN = 4      # corruption floor for the synthetic typo table
ED_TYPO_SEED = 71   # seed for the deterministic corruption position


def _variants_expr(col: str) -> str:
    """JVM-side 1-deletion neighborhood of a string column INCLUDING the
    string itself (the 0-deletion): array of length len+1, distinct.

    The empty-string guard matters: Spark's sequence(1, 0) is the
    DESCENDING range [1, 0], not empty.
    """
    return f"""
    CASE WHEN length({col}) = 0 THEN array({col})
         ELSE array_distinct(concat(
                array({col}),
                transform(sequence(1, length({col})), i ->
                  concat(substring({col}, 1, i - 1), substring({col}, i + 1)))))
    END
    """


def deletion_variants(strings: DataFrame, col: str, k: int = ED_K) -> DataFrame:
    """(s, variant) — the <=k-deletion neighborhood of each distinct string.

    Built by k rounds of 1-deletion expansion with a distinct between
    rounds (D_{<=k} = D_1 applied k times, union all levels); each round
    is one codegen transform + explode, no UDF. k is small (1 or 2 in
    practice — radius-3 typo matching drowns in false candidates long
    before blocking cost matters).
    """
    out = strings.select(F.col(col).alias("s")).distinct().withColumn(
        "variant", F.col("s")
    )
    frontier = out
    for _ in range(k):
        frontier = (
            frontier.select(
                "s", F.explode(F.expr(_variants_expr("variant"))).alias("variant")
            )
            .distinct()
        )
        out = out.unionByName(frontier).distinct()
    return out


def typo_surfaces(docs: DataFrame, min_len: int = ED_MIN_LEN) -> DataFrame:
    """(intended, surface) — deterministic single-deletion corruptions of
    the corpus vocabulary, the synthetic stand-in for the typo'd surfaces
    raw web text produces.

    Every distinct token of length >= ``min_len`` loses the character at
    position ``h60(token) % len`` (the portable hash, so the DuckDB
    oracle reproduces the exact corruption). By construction each surface
    is at edit distance exactly 1 from its intended token — the planted
    ground truth the linking gates check recall against.
    """
    toks = (
        with_tokens(docs)
        .select(F.explode("toks").alias("intended"))
        .where(F.length("intended") >= min_len)
        .distinct()
    )
    pos = (phash_col(F.col("intended"), ED_TYPO_SEED) % F.length("intended")).alias(
        "pos"
    )
    return toks.select("intended", pos).select(
        "intended",
        F.expr(
            "concat(substring(intended, 1, pos), substring(intended, pos + 2))"
        ).alias("surface"),
    )


def edit_join_dict(
    queries: DataFrame,
    query_col: str,
    names: DataFrame,
    name_col: str,
    k: int = ED_K,
) -> DataFrame:
    """(surface, name, dist) — every (query, dictionary) pair within edit
    distance ``k``, exactly (no false negatives: the FastSS kernel
    argument above; no false positives: Levenshtein verify).

    The dictionary side's whole neighborhood broadcasts (alias
    dictionaries are dimension-sized); the query side's neighborhood is
    generated map-side, so the only exchange on the 10^12-scale side is
    its own vocabulary distinct. Candidates that share several variants
    dedupe BEFORE the Levenshtein DP runs.
    """
    qv = deletion_variants(queries, query_col, k).withColumnRenamed("s", "surface")
    dv = deletion_variants(names, name_col, k).withColumnRenamed("s", "name")
    cand = (
        qv.join(F.broadcast(dv), "variant")
        .select("surface", "name")
        .where(F.abs(F.length("surface") - F.length("name")) <= k)
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("surface", "name").cast("long"))
        .where(F.col("dist") <= k)
    )


def edit_self_pairs(
    strings: DataFrame, col: str, k: int = ED_K, cap: int = ED_CAP
) -> DataFrame:
    """(str_a, str_b, dist) — all unordered distinct-string pairs within
    edit distance ``k`` (str_a < str_b), via the capped variant-bucket
    pair explosion + exact verify. The vocabulary-dedup form: collapses
    spelling variants across a web corpus's token table before they
    inflate the entity dimension.
    """
    pairs = (
        bucket_pairs(deletion_variants(strings, col, k), ["variant"], "s", cap)
        .select(F.col("a").alias("str_a"), F.col("b").alias("str_b"))
        .distinct()
    )
    return (
        pairs.where(F.abs(F.length("str_a") - F.length("str_b")) <= k)
        .withColumn("dist", F.levenshtein("str_a", "str_b").cast("long"))
        .where(F.col("dist") <= k)
    )


def edit_self_overflow(
    strings: DataFrame, col: str, k: int = ED_K, cap: int = ED_CAP
) -> DataFrame:
    """(variant, n_strings) for variant buckets above ``cap`` — the
    non-silent overflow report (count-only; no member arrays)."""
    return bucket_overflow(
        deletion_variants(strings, col, k), ["variant"], "s", cap
    ).withColumnRenamed("n", "n_strings")
