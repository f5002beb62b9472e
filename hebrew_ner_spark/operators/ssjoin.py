"""Exact set-similarity join with prefix filtering (AllPairs / PPJoin
family — Bayardo et al. WWW'07, Vernica et al. SIGMOD'10 for the
MapReduce formulation).

The EXACT complement to the approximate MinHash-LSH path in
``operators/dedup.py``: LSH trades false negatives for speed; the prefix
filter is lossless — every pair with shingle-set Jaccard >= t shares at
least one element in its frequency-ordered prefix, so candidate
generation from a prefix inverted index misses nothing. Both operators
use the SAME similarity (Jaccard over distinct word-k-shingle sets,
``dedup.doc_shingles``), which pins a cross-operator invariant: at equal
threshold, ``ssjoin_pairs`` is a superset of ``near_dup_jaccard``
(pytest-gated). The exact join is the tool when "no false negatives" is
a contract — e.g. eval-set decontamination before training.

Why shingles and not raw tokens: a token-set join on a web corpus is
adversarially dense (every page shares the stopword vocabulary, so the
TRUE result is quadratic in near-duplicate-free text); k-shingles are
discriminative, so both the candidate index and the answer stay sparse.

Shape at 10^12 docs:

* the shingle document-frequency table is one map-side-combined
  aggregate (distinct-shingle-sized);
* ordering rarest-first builds the candidate index from the RAREST
  (1 - t) fraction of each doc's shingles — boilerplate shingles land in
  suffixes and never key a bucket, which is the point of the ordering;
* candidate generation is one aggregation per prefix shingle + an
  array-side pair explosion (``plans.buckets``), with the shared hard
  cap + non-silent overflow contract: a prefix shingle shared by more
  than the effective cap of docs is excluded from pair generation and
  surfaced count-only (``ssjoin_routing_report``, ``ssjoin_overflow``);
* the size filter den*min(s_a,s_b) >= num*max(s_a,s_b) prunes the
  exploded pairs (J(x,y) <= min/max, exact integer cross-multiply);
* exact verification touches only candidates: one shingle-keyed
  intersection join + per-doc set sizes, |A∪B| = |A|+|B|-|A∩B|.

The threshold is an integer fraction num/den so the keep decision
(den * n_inter >= num * n_union) is exact in both engines — no float
ever enters a gated column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hebrew_ner_spark.operators.dedup import SHINGLE_K, _shingle_rows
from hebrew_ner_spark.plans.buckets import bucket_overflow, bucket_pairs

SSJ_NUM = 5     # default Jaccard threshold 5/10 = 0.5 (near_dup_jaccard's)
SSJ_DEN = 10
SSJ_CAP = 4096  # pairwise-explosion ceiling per prefix shingle

# Occupancy budget (round 5): total candidate pairs admitted to the exact
# tier are capped at this many PER CORPUS DOCUMENT. The static SSJ_CAP
# bounds one bucket; it does not bound the SUM — on a vocabulary-saturated
# corpus every prefix bucket's occupancy grows with corpus size and the
# exact tier goes quadratic long before any bucket hits 4096 (measured:
# 70.9x wall at 10x docs with p99 occupancy only 95). The budget derives
# an EFFECTIVE per-bucket cap from the occupancy histogram — the largest
# occupancy c such that buckets at <= c together stay within budget —
# and the over-cap remainder is ROUTED to the MinHash-LSH tier
# (exact-verified) instead of exploding or being dropped.
SSJ_PAIRS_PER_DOC = 128

# Containment budget is tighter: verifying one containment candidate
# costs ~|A| intersection rows (the contained side's whole shingle set —
# no size filter exists to shrink it), where the Jaccard tier's
# candidates arrive pre-size-filtered. 48 candidates/doc x ~|A| keeps
# the verify mass per document in the same band as the Jaccard tier's.
CONT_PAIRS_PER_DOC = 48


def _sh_distinct(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """Distinct (doc_id, shingle) via the codegen zip-shingle fast path
    plus ONE dedup exchange. ssjoin consumes the shingle table from four
    plan branches (df, prefix regroup, verify a/b); materializing the
    distinctness as an exchange (rather than the interpreted
    array_distinct HOF of ``dedup.doc_shingles``) lets ReuseExchange run
    the expensive shingling scan once and fan the shuffle files out to
    every branch — measured 2x on the whole join at sf0.1."""
    return _shingle_rows(docs, k).dropDuplicates(["doc_id", "shingle"])


def prefix_shingles(
    docs: DataFrame, num: int = SSJ_NUM, den: int = SSJ_DEN, k: int = SHINGLE_K
) -> DataFrame:
    """(doc_id, s, shingle): each doc's frequency-ordered prefix.

    Shingles sort by (document frequency ASC, shingle ASC) — a total
    order both engines reproduce — and the prefix keeps the first
    p = s - ceil(t*s) + 1 of them (ceil via integer (num*s + den - 1)
    DIV den). Losslessness: if two sets with Jaccard >= t had disjoint
    prefixes, every common element would have to rank after the later
    prefix end, leaving at most ceil(t*s) - 1 slots for an overlap that
    must be >= ceil(t*s) — the standard prefix-filter argument,
    pytest-pinned against brute force.
    """
    sh = _sh_distinct(docs, k)
    df = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("df"))
    ordered = (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ord"),
            F.count("*").cast("long").alias("s"),
        )
    )
    p = f"CAST(s - (({num} * s + {den} - 1) DIV {den}) + 1 AS INT)"
    return ordered.select(
        "doc_id",
        "s",
        F.explode(F.expr(f"slice(transform(ord, x -> x.shingle), 1, {p})")).alias(
            "shingle"
        ),
    )


def _effective_cap(
    occ_src: DataFrame,
    cap: int,
    pairs_per_doc: int,
    directed: bool = False,
) -> DataFrame:
    """1-row (eff_cap long): the largest bucket occupancy c <= cap such
    that all buckets with occupancy <= c together emit at most
    pairs_per_doc x n_docs candidate pairs.

    ``occ_src`` is any (doc_id, <bucket col>) table whose first non-doc
    column is the bucket key. The plan is tiny past the first aggregate:
    the occupancy histogram has O(distinct occupancies) rows, so the
    unpartitioned running-sum window is a non-issue, and the result
    broadcast-crossJoins into the candidate generator — no driver
    collect, works unchanged on a cluster. ``directed`` doubles the
    per-bucket pair weight (containment's ordered-pair generator)."""
    bucket = [c for c in occ_src.columns if c != "doc_id"][0]
    occ = (
        occ_src.groupBy(bucket)
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") > 1)
    )
    hist = occ.groupBy("n").agg(F.count("*").cast("long").alias("cnt"))
    nd = occ_src.agg(F.count_distinct("doc_id").cast("long").alias("nd"))
    weight = "cnt * (n * (n - 1))" if directed else "cnt * (n * (n - 1) DIV 2)"
    w = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum_pairs", F.sum(F.expr(weight)).over(w))
    return (
        cum.crossJoin(F.broadcast(nd))
        .where(F.col("cum_pairs") <= F.col("nd") * pairs_per_doc)
        .agg(F.coalesce(F.max("n"), F.lit(1)).alias("eff_n"))
        .select(F.least(F.col("eff_n"), F.lit(cap)).cast("long").alias("eff_cap"))
    )


def ssjoin_candidates(
    pref: DataFrame, eff: DataFrame, num: int = SSJ_NUM, den: int = SSJ_DEN
) -> DataFrame:
    """Distinct (doc_a < doc_b, s_a, s_b) candidate pairs sharing a
    prefix shingle (``pref``, from ``prefix_shingles``); set sizes ride
    along so verification never has to join them back. ``eff`` is the
    1-row (eff_cap) budget table (``_effective_cap``).

    One aggregation per prefix shingle + array-side pair explosion
    (``plans.buckets``) with the size filter applied to the exploded
    pairs; prefix shingles shared by more than ``eff_cap`` docs are
    excluded here and surfaced (count-only) by ``ssjoin_routing_report``
    and ``ssjoin_overflow`` — excluding them breaks the no-false-negative
    contract loudly, never silently.
    """
    return (
        bucket_pairs(
            # the budget rides in as a broadcast column of the bucket key
            pref.crossJoin(F.broadcast(eff)),
            ["shingle", "eff_cap"],
            F.struct("doc_id", "s"),
            F.col("eff_cap"),
        )
        .where(F.expr(f"{den} * least(a.s, b.s) >= {num} * greatest(a.s, b.s)"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
        )
        .distinct()
    )


def ssjoin_overflow(
    docs: DataFrame,
    num: int = SSJ_NUM,
    den: int = SSJ_DEN,
    cap: int = SSJ_CAP,
    k: int = SHINGLE_K,
) -> DataFrame:
    """(shingle, n_docs) for prefix shingles above the static pairwise
    cap — the docs whose exactness contract the cap suspended.
    Count-only."""
    return bucket_overflow(
        prefix_shingles(docs, num, den, k), ["shingle"], "doc_id", cap
    ).withColumnRenamed("n", "n_docs")


def _over_budget(keyed: DataFrame, eff: DataFrame) -> DataFrame:
    """(shingle, n) for shingles whose distinct-doc count in ``keyed``
    exceeds the effective cap."""
    return bucket_overflow(
        keyed.crossJoin(F.broadcast(eff)),
        ["shingle", "eff_cap"],
        "doc_id",
        F.col("eff_cap"),
    ).select("shingle", "n")


def _routed_candidates(
    sh: DataFrame, pref: DataFrame, eff: DataFrame, num: int, den: int
) -> DataFrame:
    """MinHash-LSH candidates among the docs the exact tier's budget
    excluded: docs carrying an over-budget prefix shingle are re-paired
    through the band-bucket index (its own MAX_BUCKET cap + loud
    overflow apply) and exact-verified downstream. Probabilistic recall
    on this slice is the documented trade — the alternative was either
    the quadratic explosion the budget exists to prevent, or silently
    (well, loudly) dropping the pairs entirely as the pre-round-5 cap
    did. ssjoin ⊇ near_dup_jaccard stays pinned: any LSH-visible pair
    missed by the exact tier has both docs routed here."""
    from hebrew_ner_spark.operators import dedup

    routed_docs = (
        pref.join(_over_budget(pref, eff).select("shingle"), "shingle")
        .select("doc_id")
        .distinct()
    )
    keyed = dedup.band_keys_from_shingles(sh.join(routed_docs, "doc_id"))
    pairs = (
        bucket_pairs(keyed, ["band", "band_key"], "doc_id", dedup.MAX_BUCKET)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("s"))
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b")),
            "doc_b",
        )
        .where(F.expr(f"{den} * least(s_a, s_b) >= {num} * greatest(s_a, s_b)"))
        .select("doc_a", "doc_b", "s_a", "s_b")
    )


def _verify_pairs(cand: DataFrame, sh: DataFrame, num: int, den: int) -> DataFrame:
    """Exact verification of (doc_a, doc_b, s_a, s_b) candidates: one
    shingle-keyed intersection join, |A∪B| = |A|+|B|-|A∩B|, integer
    keep decision."""
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        # s_a/s_b are functional in (doc_a, doc_b) — grouping by them
        # adds no grain, it just carries the sizes through
        .groupBy("doc_a", "doc_b", "s_a", "s_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    return (
        inter.withColumn("n_union", F.expr("s_a + s_b - n_inter").cast("long"))
        .where(F.expr(f"{den} * n_inter >= {num} * n_union"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            # exact integer round-half-up: (2a*1e6 + b) DIV 2b
            F.expr(
                "CAST((2 * n_inter * 1000000 + n_union) DIV (2 * n_union) AS BIGINT)"
            ).alias("jaccard_1e6"),
        )
    )


def ssjoin_pairs(
    docs: DataFrame,
    num: int = SSJ_NUM,
    den: int = SSJ_DEN,
    cap: int = SSJ_CAP,
    k: int = SHINGLE_K,
    pairs_per_doc: int = SSJ_PAIRS_PER_DOC,
) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_union, jaccard_1e6): ALL pairs with
    shingle-set Jaccard >= num/den. The quadratic verify step is bounded
    to candidates. Docs shorter than k tokens have empty shingle sets
    and are excluded — the ``near_dup_jaccard`` convention.

    Candidate generation is budgeted (round 5): the exact prefix tier
    only admits buckets up to the effective occupancy cap
    (``_effective_cap``, never above ``cap``); over-budget buckets are
    ROUTED through the MinHash-LSH index (exact-verified, LSH recall on
    that slice), and ``ssjoin_routing_report`` surfaces the scope of the
    exactness suspension — never silent."""
    sh = _sh_distinct(docs, k)
    pref = prefix_shingles(docs, num, den, k)
    eff = _effective_cap(pref.select("doc_id", "shingle"), cap, pairs_per_doc)
    cand = ssjoin_candidates(pref, eff, num, den).unionByName(
        _routed_candidates(sh, pref, eff, num, den)
    ).distinct()
    return _verify_pairs(cand, sh, num, den)


def ssjoin_routing_report(
    docs: DataFrame,
    num: int = SSJ_NUM,
    den: int = SSJ_DEN,
    cap: int = SSJ_CAP,
    k: int = SHINGLE_K,
    pairs_per_doc: int = SSJ_PAIRS_PER_DOC,
) -> DataFrame:
    """1-row (eff_cap, n_over_shingles, n_routed_docs): how much of the
    corpus the exact tier's budget pushed to the LSH tier. All zeros /
    eff_cap == cap when the budget is idle (small corpora) — the loud
    counterpart of ``ssjoin_overflow`` for the adaptive cap."""
    pref = prefix_shingles(docs, num, den, k)
    eff = _effective_cap(pref.select("doc_id", "shingle"), cap, pairs_per_doc)
    over = _over_budget(pref, eff).select("shingle")
    routed = pref.join(over, "shingle").select("doc_id").distinct()
    return (
        F.broadcast(eff)
        .crossJoin(over.agg(F.count("*").cast("long").alias("n_over_shingles")))
        .crossJoin(routed.agg(F.count("*").cast("long").alias("n_routed_docs")))
    )


CONT_NUM = 9    # containment threshold 9/10 = 0.9
CONT_DEN = 10


def _containment_effective_cap(
    pref: DataFrame, sh: DataFrame, cap: int, pairs_per_doc: int
) -> DataFrame:
    """1-row (eff_cap long) for the container index: largest document
    frequency c <= cap such that shingles with df <= c together emit at
    most pairs_per_doc x n_docs directed candidates. The weight is the
    TRUE per-shingle candidate bound n_pref(s) x (df(s) - 1) — a df^2
    weight overcharges (the prefix side indexes only ~(1-t) of each
    doc's shingles), which both cuts exactness at scales the engine
    easily affords and under-predicts the verify cost."""
    np_ = pref.groupBy("shingle").agg(F.count("*").cast("long").alias("n_pref"))
    df_ = (
        sh.groupBy("shingle")
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") > 1)
    )
    hist = (
        df_.join(np_, "shingle", "left")
        .na.fill({"n_pref": 0})
        .groupBy("n")
        .agg(F.sum(F.expr("n_pref * (n - 1)")).alias("cnt_pairs"))
    )
    nd = sh.agg(F.count_distinct("doc_id").cast("long").alias("nd"))
    w = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum_pairs", F.sum("cnt_pairs").over(w))
    return (
        cum.crossJoin(F.broadcast(nd))
        .where(F.col("cum_pairs") <= F.col("nd") * pairs_per_doc)
        .agg(F.coalesce(F.max("n"), F.lit(1)).alias("eff_n"))
        .select(F.least(F.col("eff_n"), F.lit(cap)).cast("long").alias("eff_cap"))
    )


def containment_pairs(
    docs: DataFrame,
    num: int = CONT_NUM,
    den: int = CONT_DEN,
    cap: int = SSJ_CAP,
    k: int = SHINGLE_K,
    pairs_per_doc: int = CONT_PAIRS_PER_DOC,
) -> DataFrame:
    """(doc_a, doc_b, s_a, s_b, n_inter, cont_1e6): DIRECTED
    near-superset detection — every ordered pair with shingle
    containment C(a->b) = |A∩B| / |A| >= num/den. The asymmetric
    complement to the Jaccard joins: a short quote inside a long page
    has high containment but LOW Jaccard, so both the LSH tier and
    ssjoin_pairs miss it BY DESIGN; this operator is how a pipeline
    finds subsumed documents (quotes, partial mirrors, stale supersets)
    for supersede decisions.

    Prefix filter, containment form: order shingles globally
    (df ASC, shingle ASC); the CONTAINED side keeps its standard
    prefix of s - ceil(t*s) + 1 (if C >= t and the prefix misses B,
    the >= ceil(t*s) common shingles must all sit in a suffix of
    length ceil(t*s) - 1 — contradiction), while the CONTAINER side
    must index its FULL set (no size filter either — any size ratio
    is admissible, which is the point). Shingles shared by more than
    ``cap`` docs are excluded from the index and surfaced count-only
    by ``containment_overflow`` — loud, never silent. Verification
    touches candidates only; the keep decision den*n_inter >= num*s_a
    is exact integer.

    The container-index cap is ADAPTIVE (``_containment_effective_cap``:
    df-histogram with the true n_pref x (df - 1) candidate weight, never
    above ``cap``): on vocabulary-saturated corpora a static cap never
    fires while the sum of per-shingle products goes quadratic (the sf1
    51.7x finding). No approximate fallback tier exists here — LSH
    approximates Jaccard, not asymmetric containment — so over-budget
    shingles are excluded and surfaced by ``containment_overflow``
    (pass the same ``cap`` and ``pairs_per_doc``) rather than routed."""
    sh = _sh_distinct(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("s"))
    pref = prefix_shingles(docs, num, den, k)
    eff = _containment_effective_cap(
        pref.select("doc_id", "shingle"), sh, cap, pairs_per_doc
    )
    index = sh.join(_over_budget(sh, eff), "shingle", "left_anti")
    cand = (
        pref.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"), "shingle")
        .join(
            index.select(F.col("doc_id").alias("doc_b"), "shingle"),
            "shingle",
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "s_a")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "s_a")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    return (
        inter.where(F.expr(f"{den} * n_inter >= {num} * s_a"))
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "s_a",
            "s_b",
            "n_inter",
            F.expr(
                "CAST((2 * n_inter * 1000000 + s_a) DIV (2 * s_a) AS BIGINT)"
            ).alias("cont_1e6"),
        )
    )


def containment_overflow(
    docs: DataFrame,
    cap: int = SSJ_CAP,
    k: int = SHINGLE_K,
    pairs_per_doc: int = CONT_PAIRS_PER_DOC,
) -> DataFrame:
    """(shingle, n_docs) for shingles above the container-index cap of
    ``containment_pairs`` with the same ``cap`` and ``pairs_per_doc`` —
    the documents whose containment contract the cap suspended."""
    sh = _sh_distinct(docs, k)
    pref = prefix_shingles(docs, CONT_NUM, CONT_DEN, k)
    eff = _containment_effective_cap(
        pref.select("doc_id", "shingle"), sh, cap, pairs_per_doc
    )
    return _over_budget(sh, eff).withColumnRenamed("n", "n_docs")
