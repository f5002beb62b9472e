"""Canopy blocking (McCallum-Nigam-Ungar, KDD 2000) with MIS-chosen
centers — the cheap-metric pre-clustering that bounds which record
pairs the expensive ER scorers (erscore/emlink) ever see.

The textbook algorithm is sequential (pick an arbitrary point, remove
everything within the tight threshold T2, repeat). The engine variant
replaces "arbitrary pick + removal" with a MAXIMAL INDEPENDENT SET on
the tight graph — the same structural guarantee (no two centers within
T2 of each other; every point within T2 of some center or itself a
center), chosen by the deterministic greedy-by-priority Luby rounds
the package already gates (symbreak.luby_mis). MIS-as-canopy-centers
is the standard distributed formulation of canopy selection.

Cheap metric: SHARED MinHash BAND KEYS (0..4) from the gated LSH
pipeline — no text comparison at all:

* tight  (T2): >= 2 shared bands  -> center independence graph;
* loose  (T1): >= 1 shared band   -> canopy membership.

Every document lands in >= 1 canopy: centers cover themselves;
a non-center either has a tight-graph neighbor center (MIS
maximality; tight implies loose, so it joins that canopy) or has no
tight edges at all, in which case it IS a center (isolated vertices
are trivially independent). Documents may belong to several canopies
— that overlap is canopy blocking's recall guarantee.

Shape at 10^12 docs: pair weights come from the capped band-bucket
pair explosion (``plans.buckets``, the dedup plane's candidate
machinery, loud overflow and all); the tight graph is pair-grain, MIS
is O(log n) rounds of neighborhood-min aggregations, membership one
more equi-join. The affine MIS priority ``pmod(id * a + c, m)`` is
injective only while the doc-id domain stays below the prime modulus
``m``: two ids that differ by ``m`` get equal priorities, and a tight
edge between them stalls ``luby_mis``. ``CANOPY_PRIO_MOD`` is pinned
well above the largest generated doc-id domain (~10^5 at sf1).

Cites McCallum-Nigam-Ungar (KDD 2000) and Luby (1986). No reference
counterpart; completes the blocking tier of the ER plane
(metablocking.py prunes blocks, this creates them from a cheap
metric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.buckets import bucket_pairs

CANOPY_T2_BANDS = 2   # tight: >= 2 shared band keys
CANOPY_T1_BANDS = 1   # loose: >= 1 shared band key
CANOPY_PRIO_MOD = 1_000_003  # prime, ~10x the sf1 doc-id domain


def band_pair_weights(docs: DataFrame) -> DataFrame:
    """(a, b, w) — a < b document pairs with the number of shared
    MinHash band keys (the cheap metric), through the capped LSH
    candidate machinery: each shared bucket of <= MAX_BUCKET docs
    contributes one pair row."""
    from hebrew_ner_spark.operators import dedup

    return (
        bucket_pairs(
            dedup._band_keys(docs), ["band", "band_key"], "doc_id", dedup.MAX_BUCKET
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("w"))
    )


def canopy_assign(docs: DataFrame) -> DataFrame:
    """(doc_id, center, is_center) — every document's canopy
    memberships under MIS-chosen centers."""
    from hebrew_ner_spark.operators.symbreak import luby_mis

    pw = band_pair_weights(docs)
    tight = pw.where(F.col("w") >= CANOPY_T2_BANDS).select("a", "b")
    loose = pw.where(F.col("w") >= CANOPY_T1_BANDS).select("a", "b")
    allv = docs.select("doc_id").distinct()
    mis = luby_mis(tight, prio_mod=CANOPY_PRIO_MOD)
    centers = (
        allv.join(
            mis.where(F.col("in_mis") == 1).select(
                F.col("vertex").alias("doc_id")
            ).withColumn("_m", F.lit(1)),
            "doc_id",
            "left",
        )
        .join(
            tight.select(F.col("a").alias("doc_id"))
            .unionByName(tight.select(F.col("b").alias("doc_id")))
            .distinct()
            .withColumn("_t", F.lit(1)),
            "doc_id",
            "left",
        )
        # center = MIS member, or isolated in the tight graph
        .where((F.col("_m") == 1) | F.col("_t").isNull())
        .select(F.col("doc_id").alias("center"))
    )
    sym_loose = loose.unionByName(
        loose.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    member = (
        sym_loose.join(centers.withColumnRenamed("center", "b"), "b")
        .select(F.col("a").alias("doc_id"), F.col("b").alias("center"))
    )
    self_rows = centers.select(
        F.col("center").alias("doc_id"), "center"
    )
    out = member.unionByName(self_rows).distinct()
    return out.join(
        centers.withColumnRenamed("center", "doc_id").withColumn("_c", F.lit(1)),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        "center",
        F.when(F.col("_c") == 1, 1).otherwise(0).cast("long").alias("is_center"),
    )


def canopy_candidate_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) — distinct ordered pairs sharing at least one
    canopy: the comparison set canopy blocking hands the expensive
    scorers. One self-join on the center key (canopy-grain, the
    block-key join every blocking scheme ends in)."""
    asg = canopy_assign(docs)
    a = asg.select("center", F.col("doc_id").alias("doc_a"))
    b = asg.select("center", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "center")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
