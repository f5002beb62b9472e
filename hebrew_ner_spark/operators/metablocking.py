"""Meta-blocking: turn a redundancy-positive block collection into a
pruned comparison graph (Papadakis, Koutrika, Palpanas & Nejdl, TKDE
2014) — the standard recall-preserving way to cut candidate-pair
volume when schema-agnostic blocking over-generates.

The block collection here is SHINGLE BLOCKING (every distinct k-token
shingle is a block — the schema-agnostic token-blocking of the paper,
over shingles instead of bare tokens so blocks carry word order): a
true near-duplicate pair shares MANY shingle blocks, a random
collision one or two, so the number of common blocks is itself a match
signal. Three aggregation-shaped steps exploit it:

1. **Block purging** — drop blocks with more than ``BLOCK_CAP``
   entities. High-df shingles are boilerplate congregations whose
   pairs are near-random; purging removes the quadratic bulk BEFORE
   any pair materializes (count-only aggregation — a 10^6-doc
   boilerplate shingle never builds a member array), while true
   matches remain covered by their other, rarer blocks (redundancy).
   Byte-identical mega clusters lose ALL their blocks this way by
   design: they are connected by dedup.near_dup_pairs_all's
   Jaccard-verified hub edges, not by pairwise comparison — the same
   discipline as the LSH bucket cap (both caps are ``plans.buckets``).
2. **CBS edge weighting** — for every pair sharing >= 1 surviving
   block, weight = Common Blocks Scheme = count of shared blocks. One
   per-block pair explosion (bounded by the cap, so <= cap*(cap-1)/2
   rows per block) + one groupBy(pair) count.
3. **Weighted node pruning (WNP)** — keep an edge iff its weight is
   >= the mean incident-edge weight of BOTH endpoints (the
   conservative both-ends variant; documented, deterministic). The
   mean test is exact-integer: w >= sum_w/deg <=> w * deg >= sum_w,
   so no floats enter the gate.

Shape at 10^12 docs: block sizes are capped before pairs exist; the
edge table is bounded by blocks * cap^2; node weights are entity-grain
aggregates re-joined by key. Every step is groupBy/join on hashed
keys — no driver state, no collect, AQE splits skewed partitions. The
purge report is the non-silent-drop contract for what the cap removed.

No reference counterpart (the reference links against a static
gazetteer); this is the blocking-graph middle layer the north rule's
entity-linking stage needs once blocking over-generates at crawl
scale, sitting between dedup's candidate generation and the
Fellegi-Sunter scorer (operators/erscore.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.operators import dedup
from hebrew_ner_spark.plans.buckets import bucket_overflow, bucket_pairs

BLOCK_CAP = 8  # blocks larger than this are purged (count-only agg)


def entity_blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, block) — the schema-agnostic block collection: every
    distinct k-shingle of the text is a block containing the doc."""
    return dedup.doc_shingles(docs).withColumnRenamed("shingle", "block")


def purged_block_report(docs: DataFrame, cap: int = BLOCK_CAP) -> DataFrame:
    """(block, n_docs) for blocks the purge removed — the non-silent-
    drop contract: what purging discards is reported by a count-only
    aggregation (no member arrays, safe at any block size)."""
    return bucket_overflow(
        entity_blocks(docs), ["block"], "doc_id", cap
    ).withColumnRenamed("n", "n_docs")


def cbs_edges(docs: DataFrame, cap: int = BLOCK_CAP) -> DataFrame:
    """(doc_a, doc_b, cbs) doc_a < doc_b — the weighted blocking graph:
    pairs sharing >= 1 surviving (post-purge) block, weighted by the
    Common Blocks Scheme. Per-block pair fanout is bounded by the purge
    cap, so the explosion is O(blocks * cap^2) worst-case."""
    return (
        bucket_pairs(entity_blocks(docs), ["block"], "doc_id", cap)
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("cbs"))
    )


def wnp_pruned(docs: DataFrame, cap: int = BLOCK_CAP) -> DataFrame:
    """(doc_a, doc_b, cbs) — the meta-blocked comparison graph: CBS
    edges surviving weighted node pruning. An edge survives iff its
    weight clears the mean incident weight of BOTH endpoints, compared
    in exact integers (w * deg >= sum_w). The node-weight table is
    entity-grain (two aggregations over the symmetrized edge list) and
    joins back by doc_id — no floats, no collect."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("metablock_edges")
    edges = _persist("metablock_edges", cbs_edges(docs, cap))
    sym = edges.select(
        F.col("doc_a").alias("v"), F.col("cbs").alias("w")
    ).unionAll(edges.select(F.col("doc_b").alias("v"), F.col("cbs").alias("w")))
    nw = sym.groupBy("v").agg(
        F.sum("w").cast("long").alias("sw"), F.count("*").cast("long").alias("dg")
    )
    # both sides are corpus-grain (edges ~ blocks * cap^2, nw entity-
    # grain) — never gamble a broadcast on a corpus-derived side (the
    # bpe_encode tail-join discipline): pin sort-merge on both joins.
    return (
        edges.hint("merge")
        .join(nw.withColumnRenamed("v", "doc_a"), "doc_a")
        .where(F.col("cbs") * F.col("dg") >= F.col("sw"))
        .drop("sw", "dg")
        .hint("merge")
        .join(nw.withColumnRenamed("v", "doc_b"), "doc_b")
        .where(F.col("cbs") * F.col("dg") >= F.col("sw"))
        .select("doc_a", "doc_b", "cbs")
    )
