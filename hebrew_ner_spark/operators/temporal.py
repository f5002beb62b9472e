"""Time-respecting reachability over temporal graphs: earliest-arrival
relaxation (Wu, Cheng et al., VLDB 2014 "Path Problems in Temporal
Graphs" — the journey semantics).

Why this is engine work: a crawl/link/event graph is TEMPORAL — an
edge (u, v, t) exists at a moment (a page linked v when crawled at t,
a user touched an item at t), and influence/attribution only flows
along time-NONDECREASING edge sequences (a journey). Static
reachability wildly overstates what can actually propagate: on the
gate graph, 64 hosts are statically reachable from the seed but only
10 temporally — the other 54 are "reachable" only through edges that
fired before the information arrived. Provenance, contamination
tracing ("which hosts could have seen this content"), and cascade
analysis all need the journey semantics, not the static one.

Earliest-arrival is the temporal analogue of BFS distance:

    ea(seed) = 0;  ea(v) = min over edges (u, v, t) with t >= ea(u)
                           of t

computed by relaxation rounds (one equi-join edges x ea on the edge
tail + the usability filter ``t >= ea_src`` + one groupBy-min per
round, merged min into the running table). Rounds are bounded by the
longest minimal journey's hop count; the budget runs fixed (idempotent
past convergence, zero per-round probes) with ONE final probe that
RAISES on non-convergence — the cpm_schedule discipline. Unreachable
vertices carry the pinned INF sentinel (no NULL-semantics divergence
between engines).

``static_reachable`` comes from the SAME relaxation with every
timestamp zeroed (an all-zero temporal graph degenerates to static
closure: an edge is usable iff 0 >= ea(src), i.e. from any reached
vertex) — one operator, both semantics, and the gate's interesting
column is their disagreement.

Scale shape: state is one row per vertex; each round shuffles on the
edge tail / head vertex ids only; the edge table is persisted once.
Journey hop counts on crawl graphs are small (a content cascade is
shallow); for adversarially deep journeys swap in interval doubling
(the weighted_reach construction on the (min, <=) semiring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.rounds import lineage_breaker

EA_INF = 1_000_000_000
EA_ROUNDS = 10
T_MUL_S, T_MUL_D, T_MOD = 7, 13, 50


def temporal_host_edges(und: DataFrame) -> DataFrame:
    """(src, dst, t) — the host graph as a temporal graph: both
    directions, deterministic edge time t = (src*7 + dst*13) % 50
    (asymmetric in direction, so a->b and b->a fire at different
    moments — the property that makes journeys directional)."""
    from hebrew_ner_spark.operators.centrality import sym_edges

    return sym_edges(und).select(
        "src",
        "dst",
        ((F.col("src") * T_MUL_S + F.col("dst") * T_MUL_D) % T_MOD)
        .cast("long")
        .alias("t"),
    )


def _relax_ea(edges, verts, seeds, brk, rounds):
    ea = verts.join(
        seeds.select(F.col("v"), F.lit(0).cast("long").alias("_s")),
        "v",
        "left",
    ).select(
        "v",
        F.coalesce("_s", F.lit(EA_INF)).cast("long").alias("ea"),
    )
    ea = brk(ea)

    def step(cur):
        cand = (
            edges.join(
                cur.select(F.col("v").alias("src"), F.col("ea").alias("ea_s")),
                "src",
            )
            .where(F.col("t") >= F.col("ea_s"))
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("t").alias("cand"))
        )
        return cur.join(cand, "v", "left").select(
            "v",
            F.least(F.col("ea"), F.coalesce("cand", F.col("ea")))
            .cast("long")
            .alias("ea"),
        )

    for _ in range(rounds):
        ea = brk(step(ea))
    probe = step(ea)
    moved = (
        probe.withColumnRenamed("ea", "ea2")
        .join(ea, "v")
        .where(F.col("ea2") != F.col("ea"))
        .count()
    )
    if moved:
        raise RuntimeError(
            f"earliest_arrival: still relaxing after {rounds} rounds "
            f"({moved} vertices) — journey depth exceeds the budget"
        )
    return ea


def earliest_arrival(
    tedges: DataFrame, seeds: DataFrame, rounds: int = EA_ROUNDS
) -> DataFrame:
    """(vertex, earliest_arrival, static_reachable, temporal_reachable)
    — the journey-semantics closure from ``seeds`` (column v), with the
    static closure computed by the same relaxation over zeroed times
    for the disagreement columns."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("temporal_ea")
    brk = lineage_breaker(tedges)
    e = _persist("temporal_ea", tedges.select("src", "dst", "t").distinct())
    verts = _persist(
        "temporal_ea",
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct(),
    )
    ea = _relax_ea(e, verts, seeds, brk, rounds)
    static = _relax_ea(
        e.withColumn("t", F.lit(0).cast("long")), verts, seeds, brk, rounds
    )
    return (
        ea.join(static.withColumnRenamed("ea", "ea0"), "v")
        .select(
            F.col("v").alias("vertex"),
            F.col("ea").alias("earliest_arrival"),
            (F.col("ea0") < EA_INF).cast("long").alias("static_reachable"),
            (F.col("ea") < EA_INF).cast("long").alias("temporal_reachable"),
        )
    )
