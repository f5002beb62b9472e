"""Densest-subgraph extraction by parallel greedy peeling (Charikar's
2-approximation in the Bahmani-Kumar-Vassilvitskii MapReduce
formulation) — "find the mutually-densest host cluster", the dense-
subgraph primitive behind link-farm discovery (Gibson-Kumar-Tomkins
2005 shingle mining targets exactly these) and community seeding.

Sequential Charikar peeling (repeatedly remove the single min-degree
vertex; the best-density prefix is a 2-approx of the densest subgraph)
is inherently serial — |V| rounds. The parallel relaxation (Bahmani et
al., VLDB 2012) removes IN ONE BATCH every vertex whose degree is at
most 2(1+eps) times the current average density rho = |E|/|V|; at
least an eps/(2+2eps) fraction of vertices leaves each round, so the
schedule is O(log_{1+eps} n) rounds and the best round's vertex set is
a 2(1+eps)-approximation. With eps = 1/2 (the pinned setting) the
removal test is exact-integer:

    remove v  iff  deg(v) * nv * 2 <= 6 * ne        (deg <= 3 * rho)

and the per-round density rides as micro-units ne * 10^6 DIV nv —
every comparison integer, both engines bit-identical.

What the gate certifies is the DETERMINISTIC SCHEDULE: same graph,
same rounds, same per-round (nv, ne, density) trace, same best-round
vertex set, on both engines. On the planted-farm gate graph the
background (avg degree ~4.6) peels away under the farm clique's
degree-7 floor, so the best round isolates the farm EXACTLY — the
gate is structurally non-vacuous, not a whole-graph formality.

Shape at 10^12 edges: each round is one degree aggregation over the
surviving edge table + one broadcast of a one-row (nv, ne) aggregate +
one anti-join removal — the same per-round shape as k-core peeling
(graphstats.kcore_peel), with O(log n) rounds (~60 at 10^12 vertices,
eps = 1/2). Survivor state is a vertex-id table, checkpointed per
round through the shared lineage breaker; no driver materialization of
anything data-sized.

Cites Charikar (APPROX 2000) and Bahmani-Kumar-Vassilvitskii (VLDB
2012) for what is computed. No reference counterpart
(/root/reference covers no graph-density operator); the operator
generalizes the reference's entity-graph analyses to spam-farm
discovery per SURVEY.md's web-scale extension plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.rounds import lineage_breaker

DS_EPS_NUM = 3  # removal threshold = (2 * DS_EPS_NUM / DS_EPS_DEN) * rho
DS_EPS_DEN = 2  # eps = 1/2  ->  threshold 3 * rho
DS_ROUNDS = 16  # >= log_{3/2}(nv) rounds guarantee an empty fixpoint
DS_SCALE = 1_000_000


def _sym(und: DataFrame) -> DataFrame:
    return und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def _peel(und: DataFrame, rounds: int) -> tuple[DataFrame, DataFrame]:
    """Runs the batch peel; returns (schedule, tagged):
    schedule = (round, nv, ne, dens_1e6) one row per executed round,
    tagged = (v, round) every vertex alive at each round's start."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("densest")
    brk = lineage_breaker(und)
    e0 = _persist("densest", und.select("a", "b").distinct())

    nodes = brk(_sym(e0).select(F.col("u").alias("v")).distinct())
    sched: list[DataFrame] = []
    tagged: list[DataFrame] = []
    nv_val: int | None = None
    for t in range(rounds):
        edges = (
            e0.join(nodes.withColumnRenamed("v", "a"), "a")
            .join(nodes.withColumnRenamed("v", "b"), "b")
        )
        stat = brk(
            nodes.agg(F.count("*").cast("long").alias("nv")).crossJoin(
                edges.agg(F.coalesce(F.count("*"), F.lit(0)).cast("long").alias("ne"))
            )
        )
        # one-row checkpointed aggregate; reading it is a driver-sized
        # scalar of the kcore_peel fixpoint-probe class — it gates the
        # early exit AND the loud budget-exhaustion guard below.
        nv_val = int(stat.collect()[0]["nv"])
        if nv_val == 0:
            break
        sched.append(
            stat.select(
                F.lit(t).cast("long").alias("round"),
                "nv",
                "ne",
                F.expr(f"ne * {DS_SCALE} DIV nv").cast("long").alias("dens_1e6"),
            )
        )
        tagged.append(nodes.select("v", F.lit(t).cast("long").alias("round")))
        deg = (
            _sym(edges)
            .groupBy(F.col("u").alias("v"))
            .agg(F.count("*").cast("long").alias("deg"))
        )
        nodes = brk(
            nodes.join(deg, "v", "left")
            .withColumn("deg", F.coalesce("deg", F.lit(0)))
            .crossJoin(F.broadcast(stat))
            .where(
                F.col("deg") * F.col("nv") * DS_EPS_DEN
                > 2 * DS_EPS_NUM * F.col("ne")
            )
            .select("v")
        )
    if nv_val is None or nv_val > 0:
        raise RuntimeError(
            f"densest_peel: vertex set not empty after {rounds} rounds "
            f"({nv_val} left) — the eps=1/2 guarantee removes >= 1/3 of "
            "vertices per round, so raise rounds to >= log_1.5(|V|)"
        )
    sched_df = sched[0]
    for r in sched[1:]:
        sched_df = sched_df.unionByName(r)
    tagged_df = tagged[0]
    for m in tagged[1:]:
        tagged_df = tagged_df.unionByName(m)
    return sched_df, tagged_df


def densest_peel(und: DataFrame, rounds: int = DS_ROUNDS) -> DataFrame:
    """(round, nv, ne, dens_1e6) — the parallel peel schedule: surviving
    vertex/edge counts and micro-unit density at the START of each
    round, until the vertex set empties. Isolated vertices peel
    immediately (degree 0 clears any threshold), matching sequential
    Charikar."""
    sched, _ = _peel(und, rounds)
    return sched


def densest_core(und: DataFrame, rounds: int = DS_ROUNDS) -> DataFrame:
    """(v, round, dens_1e6) — the vertex set alive at the best-density
    round of the peel schedule (max dens_1e6, earliest round on ties):
    Charikar's 2(1+eps)-approximate densest subgraph. The winning round
    is a one-row broadcast join against the tagged survivor table,
    never a driver decision."""
    sched, tagged = _peel(und, rounds)
    best = sched.orderBy(F.desc("dens_1e6"), F.asc("round")).limit(1)
    return tagged.join(
        F.broadcast(best.select("round", "dens_1e6")), "round"
    ).select("v", "round", "dens_1e6")
