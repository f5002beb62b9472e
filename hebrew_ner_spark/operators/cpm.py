"""Critical-path scheduling (CPM) over a dependency DAG: ASAP/ALAP
start times, slack, and the critical set, in exact integers.

Why this is engine work: a 10^12-document pipeline is itself a DAG of
stage dependencies (extract -> segment -> mention -> link ->
canonicalize; per-partition compaction before merge; snapshot before
expire), and the crawl plane schedules host-fetch waves under
dependency edges (canonical-before-mirror, robots-before-fetch). The
classic project-scheduling answers — earliest/latest start and which
stages have zero slack — are pure max-plus / min-plus relaxations,
i.e. join+aggregate rounds, the same shape as every iterative operator
here (weighted_reach is the min-plus twin over paths; this is the
scheduling-semantics variant with node durations).

Model (activity-on-node CPM, all BIGINT):

* DAG: the planted host graph ORIENTED by vertex order (a -> b for
  a < b) — acyclic by construction; duration
  dur(v) = (v * 13 + 7) % 20 + 5, deterministic on both engines.
* ASAP(v) = max over predecessors (ASAP(u) + dur(u)), sources 0 —
  the earliest-start fixpoint.
* makespan T = max_v ASAP(v) + dur(v).
* LS(v) = min over successors (LS(s)) - dur(v), sinks T - dur(v) —
  the latest-start fixpoint. NOTE the pinned convention: LS(v)
  descends from successors' latest STARTS, not finishes — a stage
  may overlap-feed its successor (streamed handoff), which is the
  realistic contract for pipeline stages and keeps both fixpoints
  the same max-plus shape.
* slack = LS - ASAP; critical iff slack = 0 (always a nonempty set:
  the chain realizing T).

Execution: both fixpoints run a FIXED round budget (relaxation is
idempotent past convergence, so extra rounds are free of semantics —
no per-round driver probes); ONE final probe re-relaxes once more and
RAISES if anything still moves (the budget-exhaustion discipline).
Rounds go through the shared lineage breaker. Per round: one
equi-join on the edge's tail + one groupBy-max — vertex-keyed
shuffles only. Round count is the longest dependency chain; stage
DAGs are shallow (tens), host-wave DAGs log-ish — for adversarially
deep chains switch to max-plus DOUBLING over the pair table (the
weighted_reach construction), trading rounds for pair-table size.

No reference counterpart; cites Kelley & Walker (1959) for the
method.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.rounds import lineage_breaker

CPM_ROUNDS = 16  # >= longest chain of the gate DAG (12); probed + raise
DUR_MUL, DUR_ADD, DUR_MOD, DUR_MIN = 13, 7, 20, 5


def dag_edges(und: DataFrame) -> DataFrame:
    """(src, dst) — the undirected (a, b) host graph oriented by vertex
    order: a -> b for a < b. Acyclic by construction."""
    return und.select(F.col("a").alias("src"), F.col("b").alias("dst"))


def node_durations(edges: DataFrame) -> DataFrame:
    """(v, dur) — deterministic activity durations for every vertex."""
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    return verts.withColumn(
        "dur",
        ((F.col("v") * DUR_MUL + DUR_ADD) % DUR_MOD + DUR_MIN).cast("long"),
    )


def _relax(state, edges, durs, brk, rounds, forward: bool):
    """Run ``rounds`` max-plus (forward) / min-plus (backward)
    relaxations; returns (state, one_more) where one_more is the
    (rounds+1)-th relaxation for the convergence probe."""

    def step(cur):
        if forward:
            # cand(v) = max over preds u: asap(u) + dur(u)
            cand = (
                edges.join(
                    cur.withColumnRenamed("v", "src").withColumnRenamed("t", "tu"),
                    "src",
                )
                .join(durs.withColumnRenamed("v", "src").withColumnRenamed("dur", "du"), "src")
                .groupBy(F.col("dst").alias("v"))
                .agg(F.max(F.col("tu") + F.col("du")).alias("cand"))
            )
            return (
                cur.join(cand, "v", "left")
                .select(
                    "v",
                    F.greatest(
                        F.col("t"), F.coalesce("cand", F.col("t"))
                    ).cast("long").alias("t"),
                    (
                        F.greatest(
                            F.col("t"), F.coalesce("cand", F.col("t"))
                        ).cast("long")
                        != F.col("t")
                    ).alias("_chg"),
                )
            )
        # backward: cand(v) = min over succs s: ls(s); then - dur(v)
        cand = (
            edges.join(
                cur.withColumnRenamed("v", "dst").withColumnRenamed("t", "ts"),
                "dst",
            )
            .groupBy(F.col("src").alias("v"))
            .agg(F.min("ts").alias("cand"))
        )
        return (
            cur.join(cand, "v", "left")
            .join(durs, "v")
            .select(
                "v",
                F.least(
                    F.col("t"),
                    F.coalesce(F.col("cand") - F.col("dur"), F.col("t")),
                ).cast("long").alias("t"),
                (
                    F.least(
                        F.col("t"),
                        F.coalesce(F.col("cand") - F.col("dur"), F.col("t")),
                    ).cast("long")
                    != F.col("t")
                ).alias("_chg"),
            )
        )

    for _ in range(rounds):
        # the _chg flag is computed inside the transition for free, so
        # fixpoint detection is one filter count on the checkpointed
        # round table (r5) — rounds past the fixpoint are provably
        # no-ops (the relaxation is monotone and idempotent) that would
        # otherwise still pay their joins and checkpoint.
        nxt = brk(step(state))
        done = nxt.where(F.col("_chg")).limit(1).count() == 0
        state = nxt.select("v", "t")
        if done:
            break
    return state, step(state)


def cpm_schedule(und: DataFrame, rounds: int = CPM_ROUNDS) -> DataFrame:
    """(vertex, dur, asap, ls, slack, critical) — the full CPM table
    over the order-oriented DAG of ``und``."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("cpm")
    brk = lineage_breaker(und)
    edges = _persist("cpm", dag_edges(und))
    durs = _persist("cpm", node_durations(edges))

    asap0 = durs.select("v", F.lit(0).cast("long").alias("t"))
    asap, probe = _relax(brk(asap0), edges, durs, brk, rounds, forward=True)
    moved = probe.withColumnRenamed("t", "t2").join(asap, "v").where(
        F.col("t2") != F.col("t")
    ).count()
    if moved:
        raise RuntimeError(
            f"cpm_schedule: ASAP still moving after {rounds} rounds "
            f"({moved} vertices) — dependency chain exceeds the budget"
        )
    asap = brk(asap)

    mk = asap.join(durs, "v").agg(
        F.max(F.col("t") + F.col("dur")).alias("mk")
    )
    ls0 = durs.crossJoin(F.broadcast(mk)).select(
        "v", (F.col("mk") - F.col("dur")).cast("long").alias("t")
    )
    ls, probe = _relax(brk(ls0), edges, durs, brk, rounds, forward=False)
    moved = probe.withColumnRenamed("t", "t2").join(ls, "v").where(
        F.col("t2") != F.col("t")
    ).count()
    if moved:
        raise RuntimeError(
            f"cpm_schedule: ALAP still moving after {rounds} rounds "
            f"({moved} vertices)"
        )

    return (
        durs.join(asap.withColumnRenamed("t", "asap"), "v")
        .join(ls.withColumnRenamed("t", "ls"), "v")
        .select(
            F.col("v").alias("vertex"),
            "dur",
            "asap",
            "ls",
            (F.col("ls") - F.col("asap")).cast("long").alias("slack"),
            (F.col("ls") == F.col("asap")).cast("long").alias("critical"),
        )
    )
