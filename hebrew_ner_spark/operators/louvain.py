"""Louvain community detection, phase-1 local-move pass (Blondel et
al. 2008) in a DETERMINISTIC synchronous formulation — the modularity
complement of the package's label-propagation communities
(graphstats.label_propagation finds propagation fixpoints; this
maximizes Newman modularity directly, the objective graph_modularity
already scores).

Classic Louvain sweeps vertices sequentially (each move sees the
previous one), which neither distributes nor replays. The engine
variant makes the schedule deterministic two ways, both standard in
distributed Louvain literature (e.g. Que et al., IPDPS 2015 parallel
Louvain; the same parity trick symbreak.py uses for coloring):

* SYNCHRONOUS PARITY ROUNDS — in round t only vertices with
  v % 2 == t % 2 may move; all moves in a round are evaluated against
  the ROUND-START partition. Alternating halves prevents the
  two-vertex swap oscillation of fully-synchronous local move.
* EXACT-INTEGER GAIN ORDERING — for vertex i with degree k_i, current
  community A, candidate C (the neighboring communities plus A):

      val(C != A) = 2m * k_{i,C}    - k_i * Sigma_tot(C)
      val(A)      = 2m * k_{i,A\\i} - k_i * (Sigma_tot(A) - k_i)

  (the standard delta-Q numerators scaled by the constant 4m^2 — every
  term a BIGINT, the value exact in DECIMAL(38,0): ``modularity_gain``).
  The vertex adopts argmax val with ties broken (stay first, then
  smaller community id), so a fixpoint means no strictly-improving move
  exists — exactly phase-1 termination.

What the gates certify: the full 12-round deterministic schedule
(partition after the budget) AND the modularity pieces of the final
partition through the already-gated netstruct.modularity_pieces — on
the planted-farm graph the farm clique must coalesce into one
community.

Shape at 10^12 edges: per round, one (src, dst-community) aggregation
over the edge table (edge-grain shuffle, the LPA shape), one
community-strength aggregate (community-grain), one per-vertex argmax
window (vertex-grain) — all keyed shuffles, no driver state; the
partition table is vertex-grain and lineage-broken per round. Rounds
are a pinned budget; rounds past the fixpoint are provable identities
(no strict gain exists), the maxcover early-exit discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from hebrew_ner_spark.plans.rounds import lineage_breaker

LV_ROUNDS = 12


def modularity_gain(is_cur) -> F.Column:
    """val(C) = 2m * k_{i,C} - k_i * (Sigma_tot(C) - [C == A] * k_i) over
    the columns m2, kic, k and stot; ``is_cur`` is the [C == A] test.

    Exact in DECIMAL(38,0): each factor is a BIGINT, so each product is
    below 2^126 < 10^38, and both products are non-negative, so their
    difference fits too. In BIGINT the products pass 2^63 at 10^12 edges
    and a hub of 10^7 neighbours: ANSI Spark fails the job there, and
    non-ANSI Spark wraps them silently into a wrong argmax."""

    def d(c):
        return F.col(c).cast("decimal(20,0)")

    own = F.when(is_cur, d("k")).otherwise(F.lit(0).cast("decimal(20,0)"))
    return d("m2") * d("kic") - d("k") * (d("stot") - own)


def louvain_phase1(und: DataFrame, rounds: int = LV_ROUNDS) -> DataFrame:
    """(v, comm) — the partition after the synchronous parity-round
    local-move budget over the undirected (a, b) edge list."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("louvain")
    brk = lineage_breaker(und)
    e = und.select("a", "b").distinct()
    sym = _persist(
        "louvain",
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
            e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        ),
    )
    k = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").cast("long").alias("k")
    )
    m2 = sym.agg(F.count("*").cast("long").alias("m2"))  # 2m
    state = brk(k.select("v", F.col("v").cast("long").alias("comm")))
    for t in range(rounds):
        stot = (
            state.join(k, "v").groupBy("comm").agg(F.sum("k").cast("long").alias("stot"))
        )
        kc = (
            sym.join(state.withColumnRenamed("v", "dst"), "dst")
            .groupBy(F.col("src").alias("v"), F.col("comm").alias("cand"))
            .agg(F.count("*").cast("long").alias("kic"))
        )
        pairs = (
            kc.select("v", "cand")
            .unionByName(state.select("v", F.col("comm").alias("cand")))
            .distinct()
        )
        scored = (
            pairs.join(kc, ["v", "cand"], "left")
            .withColumn("kic", F.coalesce("kic", F.lit(0)))
            .join(state, "v")
            .join(k, "v")
            .join(stot.withColumnRenamed("comm", "cand"), "cand")
            .crossJoin(F.broadcast(m2))
            .select(
                "v",
                "cand",
                F.when(F.col("cand") == F.col("comm"), 1)
                .otherwise(0)
                .alias("is_cur"),
                modularity_gain(F.col("cand") == F.col("comm")).alias("val"),
            )
        )
        best = (
            scored.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("v").orderBy(
                        F.desc("val"), F.desc("is_cur"), F.asc("cand")
                    )
                ),
            )
            .where(F.col("rn") == 1)
            .select("v", F.col("cand").alias("newcomm"))
        )
        state = brk(
            state.join(best, "v", "left").select(
                "v",
                F.when(F.col("v") % 2 == t % 2, F.col("newcomm"))
                .otherwise(F.col("comm"))
                .cast("long")
                .alias("comm"),
            )
        )
    return state


def louvain_modularity(und: DataFrame, rounds: int = LV_ROUNDS) -> DataFrame:
    """(community, n_v, w_in, s_tot, q_num, q_den) — exact modularity
    pieces of the phase-1 partition, through the gated
    netstruct.modularity_pieces (weight 1 per edge)."""
    from hebrew_ner_spark.operators.netstruct import modularity_pieces

    part = louvain_phase1(und, rounds).select(
        F.col("v").alias("entity"), F.col("comm").alias("community")
    )
    wund = und.select("a", "b").distinct().withColumn("n", F.lit(1).cast("long"))
    return modularity_pieces(wund, part)
