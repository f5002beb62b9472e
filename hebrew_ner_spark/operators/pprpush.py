"""Push-based Personalized PageRank with an integer residual
certificate (Andersen, Chung & Lang, FOCS 2006 — the local-computation
PPR that Berkhin's bookmark-coloring and every local-cluster /
similar-entity feature at scale builds on).

Why this is engine work next to the existing power-iteration PPR
(operators/pagerank.py): power iteration touches EVERY vertex every
round — the right plan when you want the whole vector. Push touches
only vertices whose residual is large: mass starts on the seed and is
pushed outward, so the work set is the seed's neighborhood, not the
graph. At 10^12 nodes that asymmetry is the difference between a
feasible per-entity query and an infeasible global job. The push
variant also carries its own error CERTIFICATE: when no residual
exceeds eps * deg(v), the computed pi is within eps of the true PPR
at every vertex (the ACL invariant) — the gate emits the residuals,
so the bound is part of the verified output.

Exact-integer push (mass-conserving by construction):

    while any r(v) > EPS * deg(v), for ALL such v simultaneously:
        gain  = r(v) DIV 4          -> pi(v)     (alpha = 1/4)
        rem   = r(v) - gain
        stay  = rem DIV 2                        (lazy half)
        share = (rem - stay) DIV deg(v)  -> each neighbor's r
        r(v)  = stay + (rem - stay - share * deg(v))   (division
                 leftovers stay home - total mass is EXACTLY SCALE
                 at every round, which pytest asserts)

Synchronous all-above-threshold rounds (not one-vertex-at-a-time) keep
the schedule deterministic and oracle-replayable; the fixed round
budget is free past convergence (empty push set = identity round) and
ONE final check raises if any residual still exceeds the threshold.

Scale shape: state is (v, pi, r) only for touched vertices; each
round is one self-join on the edge tail (share distribution) + one
groupBy-sum + one merge — all vertex-keyed. Degrees are precomputed
once. Rounds go through the shared lineage breaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.rounds import lineage_breaker

PPR_SCALE = 1_000_000_000
PPR_EPS = 10_000  # push while r(v) > EPS * deg(v)
PPR_ROUNDS = 28  # gate graph converges in 23; checked + raise


def ppr_push(
    und: DataFrame,
    seed: int,
    rounds: int = PPR_ROUNDS,
    eps: int = PPR_EPS,
) -> DataFrame:
    """(vertex, ppr_scaled, residual) — the settled mass and the
    certificate residuals of seed-personalized PageRank (alpha = 1/4,
    lazy 1/2) after synchronous integer push rounds."""
    from hebrew_ner_spark.operators.centrality import sym_edges
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("ppr_push")
    brk = lineage_breaker(und)
    sym = _persist("ppr_push", sym_edges(und))
    deg = _persist(
        "ppr_push",
        sym.groupBy(F.col("src").alias("v")).agg(
            F.count("*").cast("long").alias("deg")
        ),
    )
    state = deg.select(
        "v",
        "deg",
        F.lit(0).cast("long").alias("pi"),
        F.when(F.col("v") == seed, F.lit(PPR_SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    state = brk(state)

    def step(cur):
        pushed = cur.withColumn("is_push", (F.col("r") > eps * F.col("deg")))
        parts = pushed.select(
            "v",
            "deg",
            "is_push",
            "pi",
            "r",
            F.expr("CASE WHEN is_push THEN r DIV 4 ELSE 0 END").alias("gain"),
        ).select(
            "v",
            "deg",
            "is_push",
            "pi",
            "r",
            "gain",
            F.expr(
                "CASE WHEN is_push THEN (r - gain) DIV 2 ELSE 0 END"
            ).alias("stay"),
        ).select(
            "*",
            F.expr(
                "CASE WHEN is_push THEN (r - gain - stay) DIV deg"
                " ELSE 0 END"
            ).alias("share"),
        )
        inc = (
            sym.join(
                parts.where("is_push").select(
                    F.col("v").alias("src"), "share"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("share").cast("long").alias("inc"))
        )
        return (
            parts.join(inc, "v", "left")
            .select(
                "v",
                "deg",
                (F.col("pi") + F.col("gain")).cast("long").alias("pi"),
                (
                    F.when(
                        F.col("is_push"),
                        F.col("stay")
                        + (
                            F.col("r")
                            - F.col("gain")
                            - F.col("stay")
                            - F.col("share") * F.col("deg")
                        ),
                    ).otherwise(F.col("r"))
                    + F.coalesce("inc", F.lit(0))
                ).cast("long").alias("r"),
            )
        )

    for _ in range(rounds):
        state = brk(step(state))
    leftover = state.where(F.col("r") > eps * F.col("deg")).count()
    if leftover:
        raise RuntimeError(
            f"ppr_push: {leftover} residuals above eps*deg after "
            f"{rounds} rounds — raise the budget"
        )
    return state.select(
        F.col("v").alias("vertex"),
        F.col("pi").alias("ppr_scaled"),
        F.col("r").alias("residual"),
    )


# --- ACL sweep cut over the pushed PPR vector -------------------------

SWEEP_SCALE = 1_000_000


def ppr_sweep_cut(und: DataFrame, seed: int, rounds: int = PPR_ROUNDS) -> DataFrame:
    """(rk, v, cut, vol, phi_1e6, is_best) — the Andersen-Chung-Lang
    SWEEP CUT that turns the pushed PPR vector into a local cluster:
    rank the positive-mass vertices by degree-normalized score
    (pi * SCALE DIV deg, ties by vertex id), and for every prefix S_k
    report the conductance phi(S_k) = cut(S_k) / min(vol(S_k),
    2m - vol(S_k)); is_best marks the minimum-phi prefix (earliest on
    ties) — the returned local cluster of ACL's theorem.

    The sweep is NOT a per-prefix pass: an edge with endpoint ranks
    r_u < r_v is cut exactly for prefixes r_u <= k < r_v, so
    cut(k) = cumsum(min-rank histogram) - cumsum(max-rank histogram)
    and vol(k) = cumsum(deg) — three rank-grain ordered windows (the
    rich-club suffix-sum trick), after one rank join over the edge
    list. Prefixes with min(vol, 2m - vol) = 0 (the sweep swallowing
    the whole graph) are excluded — conductance is undefined there.

    Everything integer: the rank key is a truncating micro-unit
    division (deterministic, identical both engines; the true rational
    ordering differs at most on ties the vertex-id break absorbs).
    Cites Andersen-Chung-Lang (FOCS 2006) sections 2-3.

    Shape at scale: the pushed vector is support-sized (locality is
    the point of push-PPR); ranking, histograms and cumsums are all
    support-grain, and the single edge join touches only edges with a
    ranked endpoint. Nothing global but the 2m broadcast."""
    from pyspark.sql import Window

    from hebrew_ner_spark.operators.centrality import sym_edges

    pushed = ppr_push(und, seed, rounds)
    sym = sym_edges(und)
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").cast("long").alias("deg")
    )
    m2 = sym.agg(F.count("*").cast("long").alias("m2"))
    ranked = (
        pushed.where(F.col("ppr_scaled") > 0)
        .join(deg, pushed["vertex"] == deg["v"])
        .select(
            "v",
            "deg",
            F.expr(f"ppr_scaled * {SWEEP_SCALE} DIV deg").alias("key"),
        )
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("key"), F.asc("v"))),
        )
        .select("v", "deg", F.col("rk").cast("long").alias("rk"))
    )
    ra = ranked.select(F.col("v").alias("src"), F.col("rk").alias("rka"))
    rb = ranked.select(F.col("v").alias("dst"), F.col("rk").alias("rkb"))
    epair = (
        und.select("a", "b")
        .distinct()
        .join(ra.withColumnRenamed("src", "a"), "a", "left")
        .join(rb.withColumnRenamed("dst", "b"), "b", "left")
        .select("rka", "rkb")
    )
    # per-rank histograms: +1 when an edge first touches the prefix,
    # -1 when it becomes internal (both endpoints inside). Edges with
    # ONE unranked endpoint enter at their ranked endpoint's rank and
    # never internalize (least/greatest IGNORE nulls on both engines,
    # so the both-ranked case is gated explicitly).
    both = F.col("rka").isNotNull() & F.col("rkb").isNotNull()
    enter = (
        epair.where(F.col("rka").isNotNull() | F.col("rkb").isNotNull())
        .select(
            F.when(both, F.least("rka", "rkb"))
            .otherwise(F.coalesce("rka", "rkb"))
            .alias("rk")
        )
        .groupBy("rk")
        .agg(F.count("*").cast("long").alias("n_enter"))
    )
    close = (
        epair.where(both)
        .select(F.greatest("rka", "rkb").alias("rk"))
        .groupBy("rk")
        .agg(F.count("*").cast("long").alias("n_close"))
    )
    w = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sweep = (
        ranked.join(enter, "rk", "left")
        .join(close, "rk", "left")
        .select(
            "rk",
            "v",
            "deg",
            F.coalesce("n_enter", F.lit(0)).alias("n_enter"),
            F.coalesce("n_close", F.lit(0)).alias("n_close"),
        )
        .withColumn("vol", F.sum("deg").over(w).cast("long"))
        .withColumn(
            "cut",
            (F.sum("n_enter").over(w) - F.sum("n_close").over(w)).cast("long"),
        )
        .crossJoin(F.broadcast(m2))
        .where(F.least(F.col("vol"), F.col("m2") - F.col("vol")) > 0)
        .select(
            "rk",
            "v",
            "cut",
            "vol",
            F.expr(
                f"cut * {SWEEP_SCALE} DIV least(vol, m2 - vol)"
            ).cast("long").alias("phi_1e6"),
        )
    )
    best = Window.orderBy(F.asc("phi_1e6"), F.asc("rk"))
    return sweep.withColumn(
        "is_best",
        (F.row_number().over(best) == 1).cast("long"),
    )
