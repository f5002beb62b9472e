"""Distributed stable matching (Gale-Shapley 1962, synchronous
McVitie-Wilson-style proposal rounds): assignment under TWO-SIDED
preferences — crawl shards to fetcher pools, partitions to executors
with locality preferences, reviewer/task routing — where one-sided
greedy (HRW sharding, operators/crawl.py) cannot guarantee the
no-blocking-pair property that makes an assignment renegotiation-free.

Deterministic synchronous rounds over hash-derived preference orders:

* preference tables are built ONCE from the portable hash —
  proposer p ranks acceptors by phash(p|a) (row_number, tie on id),
  acceptors rank proposers symmetrically with an independent seed;
* each round, EVERY free proposer proposes to the next acceptor on
  its list (one join on (p, ptr)); each proposed-to acceptor keeps
  the best of {new proposers} u {current tenant} under ITS rank (one
  groupBy-min via row_number); every loser — including a displaced
  tenant — advances its pointer.

Classic theory gives termination with a perfect, PROPOSER-OPTIMAL
stable matching (same result as sequential GS — the deferred-
acceptance outcome is order-independent), in at most n^2 proposals
total; the synchronous schedule reaches it in ~n rounds in practice
(15 on the 16x16 gate instance). The fixed round budget is a no-op
past completion (no free proposers -> empty round) and the final
check RAISES if anyone is still free.

Shape at scale: state is ONE row per proposer — (pointer, current
acceptor, NULL while free); the match is a function p -> a so the
tenant table needs no separate row set, and each round is a single
checkpointed transition (three keyed equi-joins + one rank window
partitioned by acceptor, evaluated once). Preference lists at web scale are
TOP-T truncated (each side scores only plausible partners — the
standard market-design practice), which bounds the grid to n*T rows.

Cites Gale & Shapley (AMM 1962), McVitie & Wilson (BIT 1971).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from hebrew_ner_spark.plans.rounds import RoundTables, checkpoint_dir

GS_N = 16
GS_SEED_P, GS_SEED_A = 311, 733
GS_ROUNDS = 24


def _grid(spark, n: int) -> DataFrame:
    return (
        spark.range(n)
        .select(F.col("id").alias("p"))
        .crossJoin(spark.range(n).select(F.col("id").alias("a")))
    )


def preference_tables(spark, n: int = GS_N):
    """(ppref (p, idx, a), arank (a, p, rk)) — hash-derived total
    preference orders for both sides, portable to the oracle."""
    from hebrew_ner_spark.functions.hashing import phash_col

    g = _grid(spark, n)
    key = F.concat_ws("|", F.col("p"), F.col("a"))
    ppref = g.select(
        "p",
        "a",
        (
            F.row_number().over(
                Window.partitionBy("p").orderBy(
                    phash_col(key, GS_SEED_P).asc(), F.col("a").asc()
                )
            )
            - 1
        ).cast("long").alias("idx"),
    )
    arank = g.select(
        "a",
        "p",
        F.row_number().over(
            Window.partitionBy("a").orderBy(
                phash_col(key, GS_SEED_A).asc(), F.col("p").asc()
            )
        ).cast("long").alias("rk"),
    )
    return ppref, arank


def _round_breaker(spark):
    """Per-round lineage break for the matching loop.

    Measured pathology (r5): ``localCheckpoint()`` on this loop's state
    does NOT stop per-round recomputation in Spark 4.1 local mode — the
    per-round transition wall grows geometrically (0.6 s -> 61 s by
    round 13 on the 16x16 gate instance, state a constant 16 rows and a
    constant-size executed plan) and the r4 split-state implementation
    measures 116 s in a fresh session. Managed parquet round tables
    (``plans/rounds.RoundTables``) bound every round at its true cost
    — the same loop lands ~20 s total, rounds flat. So matching always
    uses round tables, under the configured checkpoint dir when there
    is one; otherwise under a self-cleaning temp dir (no session state
    is mutated — the ``RoundTables`` atexit purge owns the files)."""
    return RoundTables(
        spark, checkpoint_dir(spark) or tempfile.mkdtemp(prefix="sm_rounds_")
    )


def _deferred_acceptance(spark, ppref, arank, n: int, rounds: int, brk):
    """Synchronous deferred-acceptance rounds over COMBINED per-proposer
    state (r4 VERDICT #4): the match is a function p -> a, so (ptr,
    tenant-of) fuse into ONE row per proposer — (p, ptr, llen, a) with
    a NULL while free and llen the proposer's list length (n for full
    lists, <= T truncated). One lineage break per round instead of two,
    and (the bigger win) the round's join + rank-window pipeline is
    evaluated ONCE: the split ptr/match checkpoints each re-derived
    `ranked` from scratch, paying every round shuffle twice.

    Returns (final state, rounds executed)."""
    llen = ppref.groupBy("p").agg(F.count("*").cast("long").alias("llen"))
    state = brk(
        spark.range(n)
        .select(F.col("id").alias("p"))
        .join(llen, "p", "left")
        .select(
            "p",
            F.lit(0).cast("long").alias("ptr"),
            F.coalesce("llen", F.lit(0)).cast("long").alias("llen"),
            F.lit(None).cast("long").alias("a"),
        )
    )
    used = 0
    for _ in range(rounds):
        # early exit: an empty free set makes every later round a
        # no-op (the oracle's extra unrolled rounds are identity). The
        # probe reads the just-checkpointed state — no recompute.
        free = state.where(F.col("a").isNull() & (F.col("ptr") < F.col("llen")))
        if free.limit(1).count() == 0:
            break
        used += 1
        props = free.select("p", "ptr").join(
            ppref.withColumnRenamed("idx", "ptr"), ["p", "ptr"]
        ).select("a", "p")
        tenants = (
            state.where(F.col("a").isNotNull())
            .select("a", "p")
            .join(props.select("a").distinct(), "a")
        )
        cands = props.unionByName(tenants).distinct()
        ranked = cands.join(arank, ["a", "p"]).withColumn(
            "is_best",
            F.row_number().over(
                Window.partitionBy("a").orderBy(F.asc("rk"), F.asc("p"))
            )
            == 1,
        )
        best = ranked.where("is_best").select(
            F.col("p"), F.col("a").alias("_a_won")
        )
        losers = ranked.where(~F.col("is_best")).select(
            "p", F.lit(1).alias("_l")
        )
        # per-round transition, one plan: a loser (incl. a displaced
        # tenant) frees and advances its pointer; a winner (new or
        # retained tenant) holds its acceptor; everyone else carries.
        # A proposer is candidate at <= 1 acceptor per round, so the
        # best/losers joins on p are unique.
        state = brk(
            state.join(best, "p", "left")
            .join(losers, "p", "left")
            .select(
                "p",
                (
                    F.col("ptr")
                    + F.when(F.col("_l").isNotNull(), 1).otherwise(0)
                )
                .cast("long")
                .alias("ptr"),
                "llen",
                F.when(F.col("_l").isNotNull(), F.lit(None).cast("long"))
                .otherwise(F.coalesce("_a_won", "a"))
                .alias("a"),
            )
        )
    return state, used


def stable_matching(
    spark, n: int = GS_N, rounds: int = GS_ROUNDS
) -> DataFrame:
    """(acceptor, proposer, a_rank, p_idx) — the proposer-optimal
    stable matching with each side's rank of its partner."""

    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("stable_matching")
    ppref, arank = preference_tables(spark, n)
    brk = _round_breaker(spark)
    ppref = _persist("stable_matching", ppref)
    arank = _persist("stable_matching", arank)

    state, _ = _deferred_acceptance(spark, ppref, arank, n, rounds, brk)
    match = state.where(F.col("a").isNotNull()).select("a", "p")
    n_matched = match.count()
    if n_matched != n:
        raise RuntimeError(
            f"stable_matching: {n_matched}/{n} matched after {rounds} "
            "rounds — raise the budget"
        )
    return (
        match.join(arank, ["a", "p"])
        .join(ppref, ["p", "a"])
        .select(
            F.col("a").alias("acceptor"),
            F.col("p").alias("proposer"),
            F.col("rk").alias("a_rank"),
            F.col("idx").alias("p_idx"),
        )
    )


GS_CAND_SEED = 947


def truncated_preference_tables(spark, n: int, t: int):
    """(ppref (p, idx, a), arank (a, p, rk)) for the WEB-SCALE market
    shape: each proposer scores only T candidate acceptors (market-
    design top-T truncation — at 10^12 scale the candidate set comes
    from blocking, emulated here by T hash-derived draws per proposer),
    so the grid is n*T rows, never n^2. Acceptors rank exactly the
    proposers that listed them. Both orders are portable-hash total
    orders like the full-list tables."""
    from hebrew_ner_spark.functions.hashing import phash_col

    cand = (
        spark.range(n)
        .select(F.col("id").alias("p"))
        .select("p", F.explode(F.expr(f"sequence(0, {t - 1})")).alias("j"))
        .select(
            "p",
            (
                phash_col(F.concat_ws("#", F.col("p"), F.col("j")), GS_CAND_SEED)
                % n
            ).cast("long").alias("a"),
        )
        .distinct()
    )
    key = F.concat_ws("|", F.col("p"), F.col("a"))
    ppref = cand.select(
        "p",
        "a",
        (
            F.row_number().over(
                Window.partitionBy("p").orderBy(
                    phash_col(key, GS_SEED_P).asc(), F.col("a").asc()
                )
            )
            - 1
        ).cast("long").alias("idx"),
    )
    arank = cand.select(
        "a",
        "p",
        F.row_number().over(
            Window.partitionBy("a").orderBy(
                phash_col(key, GS_SEED_A).asc(), F.col("p").asc()
            )
        ).cast("long").alias("rk"),
    )
    return ppref, arank


def stable_matching_truncated(
    spark, n: int, t: int, rounds: int = 256
):
    """((acceptor, proposer) matching DataFrame, rounds executed) over
    top-T truncated lists. With incomplete lists Gale-Shapley ends with
    some proposers exhausted-and-unmatched (that is the stable outcome:
    nobody they listed prefers them); the loud-failure contract is
    therefore "nobody is still free WITH list remaining" — the loop's
    own fixpoint — and the raise fires only on a truncated ROUND
    budget, exactly like the full-list variant."""

    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("stable_matching_t")
    ppref, arank = truncated_preference_tables(spark, n, t)
    brk = _round_breaker(spark)
    ppref = _persist("stable_matching_t", ppref)
    arank = _persist("stable_matching_t", arank)

    state, used = _deferred_acceptance(spark, ppref, arank, n, rounds, brk)
    still_free = state.where(
        F.col("a").isNull() & (F.col("ptr") < F.col("llen"))
    ).count()
    if still_free:
        raise RuntimeError(
            f"stable_matching_truncated: {still_free} proposers still free "
            f"with list remaining after {rounds} rounds — raise the budget"
        )
    return (
        state.where(F.col("a").isNotNull()).select(
            F.col("a").alias("acceptor"), F.col("p").alias("proposer")
        ),
        used,
    )
