"""Distributed threshold-greedy maximum coverage (the
Badanidiyuru-Vondrák descending-thresholds scheme, deterministic
batch variant) — "pick K seeds covering the most documents", the
submodular-selection shape behind crawl-seed choice, gazetteer
pruning, and training-mixture anchor selection.

Sequential greedy (Nemhauser's 1-1/e) is inherently serial: each pick
changes every remaining marginal gain. The descending-thresholds
relaxation parallelizes it: sweep thresholds tau = tau0, tau0/2,
tau0/4, ... and at each tau admit IN ONE BATCH every candidate whose
marginal gain AGAINST THE ROUND-START COVERAGE clears tau (ranked by
(gain desc, id asc), capped to the remaining budget K - |picks|).
Within a batch, gains are computed simultaneously — two overlapping
candidates can both clear tau and be admitted together where
sequential greedy would have re-scored the second. That is the
documented epsilon-approximation trade (1 - 1/e - eps for the
analyzed variant); what the engine guarantees, and what the gate
verifies bit-for-bit, is the DETERMINISTIC SCHEDULE: same data, same
picks, same order, on both engines.

Everything is DataFrame-side — tau0 (the round-0 max gain) and the
running pick count ride as one-row broadcast aggregates, never
driver scalars; tau_t = tau0 DIV 2^t needs no state at all. A fixed
round budget runs the tau sweep to 1 (rounds past exhaustion are
no-ops: tau < 1 admits nothing).

Shape at 10^12 docs: the mention table is (doc, set)-grain; each
round is one anti-join against covered docs + one groupBy(set) count
+ one global rank on the (tiny) candidate table. Rounds =
log2(largest set), ~40 for a 10^12-doc set system. Covered-doc state
is a doc-id table — the same scale class as the dedup pass's
survivor set.

Cites Nemhauser-Wolsey-Fisher (1978) and Badanidiyuru-Vondrák (SODA
2014) for what is computed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from hebrew_ner_spark.plans.rounds import lineage_breaker

MC_K = 6
MC_ROUNDS = 16


def entity_doc_sets(docs: DataFrame) -> DataFrame:
    """(entity, doc_id) — the set system: an entity covers the docs
    whose text mentions it (distinct pairs)."""
    from hebrew_ner_spark.operators.kg import with_tokens
    from hebrew_ner_spark.resources import ENTITY_TERMS

    terms = "array(" + ", ".join(f"'{t}'" for t in ENTITY_TERMS) + ")"
    return (
        with_tokens(docs)
        .select("doc_id", F.explode("toks").alias("entity"))
        .where(F.expr(f"array_contains({terms}, entity)"))
        .distinct()
    )


def threshold_greedy_cover(
    sets: DataFrame, k: int = MC_K, rounds: int = MC_ROUNDS
) -> DataFrame:
    """(pick_rank, entity, gain, tau) — the K picks of the
    descending-thresholds greedy over the (entity, doc_id) set system,
    in selection order with the marginal gain and threshold at
    admission."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("maxcover")
    brk = lineage_breaker(sets)
    m = _persist("maxcover", sets.select("entity", "doc_id").distinct())

    spark = sets.sparkSession
    covered = brk(m.select("doc_id").where(F.lit(False)))
    picks = brk(
        spark.createDataFrame(
            [], "pick_rank long, entity string, gain long, tau long"
        )
    )
    tau0 = None
    tau0_val = None
    for t in range(rounds):
        # early exits (r5): once the sweep threshold has passed 1 or the
        # budget is spent, every later round is provably a no-op (the
        # cand filter admits nothing) that would still pay its gains
        # anti-joins and 3 checkpoints. tau0 is a checkpointed 1-row
        # aggregate, so reading it after round 0 is a driver-sized
        # scalar of the same class the post-loop exhaustion guard uses;
        # the picks probe reads checkpointed state. The executed rounds
        # — and therefore the deterministic schedule the gate hashes —
        # are identical.
        if tau0_val is not None and tau0_val // (2 ** t) < 1:
            break
        if t > 0 and picks.count() >= k:
            break
        gains = (
            m.join(covered, "doc_id", "left_anti")
            .join(picks.select("entity"), "entity", "left_anti")
            .groupBy("entity")
            .agg(F.count("*").cast("long").alias("gain"))
        )
        if tau0 is None:
            tau0 = brk(gains.agg(F.max("gain").cast("long").alias("tau0")))
            row = tau0.collect()
            tau0_val = (
                row[0]["tau0"] if row and row[0]["tau0"] is not None else 0
            )
        n_picked = picks.agg(
            F.coalesce(F.count("*"), F.lit(0)).cast("long").alias("np")
        )
        tau_t = F.expr(f"tau0 DIV {2 ** t}")
        cand = (
            gains.crossJoin(F.broadcast(tau0))
            .crossJoin(F.broadcast(n_picked))
            .where(
                (tau_t >= 1)
                & (F.col("gain") >= tau_t)
                & (F.col("np") < k)
            )
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.orderBy(F.desc("gain"), F.asc("entity"))
                ),
            )
            .where(F.col("rk") + F.col("np") <= k)
            .select(
                (F.col("np") + F.col("rk")).cast("long").alias("pick_rank"),
                "entity",
                "gain",
                tau_t.cast("long").alias("tau"),
            )
        )
        cand = brk(cand)
        picks = brk(picks.unionByName(cand))
        covered = brk(
            covered.unionByName(
                m.join(cand.select("entity"), "entity").select("doc_id")
            ).distinct()
        )
    # exhaustion guard (ADVICE r4): the docstring promises the tau sweep
    # runs to 1 — if tau0 >= 2^rounds the budget ends the sweep above 1
    # and fewer than k picks return SILENTLY. Fewer-than-k picks is
    # legitimate only when no admissible candidate remains (universe out
    # of positive-gain sets — always true once the tau = 1 round has
    # run); otherwise the budget genuinely truncated the schedule and
    # the repo's raise-on-budget-exhaustion discipline applies. Three
    # driver-sized post-loop probes on tiny checkpointed state, and the
    # candidate probe only fires on the already-exceptional short-pick
    # path.
    n_picked = picks.count()
    if n_picked < k:
        t0_rows = tau0.collect() if tau0 is not None else []
        t0 = t0_rows[0]["tau0"] if t0_rows and t0_rows[0]["tau0"] is not None else 0
        tau_final = t0 // (2 ** (rounds - 1))
        if tau_final > 1:
            admissible = (
                m.join(covered, "doc_id", "left_anti")
                .join(picks.select("entity"), "entity", "left_anti")
                .limit(1)
                .count()
            )
            if admissible:
                raise RuntimeError(
                    f"threshold_greedy_cover: only {n_picked}/{k} picks, the "
                    f"tau sweep stopped at tau0 DIV 2^{rounds - 1} = "
                    f"{tau_final} > 1 (tau0 = {t0}) with positive-gain "
                    "candidates remaining — raise rounds to >= log2(tau0) + 1 "
                    "so the sweep runs to 1"
                )
    return picks
