"""Distributed symmetry breaking: maximal independent set (Luby 1986)
and greedy graph coloring (Jones & Plassmann 1993) with FIXED hash
priorities — the two primitives behind conflict-free parallel
scheduling (which co-shard updates can commit together, which hosts
can be crawled in the same wave, which entity-merge operations touch
disjoint neighborhoods).

Determinism contract: priorities are a fixed injective hash
``p(v) = (v * 37 + 11) % 97`` (affine, invertible on the gate's host
universe) assigned ONCE — not re-randomized per round as in the
classical analysis. With fixed priorities both algorithms converge to
the unique greedy solution in priority order (every round commits the
current priority-order prefix whose decisions are already forced), so
a SQL oracle can replay them round-for-round with zero randomness.
The price is the classical O(log n) w.h.p. bound no longer applies —
the round count is the longest monotone-priority path, which the
round BUDGET enforces loudly (raise, never a partial result — the
canonicalize.py discipline).

Round shapes (everything vertex-keyed joins + aggregates):

* **MIS round** — v enters the MIS iff p(v) < min p(u) over ACTIVE
  neighbors (one groupBy-min over active edges + one join); entrants
  and their neighbors deactivate (two anti-joins). Isolated-by-
  deactivation vertices enter trivially (min over empty set = +inf).
* **JP coloring round** — v is READY iff p(v) < min p(u) over
  UNCOLORED neighbors; its color is the minimum natural number not
  used by already-colored neighbors, computed as a bounded
  sequence-filter (colors <= max degree + 1, a structural invariant).
  Ready vertices of one round are mutually non-adjacent BY
  CONSTRUCTION (two adjacent vertices cannot both be local priority
  minima), so committing them simultaneously is race-free — the
  whole point of the JP schedule.

Scale shape: state is one row per vertex + the active/uncolored edge
list; every round shuffles on vertex id only; rounds go through the
shared lineage breaker. At 10^12-edge scale round count is governed by
priority-path length — for crawl/commit scheduling the graphs are
host-grain (10^7-ish vertices), where the greedy order is exactly
what production schedulers run.

No reference counterpart (the reference has no graph plane); cites
Luby (SIAM J. Comput. 1986) and Jones & Plassmann (SIAM J. Sci.
Comput. 1993) for what is computed, not how.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.operators.centrality import sym_edges
from hebrew_ner_spark.plans.rounds import lineage_breaker

PRIO_MUL = 37
PRIO_ADD = 11
PRIO_MOD = 97
MIS_MAX_ROUNDS = 6
JP_MAX_ROUNDS = 14
JP_MAX_COLOR = 12  # >= max degree + 1 of the gate graph (11 + 1)


def _prio(col):
    return (col * PRIO_MUL + PRIO_ADD) % PRIO_MOD


def luby_mis(
    und: DataFrame,
    max_rounds: int = MIS_MAX_ROUNDS,
    prio_mod: int = PRIO_MOD,
) -> DataFrame:
    """(vertex, in_mis) — the greedy-by-priority maximal independent
    set, one flag row per vertex. ``prio_mod`` must exceed the vertex-id
    domain for the affine priority to stay injective (the gate graph's
    default 97 covers hosts 0..63; canopy blocking passes a larger
    prime for doc-id vertices)."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("luby_mis")
    brk = lineage_breaker(und)
    sym = _persist("luby_mis", sym_edges(und))
    verts = sym.select(F.col("src").alias("v")).distinct()
    active = brk(
        verts.withColumn(
            "p",
            ((F.col("v") * PRIO_MUL + PRIO_ADD) % prio_mod).cast("long"),
        )
    )
    mis = None
    for _ in range(max_rounds):
        # early exit (r5): an empty active set makes every later round
        # a no-op that still pays 3 lineage-break checkpoints; the probe
        # reads the just-checkpointed state. Result-identical — skipped
        # rounds change nothing (same reason the oracle's extra unrolled
        # rounds are identity).
        if active.limit(1).count() == 0:
            break
        act_e = (
            sym.join(active.select(F.col("v").alias("src")), "src")
            .join(
                active.select(F.col("v").alias("dst"), F.col("p").alias("pn")),
                "dst",
            )
        )
        nmin = act_e.groupBy(F.col("src").alias("v")).agg(
            F.min("pn").alias("nmin")
        )
        enter = (
            active.join(nmin, "v", "left")
            .where(F.col("nmin").isNull() | (F.col("p") < F.col("nmin")))
            .select("v")
        )
        enter = brk(enter)
        mis = enter if mis is None else mis.unionByName(enter)
        mis = brk(mis)
        dead = enter.unionByName(
            sym.join(enter.withColumnRenamed("v", "src"), "src")
            .select(F.col("dst").alias("v"))
        ).distinct()
        active = brk(active.join(dead, "v", "left_anti"))
    leftover = active.count()
    if leftover:
        raise RuntimeError(
            f"luby_mis: {leftover} vertices still active after "
            f"{max_rounds} rounds — raise max_rounds"
        )
    return verts.join(
        mis.withColumn("in_mis", F.lit(1)), "v", "left"
    ).select(
        F.col("v").alias("vertex"),
        F.coalesce("in_mis", F.lit(0)).cast("long").alias("in_mis"),
    )


def jp_coloring(
    und: DataFrame,
    max_rounds: int = JP_MAX_ROUNDS,
    max_color: int = JP_MAX_COLOR,
) -> DataFrame:
    """(vertex, color) — the greedy-by-priority proper coloring: each
    round commits every local priority minimum among uncolored
    vertices with the smallest color unused by its colored
    neighborhood."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("jp_coloring")
    brk = lineage_breaker(und)
    sym = _persist("jp_coloring", sym_edges(und))
    verts = sym.select(F.col("src").alias("v")).distinct()
    uncolored = brk(verts.withColumn("p", _prio(F.col("v")).cast("long")))
    colored = None
    for _ in range(max_rounds):
        # early exit (r5): same no-op-round argument as luby_mis — an
        # empty uncolored set means every later round is identity but
        # would still pay its per-round checkpoints and the null probe.
        if uncolored.limit(1).count() == 0:
            break
        unc_e = (
            sym.join(uncolored.select(F.col("v").alias("src")), "src")
            .join(
                uncolored.select(
                    F.col("v").alias("dst"), F.col("p").alias("pn")
                ),
                "dst",
            )
        )
        nmin = unc_e.groupBy(F.col("src").alias("v")).agg(
            F.min("pn").alias("nmin")
        )
        ready = (
            uncolored.join(nmin, "v", "left")
            .where(F.col("nmin").isNull() | (F.col("p") < F.col("nmin")))
            .select("v")
        )
        if colored is None:
            used = ready.withColumn(
                "used", F.expr("CAST(array() AS ARRAY<BIGINT>)")
            )
        else:
            nb_colors = (
                sym.join(ready.withColumnRenamed("v", "src"), "src")
                .join(
                    colored.select(
                        F.col("vertex").alias("dst"), F.col("color").alias("nc")
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("v"))
                .agg(F.expr("array_sort(collect_set(nc))").alias("used"))
            )
            used = ready.join(nb_colors, "v", "left").select(
                "v",
                F.coalesce(
                    "used", F.expr("CAST(array() AS ARRAY<BIGINT>)")
                ).alias("used"),
            )
        newly = used.select(
            F.col("v").alias("vertex"),
            F.expr(
                # get(), not [0]: under ANSI an exhausted palette makes
                # the filtered array EMPTY and [0] throws a bare
                # INVALID_ARRAY_INDEX mid-checkpoint; get() yields NULL
                # so the palette guard below raises the diagnosable error
                f"get(filter(sequence(0, {max_color}),"
                f" c -> NOT array_contains(used, c)), 0)"
            ).cast("long").alias("color"),
        )
        newly = brk(newly)
        # palette-exhaustion guard (ADVICE r4): filter(sequence(0, max_color))
        # of a fully-used palette yields NULL — without this check the
        # vertex would leave the uncolored set carrying a NULL color and
        # the round-budget guard below would never fire (a silent wrong
        # result on any graph with a degree above JP_MAX_COLOR). The
        # probe is one count on the just-checkpointed round delta.
        n_null = newly.where(F.col("color").isNull()).count()
        if n_null:
            raise RuntimeError(
                f"jp_coloring: {n_null} vertices exhausted the color "
                f"palette [0, {max_color}] — a neighborhood uses every "
                "color; raise JP_MAX_COLOR (>= the graph's max degree)"
            )
        colored = newly if colored is None else colored.unionByName(newly)
        colored = brk(colored)
        uncolored = brk(
            uncolored.join(
                newly.withColumnRenamed("vertex", "v"), "v", "left_anti"
            )
        )
    leftover = uncolored.count()
    if leftover:
        raise RuntimeError(
            f"jp_coloring: {leftover} vertices uncolored after "
            f"{max_rounds} rounds — raise max_rounds"
        )
    return colored
