"""Regular path queries (SPARQL 1.1 property paths / RPQs) by
automaton-product BFS — "which entity pairs are connected by a path
whose predicate sequence matches a regex" — the query feature that
separates a triple store from an edge list (Mendelzon-Wood 1995;
SPARQL 1.1 property paths).

The regex compiles to a tiny NFA (a broadcast VALUES relation of
(state_from, pred, state_to) transitions); evaluation is reachability
over the PRODUCT of the KG and the automaton: frontier rows are
(start_node, current_node, state) and one round is one edge join +
one transition join + one anti-join against the visited set. The
state space is |V| * |Q| so the frontier provably empties (set
semantics — cycles are absorbed by the visited anti-join, the
standard RPQ evaluation); the round budget raises loudly if the
fixpoint is not reached (package discipline).

The pinned gate query is  scan . (join | merge)* . agg  over the
extracted predicate vocabulary — a genuine Kleene loop (the `*` rides
the q1 self-transitions), so the gate exercises cycle absorption, not
just concatenation.

Shape at 10^12 edges: each round shuffles frontier-grain rows keyed by
current node; the transition table is broadcast (automata are tiny by
construction); visited state is (start, node, state)-grain — the same
class as the multi-source BFS table (centrality.bfs_sigma), and like
it, production use restricts the start set (bind the subject variable)
rather than running all-pairs. Rounds through the shared lineage
breaker. Cites Mendelzon-Wood (SIAM J. Comput. 1995) and the W3C
SPARQL 1.1 property-path semantics (ALP-free set semantics, which is
exactly the visited-set evaluation here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.rounds import lineage_breaker

RPQ_ROUNDS = 16
# scan . (join|merge)* . agg  — states: 0 start, 1 loop, 2 accept
RPQ_TRANSITIONS = [
    (0, "scan", 1),
    (1, "join", 1),
    (1, "merge", 1),
    (1, "agg", 2),
]
RPQ_ACCEPT = 2


def rpq_reach(
    edges: DataFrame,
    transitions: list[tuple[int, str, int]] | None = None,
    accept: int = RPQ_ACCEPT,
    rounds: int = RPQ_ROUNDS,
) -> DataFrame:
    """(src, dst) — distinct entity pairs connected by a predicate
    path accepted by the automaton."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    transitions = RPQ_TRANSITIONS if transitions is None else transitions
    _evict("rpq")
    brk = lineage_breaker(edges)
    e = _persist(
        "rpq", edges.select("subj_id", "pred", "obj_id").distinct()
    )
    spark = edges.sparkSession
    trans = F.broadcast(
        spark.createDataFrame(
            transitions, "st_from int, tpred string, st_to int"
        )
    )
    frontier = brk(
        e.select(F.col("subj_id").alias("src"))
        .distinct()
        .select(
            "src",
            F.col("src").alias("v"),
            F.lit(0).cast("int").alias("st"),
        )
    )
    visited = frontier
    for t in range(rounds):
        if frontier.limit(1).count() == 0:
            break
        step = (
            frontier.join(e, frontier["v"] == e["subj_id"])
            .join(
                trans,
                (F.col("st") == F.col("st_from")) & (F.col("pred") == F.col("tpred")),
            )
            .select(
                "src",
                F.col("obj_id").alias("v"),
                F.col("st_to").cast("int").alias("st"),
            )
            .distinct()
        )
        frontier = brk(step.join(visited, ["src", "v", "st"], "left_anti"))
        visited = brk(visited.unionByName(frontier))
    leftover = frontier.count()
    if leftover:
        raise RuntimeError(
            f"rpq_reach: frontier still has {leftover} rows after {rounds} "
            "rounds — the (node, state) space has not fixpointed; raise rounds"
        )
    return (
        visited.where(F.col("st") == accept)
        .select("src", F.col("v").alias("dst"))
        .distinct()
    )
