"""Bipartite (i, j)-core trawling (Kumar, Raghavan, Rajagopalan &
Tomkins, WWW8 1999): the iterated peel that finds emerging
cyber-communities — and link farms — as dense bipartite subgraphs of
the directed link graph.

Why this is engine work: the unipartite k-core/k-truss peels
(operators/graphstats.py) find dense UNDIRECTED neighborhoods; a
citation community is directional — a set of HUB pages that each cite
>= j members of a set of AUTHORITY pages, each cited by >= i hubs.
The (i, j)-core is the maximal such pair of sets, and it is computed
by the alternating peel: drop hubs with out-degree < j into the
surviving authorities, then authorities with in-degree < i from the
surviving hubs, repeat to fixpoint. Every vertex appears in BOTH
roles (its hub copy and authority copy peel independently — a page
can survive as an authority while dying as a hub).

Round shape: each half-step is one semi-join of the edge list against
the surviving other side + one groupBy-count + one threshold filter —
all vertex-keyed. The fixpoint is detected by a per-round survivor
count (two scalar actions per round, the CC discipline); the round
budget RAISES on exhaustion. Rounds are bounded by peel depth, which
is small for power-law link graphs (the planted gate converges in 4).

The gate's planted farm is the original paper's motivating object:
mutual-admiration cliques survive any (i, j) up to clique size while
the sparse background (degree <= 4 directed) dies — recovery must be
EXACT, making the gate structurally non-vacuous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.rounds import lineage_breaker

BIP_I = 4  # min in-degree (citations) for a surviving authority
BIP_J = 4  # min out-degree (citations made) for a surviving hub
BIP_MAX_ROUNDS = 8


def directed_host_edges(und: DataFrame) -> DataFrame:
    """(src, dst) — the undirected host graph as mutual citation (both
    directions), the shape a crawl's resolved link graph presents."""
    from hebrew_ner_spark.operators.centrality import sym_edges

    return sym_edges(und)


def bipartite_core(
    edges: DataFrame,
    i: int = BIP_I,
    j: int = BIP_J,
    max_rounds: int = BIP_MAX_ROUNDS,
) -> DataFrame:
    """(vertex, as_hub, as_auth) — flags for every vertex of ``edges``
    (directed src -> dst): membership of its hub copy / authority copy
    in the (i, j)-core fixpoint."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("bipcore")
    brk = lineage_breaker(edges)
    e = _persist("bipcore", edges.select("src", "dst").distinct())
    verts = _persist(
        "bipcore",
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct(),
    )
    hubs = brk(verts)
    auths = brk(verts)
    n_h, n_a = hubs.count(), auths.count()
    for _ in range(max_rounds):
        live = (
            e.join(hubs.withColumnRenamed("v", "src"), "src")
            .join(auths.withColumnRenamed("v", "dst"), "dst")
        )
        new_hubs = brk(
            live.groupBy(F.col("src").alias("v"))
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= j)
            .select("v")
        )
        live = (
            e.join(new_hubs.withColumnRenamed("v", "src"), "src")
            .join(auths.withColumnRenamed("v", "dst"), "dst")
        )
        new_auths = brk(
            live.groupBy(F.col("dst").alias("v"))
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= i)
            .select("v")
        )
        nn_h, nn_a = new_hubs.count(), new_auths.count()
        hubs, auths = new_hubs, new_auths
        if (nn_h, nn_a) == (n_h, n_a):
            break
        n_h, n_a = nn_h, nn_a
    else:
        raise RuntimeError(
            f"bipartite_core: no fixpoint within {max_rounds} rounds "
            f"(last sizes hubs={n_h}, auths={n_a}) — raise max_rounds"
        )
    return (
        verts.join(hubs.withColumn("as_hub", F.lit(1)), "v", "left")
        .join(auths.withColumn("as_auth", F.lit(1)), "v", "left")
        .select(
            F.col("v").alias("vertex"),
            F.coalesce("as_hub", F.lit(0)).cast("long").alias("as_hub"),
            F.coalesce("as_auth", F.lit(0)).cast("long").alias("as_auth"),
        )
    )
