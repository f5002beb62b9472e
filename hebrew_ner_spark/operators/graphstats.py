"""Graph analytics over the constructed knowledge graph.

Two KG-quality operators the reference pipeline stops short of (its graph
work ends at mention adjacency, ner_app.py:196-226) but any KG consumer
needs: association strength for edge weighting, and triangle structure for
clustering/canonicalization QA.

Scale notes (the part that matters at 10^12 docs):

* ``cooc_lift`` generates within-document entity pairs **array-side**
  (nested transform + flatten on the per-doc distinct-entity array) — the
  quadratic pair blowup is bounded by per-doc entity count, never by corpus
  size, and costs zero extra shuffles before the single pair-count
  aggregation. Document frequency is a tiny per-entity aggregate joined
  back by key (AQE broadcasts it when small; it stays a key-partitioned
  shuffle join when the vocabulary is web-scale).
* ``triangles`` is the node-iterator++ algorithm: orient every undirected
  edge from the (degree, name)-smaller endpoint to the larger, build wedges
  only from out-edges, then close them with a semi-equi-join. Orientation
  bounds wedge fan-out by out-degree <= O(sqrt(m)) on skewed graphs — the
  classic trick that keeps the wedge table near-linear where the naive
  3-way self-join explodes on hub nodes.

Lift is reported as an exact integer (``lift_1e6``): floor-half-up of
``1e6 * N * c_ab / (c_a * c_b)`` computed wholly in BIGINT arithmetic —
cross-engine float log/division never enters (the r1/r2 parity rule). At
true web scale the numerator needs DECIMAL(38,0); documented here, BIGINT
is exact through ~1e9 docs.
"""

from __future__ import annotations

from itertools import count as _it_count

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark import StorageLevel

from hebrew_ner_spark.operators.dedup import hamming_near_pairs_from_sigs
from hebrew_ner_spark.operators.kg import _sql_terms, doc_triples, with_tokens
from hebrew_ner_spark.plans.rounds import lineage_breaker
from hebrew_ner_spark.resources import ENTITY_TERMS

# per-call unique suffix for the recursive-CTE anchor view (purity: a
# shared session must never see two calls clobber one catalog name)
_RCTE_VIEW_SEQ = _it_count()

# One eviction slot PER OPERATOR (a shared slot would let label_propagation
# unpersist the edge list a still-lazy triangles() result references, and
# vice versa). Each slot holds every DataFrame its operator persisted last
# call; re-entry evicts the lot (the entity_pagerank discipline, keyed).
_PERSISTED: dict[str, list] = {}


def _evict(slot: str) -> None:
    for old in _PERSISTED.get(slot, []):
        try:
            old.unpersist()
        except Exception:
            pass  # stopped session: Py4J handle already invalid
    _PERSISTED[slot] = []


def _persist(slot: str, df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    _PERSISTED.setdefault(slot, []).append(df)
    return df


def doc_entity_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, ents) — sorted distinct entity tokens per document."""
    ents = _sql_terms(ENTITY_TERMS)
    return with_tokens(docs).select(
        "doc_id",
        F.expr(f"array_sort(array_distinct(filter(toks, t -> array_contains({ents}, t))))").alias(
            "ents"
        ),
    )


def entity_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, ea, eb) with ea < eb — within-document co-occurring pairs.

    Pair generation is array-side (no self-join): for each entity at
    position i, pair it with every later entity in the sorted array.
    """
    return (
        doc_entity_sets(docs)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    """
                    flatten(transform(ents, (a, i) ->
                      transform(slice(ents, i + 2, greatest(size(ents) - i - 1, 0)),
                                b -> named_struct('ea', a, 'eb', b))))
                    """
                )
            ).alias("p"),
        )
        .select("doc_id", "p.ea", "p.eb")
    )


def cooc_lift(docs: DataFrame) -> DataFrame:
    """(ea, eb, c_ab, lift_1e6) — exact integer co-occurrence lift.

    lift = N * c_ab / (c_a * c_b) where N is corpus size and c_x is
    document frequency; reported as floor(lift * 1e6 + 0.5) via the exact
    BIGINT round-half-up identity (2*num + den) DIV (2*den).
    """
    pairs = entity_pairs(docs)
    c_ab = pairs.groupBy("ea", "eb").agg(F.count("*").alias("c_ab"))
    df = (
        doc_entity_sets(docs)
        .select(F.explode("ents").alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("c"))
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    # no broadcast hint on the frequency joins: AQE broadcasts the tiny
    # closed-vocabulary table and correctly degrades to a key-partitioned
    # shuffle join when a web-scale vocabulary outgrows the threshold
    return (
        c_ab.crossJoin(F.broadcast(n))
        .join(df.withColumnRenamed("entity", "ea").withColumnRenamed("c", "c_a"), "ea")
        .join(df.withColumnRenamed("entity", "eb").withColumnRenamed("c", "c_b"), "eb")
        .select(
            "ea",
            "eb",
            "c_ab",
            F.expr(
                "CAST((2000000 * n_docs * c_ab + c_a * c_b) DIV (2 * c_a * c_b) AS BIGINT)"
            ).alias("lift_1e6"),
        )
    )


def undirected_entity_edges(docs: DataFrame) -> DataFrame:
    """(a, b, n) with a < b — undirected SVO subject-object edge weights."""
    t = doc_triples(docs).where(F.col("subj") != F.col("obj"))
    return (
        t.select(F.least("subj", "obj").alias("a"), F.greatest("subj", "obj").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
    )


def above_mean_edges(docs: DataFrame) -> DataFrame:
    """(a, b, n) — undirected edges with ABOVE-MEAN evidence weight.

    Exact integer cross-multiplication ``n * n_edges > total`` (no float
    division) — scale-free sparsification. On the closed synthetic
    vocabulary the unfiltered entity graph is complete, which would make
    the structural gates (triangles, communities) vacuous. The two totals
    are provably driver-sized scalars, so they are collected (the kmeans-
    centroid precedent) instead of crossJoined, which would replicate a
    BroadcastNestedLoopJoin through every reuse of the edge list.
    """
    weighted = undirected_entity_edges(docs)
    tot = weighted.agg(F.count("*").alias("n_edges"), F.sum("n").alias("total_n")).collect()[0]
    n_edges, total_n = int(tot.n_edges), int(tot.total_n or 0)
    return weighted.where(F.col("n") * F.lit(n_edges) > F.lit(total_n))


def triangles(docs: DataFrame) -> DataFrame:
    """(ea, eb, ec) with ea < eb < ec — every triangle, exactly once.

    Node-iterator++: orient each edge toward the (degree, name)-larger
    endpoint, enumerate wedges from out-edges only, close with one join.
    Each triangle is emitted exactly once (from its orientation-minimal
    corner), so no post-dedup is needed.
    """
    _evict("triangles")
    # und feeds deg (twice via the union) and the orientation join — persist
    # it too, or materializing `oriented` still re-runs the corpus ->
    # triples -> aggregate chain ~5x underneath the persist boundary.
    und = _persist("triangles", above_mean_edges(docs).select("a", "b"))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # Orientation key: (deg, name). struct comparison gives lexicographic
    # order; carrying deg_v on each oriented edge lets wedges be ordered by
    # the SAME key, so the closing edge is a plain two-column equi-join
    # (an OR-of-directions condition would degrade to a nested-loop join).
    with_deg = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "deg_a"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "deg_b"), "b")
    )
    oriented = with_deg.select(
        F.when(
            F.struct("deg_a", "a") < F.struct("deg_b", "b"),
            F.struct(F.col("a").alias("u"), F.col("b").alias("v"), F.col("deg_b").alias("deg_v")),
        )
        .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v"), F.col("deg_a").alias("deg_v")))
        .alias("e")
    ).select("e.u", "e.v", "e.deg_v")
    # The oriented edge list is referenced three times (both wedge sides +
    # the closing join); persist so the chain above runs once.
    oriented = _persist("triangles", oriented)
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    # Wedge (u; v1, v2) with v1 before v2 in ORIENTATION order: two
    # out-edges of u; each wedge appears once, and the closing edge (if
    # present) is necessarily oriented v1 -> v2.
    wedges = e1.join(
        e2,
        on=(F.col("e1.u") == F.col("e2.u"))
        & (F.struct(F.col("e1.deg_v"), F.col("e1.v")) < F.struct(F.col("e2.deg_v"), F.col("e2.v"))),
    ).select(F.col("e1.u").alias("w_u"), F.col("e1.v").alias("w_v1"), F.col("e2.v").alias("w_v2"))
    e3 = oriented.select(F.col("u").alias("w_v1"), F.col("v").alias("w_v2"))
    tri = wedges.join(e3, on=["w_v1", "w_v2"]).select("w_u", "w_v1", "w_v2")
    return tri.select(
        F.expr("array_sort(array(w_u, w_v1, w_v2))").alias("t")
    ).select(
        F.col("t")[0].alias("ea"), F.col("t")[1].alias("eb"), F.col("t")[2].alias("ec")
    )


def link_pred_ra(docs: DataFrame, max_center_degree: int = 0) -> DataFrame:
    """(a, b, n_common, ra_1e6) with a < b — link prediction over the
    sparsified undirected entity graph by the resource-allocation index
    (Zhou, Lü & Zhang, EPJ B 2009): for each NON-adjacent pair, score =
    sum over common neighbors z of 1/deg(z) — the KG-completion signal
    that proposes missing edges for extraction review. RA is the
    integer-friendly member of the common-neighbor family (Adamic-Adar's
    1/log deg needs floats); reported exact as 1e6 DIV deg(z) summed.

    Plan shape: symmetrize the persisted edge list, one self-equi-join on
    the wedge center z, anti-join out existing edges, one (a, b)
    aggregate. Wedge fan-out is quadratic in deg(z) — unlike triangles,
    orientation cannot bound it, because every wedge at z is a genuine
    candidate pair. The scale lever is ``max_center_degree``: centers
    above the cap are excluded as evidence, which is the standard
    super-hub truncation and cheap to reason about — each excluded
    contribution is < 1e6/cap, so a cap of 10^4 perturbs scores by
    < 100 micro-units per hub while cutting the worst fan-out from
    O(deg_max^2) to O(cap^2). 0 = exact (the gate's setting); production
    at web scale sets a cap and the docstring bound quantifies the error
    (non-silent by contract, like the LSH bucket caps).
    """
    _evict("linkpred")
    und = _persist("linkpred", above_mean_edges(docs).select("a", "b"))
    sym = und.select(F.col("a").alias("z"), F.col("b").alias("x")).unionAll(
        und.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    deg = sym.groupBy("z").agg(F.count("*").alias("d"))
    if max_center_degree > 0:
        deg = deg.where(F.col("d") <= max_center_degree)
    # deg rides the wedge join keyed by z (no broadcast hint: node-sized)
    centers = sym.join(deg, "z")
    s1 = centers.select("z", F.col("x").alias("a"), "d")
    s2 = centers.select("z", F.col("x").alias("b"))
    wedges = s1.join(s2, "z").where(F.col("a") < F.col("b"))
    cand = wedges.join(und, ["a", "b"], "left_anti")
    return cand.groupBy("a", "b").agg(
        F.count("*").alias("n_common"),
        F.sum(F.expr("1000000 DIV d")).cast("long").alias("ra_1e6"),
    )


def directed_entity_edges(docs: DataFrame) -> DataFrame:
    """(subj, obj) — distinct directed SVO edges (predicate collapsed)."""
    return doc_triples(docs).where(F.col("subj") != F.col("obj")).select("subj", "obj").distinct()


def paths_2hop(docs: DataFrame) -> DataFrame:
    """(a, c, n_mids) — 2-hop reachability features for link prediction.

    One self-equi-join on the distinct directed edge set; both sides hash
    to the same join key (e1.obj = e2.subj), so at scale this is a single
    co-partitioned shuffle, and the (a, c) aggregation reuses nothing
    wider than the join output. a = c loops are excluded.
    """
    e = directed_entity_edges(docs)
    e1 = e.select(F.col("subj").alias("a"), F.col("obj").alias("mid"))
    e2 = e.select(F.col("subj").alias("mid"), F.col("obj").alias("c"))
    return (
        e1.join(e2, "mid")
        .where(F.col("a") != F.col("c"))
        .groupBy("a", "c")
        .agg(F.countDistinct("mid").alias("n_mids"))
    )


LPA_ITERS = 3


def label_propagation(docs: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """(entity, community) — weighted synchronous label propagation.

    Classic LPA (Raghavan et al. 2007), made deterministic: every node
    starts as its own label; each round a node adopts the label with the
    largest summed edge weight among its neighbours' current labels, ties
    broken by smallest label (isolated nodes keep their own). Fixed
    ``iters`` synchronous rounds — not run to convergence — so the oracle
    can unroll the exact same rounds; distinct from connected components
    (min-label propagation), which ignores weights entirely.

    Runs on the above-mean sparsified edge set: on the near-complete raw
    entity graph every node collapses into one community by round 2 and
    the gate would be near-vacuous; the sparse graph yields non-trivial
    structure at every tested scale.

    Known caveat shared with GraphFrames' synchronous LPA: isolated
    symmetric structures oscillate with period 2 (labels swap each round)
    — still fully deterministic at a fixed ``iters``, and pinned in
    pytest so a semantics change cannot land silently.

    Per round: one join (edge ⋈ label), one weighted count, one max-by
    window — all key-partitioned shuffles on node ids; the edge list is
    persisted once and reused every round (same discipline as
    entity_pagerank's weighted matrix).
    """
    weighted = above_mean_edges(docs)
    # symmetrize: each undirected edge votes in both directions
    sym = (
        weighted.select(F.col("a").alias("src"), F.col("b").alias("dst"), "n")
        .unionAll(weighted.select(F.col("b").alias("src"), F.col("a").alias("dst"), "n"))
    )
    _evict("lpa")
    sym = _persist("lpa", sym)

    labels = sym.select(F.col("src").alias("entity")).distinct().withColumn(
        "community", F.col("entity")
    )
    from pyspark.sql import Window

    for _ in range(iters):
        votes = (
            sym.join(labels.withColumnRenamed("entity", "dst"), "dst")
            .groupBy(F.col("src").alias("entity"), "community")
            .agg(F.sum("n").alias("w"))
        )
        win = Window.partitionBy("entity").orderBy(F.desc("w"), F.asc("community"))
        best = (
            votes.withColumn("rk", F.row_number().over(win))
            .where(F.col("rk") == 1)
            .select("entity", "community")
        )
        # every node has >=1 neighbour (labels domain = edge endpoints),
        # so best covers the full domain each round
        labels = best
    return labels


# --- k-core decomposition ----------------------------------------------------

KCORE_K = 6  # min degree of the sf corpus graph is 5: k=6 actually peels
# Peel-round budget shared with the oracle: the gate's unrolled CTEs run
# exactly this many rounds, and the operator RAISES if the fixpoint is not
# reached inside it — so plan and oracle can never silently diverge on a
# corpus that peels deeper (the cc_dedup_components loud-failure discipline).
KCORE_ORACLE_ROUNDS = 8


def kcore_peel(
    docs: DataFrame,
    k: int = KCORE_K,
    max_rounds: int = KCORE_ORACLE_ROUNDS,
) -> DataFrame:
    """(entity, peel_round): the k-core peel trace (onion decomposition)
    of the above-mean co-occurrence graph — the round at which each node
    was peeled (degree < k at that round), or -1 for nodes surviving in
    the k-core.

    Iterative peeling is monotone — peeled nodes never return — so an
    oracle that unrolls MORE rounds than needed is a no-op beyond
    convergence, and each node's peel round is well-defined (it peels at
    most once). Per round: one degree aggregate + two anti-joins (the
    drop set is peeled-nodes-sized; AQE broadcasts it) and ONE count
    action for the fixpoint test — O(rounds) driver round-trips, same as
    connected_components. Each round's edge set goes through the shared
    per-round lineage break (``plans/rounds.py``: round tables when a
    checkpoint dir is configured, else localCheckpoint) — without it the
    plan-compile cost grows superlinearly with rounds (measured: round
    walls 1.4 s -> 18 s by round 4 on the persist-only variant).
    """
    _evict("kcore")
    und = _persist("kcore", above_mean_edges(docs).select("a", "b"))
    brk = lineage_breaker(docs)
    edges = brk(und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b"))))
    nodes = edges.select(F.col("a").alias("entity")).distinct()
    n_prev = edges.count()
    peels: list[DataFrame] = []
    for rnd in range(max_rounds):
        drop = (
            edges.groupBy("a")
            .agg(F.count("*").alias("_d"))
            .where(F.col("_d") < k)
            .select("a")
        )
        pruned = brk(
            edges.join(drop, "a", "left_anti")
            .join(drop.withColumnRenamed("a", "b"), "b", "left_anti")
            .select("a", "b")
        )
        n_now = pruned.count()
        # nodes whose every edge vanished this round (drop members AND
        # collateral isolates) peel now: present before, absent after.
        peels.append(
            edges.select(F.col("a").alias("entity"))
            .distinct()
            .join(pruned.select(F.col("a").alias("entity")).distinct(), "entity", "left_anti")
            .select("entity", F.lit(rnd).cast("long").alias("peel_round"))
        )
        if n_now == n_prev:
            edges = pruned
            break
        edges, n_prev = pruned, n_now
    else:
        raise RuntimeError(
            f"kcore_peel: no fixpoint within {max_rounds} peel rounds — "
            "raise KCORE_ORACLE_ROUNDS (and regenerate the oracle) for this corpus"
        )
    peeled = peels[0]
    for p in peels[1:]:
        peeled = peeled.unionByName(p)
    return nodes.join(peeled, "entity", "left").select(
        "entity", F.coalesce("peel_round", F.lit(-1)).cast("long").alias("peel_round")
    )


KTRUSS_K = 4  # each surviving edge must close >= k-2 triangles
KTRUSS_ORACLE_ROUNDS = 6


def ktruss_peel(
    docs: DataFrame,
    k: int = KTRUSS_K,
    max_rounds: int = KTRUSS_ORACLE_ROUNDS,
) -> DataFrame:
    """(a, b, peel_round): the k-truss peel trace of the above-mean
    entity graph — the EDGE-grain sibling of ``kcore_peel``. An edge
    survives a round iff it closes at least ``k - 2`` triangles within
    the surviving subgraph; peeling iterates to fixpoint (monotone, so
    an oracle unrolling extra rounds is a no-op). Survivors report -1.

    k-truss is the standard KG noise-edge filter: a spurious triple
    rarely embeds in triangles of corroborating facts, so truss edges
    are the high-confidence relational core (stricter than k-core,
    which counts raw degree).

    Per round: one wedge join (edges ⋈ sym ⋈ sym — the triangle
    enumeration shape kg_triangles already carries, inheriting its AQE
    skew handling), one left join back to keep 0-support edges, one
    count action for the fixpoint test. Rounds go through the shared
    lineage break (``plans/rounds.py``) — the kcore_peel contract.
    """
    _evict("ktruss")
    und = _persist("ktruss", above_mean_edges(docs).select("a", "b"))
    brk = lineage_breaker(docs)
    edges = brk(und)
    all_edges = edges
    n_prev = edges.count()
    peels: list[DataFrame] = []
    for rnd in range(max_rounds):
        sym = edges.unionAll(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        supp = (
            edges.alias("e")
            .join(sym.alias("x"), F.col("x.a") == F.col("e.a"))
            .join(
                sym.alias("y"),
                (F.col("y.a") == F.col("e.b")) & (F.col("y.b") == F.col("x.b")),
            )
            .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
            .agg(F.count("*").alias("s"))
        )
        pruned = brk(
            edges.join(supp, ["a", "b"], "left")
            .where(F.coalesce(F.col("s"), F.lit(0)) >= k - 2)
            .select("a", "b")
        )
        n_now = pruned.count()
        peels.append(
            edges.join(pruned, ["a", "b"], "left_anti").select(
                "a", "b", F.lit(rnd).cast("long").alias("peel_round")
            )
        )
        if n_now == n_prev:
            edges = pruned
            break
        edges, n_prev = pruned, n_now
    else:
        raise RuntimeError(
            f"ktruss_peel: no fixpoint within {max_rounds} peel rounds — "
            "raise KTRUSS_ORACLE_ROUNDS (and regenerate the oracle) for this corpus"
        )
    peeled = peels[0]
    for p in peels[1:]:
        peeled = peeled.unionByName(p)
    return all_edges.join(peeled, ["a", "b"], "left").select(
        "a", "b", F.coalesce("peel_round", F.lit(-1)).cast("long").alias("peel_round")
    )


# --- deterministic random walks (embedding corpus) ---------------------------

WALK_SEED = 17    # walk-choice hash seed, independent of every other family
WALK_STEPS = 3    # gate horizon; the oracle unrolls exactly this many steps
WALKS_PER_NODE = 2


def random_walks(
    edges: DataFrame,
    steps: int = WALK_STEPS,
    n_walks: int = WALKS_PER_NODE,
    seed: int = WALK_SEED,
) -> DataFrame:
    """DeepWalk/node2vec-style walk corpus over the materialized KG edge
    table: ``n_walks`` walks start at every node with out-degree > 0 and
    take up to ``steps`` hops, at each hop moving to the out-neighbor that
    minimizes a seeded hash of (walk identity, step, neighbor) — a
    deterministic stand-in for the uniform draw (the corpus-wide RNG
    discipline: reproducible, resumable, engine-replayable; reference has
    no graph-embedding stage — this extends its KG, ner_app.py:196-226,
    toward a trainable graph representation).

    Output: (walk_src, walk_i, path, walk_len) with ``path`` the
    '|'-joined node-id sequence (walk_src first). Walks stop early at
    sinks, so walk_len ranges 2..steps+1 (frontier nodes all have at
    least one out-edge).

    Scale shape: per hop ONE shuffle join of the frontier (O(nodes *
    n_walks) rows, never growing) against the distinct edge list keyed by
    source, then ONE groupBy(walk) min-struct aggregate — partially
    aggregated map-side, so a hub node's fan-out collapses before the
    shuffle. The edge list is persisted once and re-scanned per hop;
    ``steps`` is a small constant (walk horizon), so the whole corpus is
    2*steps shuffles, independent of graph size.
    """
    from hebrew_ner_spark.functions.hashing import phash_col

    ee = (
        edges.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    walk_ids = F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("walk_i")
    walks = (
        ee.select("src")
        .distinct()
        .select(F.col("src").alias("walk_src"), walk_ids)
        .select(
            "walk_src",
            F.col("walk_i").cast("long").alias("walk_i"),
            F.col("walk_src").alias("cur"),
            F.col("walk_src").cast("string").alias("path"),
        )
    )
    for t in range(1, steps + 1):
        cand = walks.join(ee, walks["cur"] == ee["src"], "left")
        h = phash_col(
            F.concat_ws(
                "|",
                F.lit("WLK"),
                F.col("walk_src").cast("string"),
                F.col("walk_i").cast("string"),
                F.lit(str(t)),
                F.col("dst").cast("string"),
            ),
            seed,
        )
        picked = (
            cand.select(
                "walk_src",
                "walk_i",
                "path",
                F.struct(h.alias("h"), F.col("dst").alias("dst")).alias("hd"),
            )
            .groupBy("walk_src", "walk_i")
            # rows in a (walk_src, walk_i) group share one path value, so
            # first() is value-deterministic here
            .agg(F.min("hd").alias("m"), F.first("path").alias("path"))
        )
        walks = picked.select(
            "walk_src",
            "walk_i",
            F.col("m.dst").alias("cur"),
            F.when(F.col("m.dst").isNull(), F.col("path"))
            .otherwise(F.concat_ws("|", "path", F.col("m.dst").cast("string")))
            .alias("path"),
        )
    return walks.select(
        "walk_src",
        "walk_i",
        "path",
        F.size(F.split("path", "\\|")).cast("long").alias("walk_len"),
    )


SKIPGRAM_WINDOW = 2


def skipgram_pairs(walks: DataFrame, window: int = SKIPGRAM_WINDOW) -> DataFrame:
    """(center, context) skip-gram training pairs from the walk corpus —
    the DeepWalk objective's input (each node paired with every walk
    neighbor within ``window`` hops, both directions, offset kept so the
    consumer can weight by distance).

    Output: (walk_src, walk_i, center, context, off) with off = context
    position minus center position, in [-window, window] \\ {0}.

    Scale shape: pair generation is ARRAY-SIDE (nested transform +
    flatten over the path array, the cooc_lift discipline) — O(L * 2w)
    per walk with L = steps+1 a small constant, zero joins and zero
    shuffles added on top of the walk corpus itself.
    """
    toks = F.split(F.col("path"), "\\|")
    w = F.lit(window)
    pairs = F.filter(
        F.flatten(
            F.transform(
                toks,
                lambda x, i: F.transform(
                    toks,
                    lambda y, j: F.when(
                        (j >= i - w) & (j <= i + w) & (j != i),
                        F.struct(
                            x.cast("long").alias("center"),
                            y.cast("long").alias("context"),
                            (j - i).cast("long").alias("off"),
                        ),
                    ),
                ),
            )
        ),
        lambda s: s.isNotNull(),
    )
    return walks.select("walk_src", "walk_i", F.explode(pairs).alias("pr")).select(
        "walk_src", "walk_i", "pr.center", "pr.context", "pr.off"
    )


# --- landmark BFS distances ---------------------------------------------------

LANDMARK_SEED = 23
LANDMARKS_K = 4
BFS_ROUNDS = 3


def landmark_distances(
    edges: DataFrame,
    k: int = LANDMARKS_K,
    rounds: int = BFS_ROUNDS,
    seed: int = LANDMARK_SEED,
) -> DataFrame:
    """(entity, landmark, dist) — exact shortest-path distance (up to
    ``rounds`` hops) from every node to each of ``k`` landmarks over the
    UNDIRECTED entity graph. Landmark-distance vectors are the standard
    cheap structural feature for link-prediction / disambiguation
    training data; the landmarks are the k nodes minimizing a seeded
    hash — a deterministic, oracle-replayable stand-in for the usual
    random pick. Pairs farther than ``rounds`` are absent (consumers
    read absence as 'far'); self-loops are dropped (they never shorten
    a path).

    Scale shape: the distance table is O(nodes * k) rows. Each round
    extends ONLY the current frontier (dist == round-1) through one join
    keyed by the frontier node, then folds with a map-side-combined min
    aggregate — hub fan-in collapses before the shuffle. The symmetrized
    edge list is persisted once; rounds is a small constant, so lineage
    stays bounded without checkpointing (the CC/pagerank discipline).
    The k-way top-k landmark pick is a TakeOrdered over node hashes —
    k rows to the driver plan, never the node table.
    """
    from hebrew_ner_spark.functions.hashing import phash_col

    fwd = edges.select(F.col("subj_id").alias("a"), F.col("obj_id").alias("b"))
    sym = (
        fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lm = (
        sym.select("a")
        .distinct()
        .select(
            "a",
            phash_col(
                F.concat(F.lit("LMK|"), F.col("a").cast("string")), seed
            ).alias("h"),
        )
        .orderBy("h", "a")
        .limit(k)
        .select(F.col("a").alias("landmark"))
    )
    dist = lm.select(
        F.col("landmark").alias("entity"),
        "landmark",
        F.lit(0).cast("long").alias("dist"),
    )
    for r in range(1, rounds + 1):
        frontier = dist.where(F.col("dist") == r - 1).alias("d")
        ext = frontier.join(sym.alias("s"), F.col("d.entity") == F.col("s.a")).select(
            F.col("s.b").alias("entity"),
            F.col("d.landmark").alias("landmark"),
            F.lit(r).cast("long").alias("dist"),
        )
        dist = (
            dist.unionByName(ext)
            .groupBy("entity", "landmark")
            .agg(F.min("dist").alias("dist"))
        )
    return dist


def walk_pmi(pairs: DataFrame) -> DataFrame:
    """(center, context, n_cx, lift_1e6) — exact-integer PMI-style
    association over the skip-gram pair corpus: lift = T * n_cx /
    (n_c * n_x) with T total pairs, n_c/n_x the marginal center/context
    counts — the quantity whose log is PMI, and whose shifted-log matrix
    SGNS embeddings implicitly factorize. Reported as
    floor(lift * 1e6 + 0.5) via the BIGINT round-half-up identity
    (2*num + den) DIV (2*den) — no float log/division crosses engines.

    Scale shape: three keyed aggregates over the pair corpus (all
    map-side combined) + one scalar total; the marginal joins carry no
    broadcast hint — AQE broadcasts the entity-vocabulary-sized tables
    and degrades to key-partitioned joins when a web-scale vocabulary
    outgrows the threshold (the cooc_lift discipline). Exactness bound:
    2e6 * T * n_cx must stay under 2^63 — T ~ nodes * walks * L * 2w, so
    ~10^9 pairs tolerates n_cx to ~5*10^2; beyond that rescale to
    DECIMAL(38,0) as documented on cooc_lift.
    """
    cx = pairs.groupBy("center", "context").agg(F.count("*").alias("n_cx"))
    c = pairs.groupBy("center").agg(F.count("*").alias("n_c"))
    x = pairs.groupBy("context").agg(F.count("*").alias("n_x"))
    t = pairs.agg(F.count("*").alias("n_t"))
    return (
        cx.crossJoin(F.broadcast(t))
        .join(c, "center")
        .join(x, "context")
        .select(
            "center",
            "context",
            "n_cx",
            F.expr(
                "CAST((2000000 * n_t * n_cx + n_c * n_x) DIV (2 * n_c * n_x) AS BIGINT)"
            ).alias("lift_1e6"),
        )
    )


SRP_BITS = 16
SRP_SEED = 29


def node_signatures(
    pmi: DataFrame, bits: int = SRP_BITS, seed: int = SRP_SEED
) -> DataFrame:
    """(entity, sig) — sign-random-projection structural signature of
    every node from its PMI context vector (entity = center row of
    ``walk_pmi``; features = contexts, weights = lift_1e6). Bit j is
    sign(sum_x lift(entity, x) * r_jx) with r_jx in {+1, -1} from the
    parity of a seeded hash — the classic SRP sketch: nodes with similar
    association profiles (structural roles) agree on most bits, and the
    packed signature plugs straight into the existing SimHash Hamming
    blocking for similar-role retrieval at corpus scale.

    Exact-integer end to end (weights are already integer micro-units;
    a zero sum maps to bit 0 deterministically). Scale shape: one
    explode by ``bits`` (a small constant), one (entity, j) sum — map-
    side combined — and one entity-keyed pack; no joins, no floats.
    """
    from hebrew_ner_spark.functions.hashing import phash_col

    j = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j")
    rows = pmi.select(F.col("center").alias("entity"), "context", "lift_1e6", j)
    r = F.when(
        phash_col(
            F.concat_ws(
                "|",
                F.lit("SRP"),
                F.col("j").cast("string"),
                F.col("context").cast("string"),
            ),
            seed,
        )
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    acc = (
        rows.select("entity", "j", (F.col("lift_1e6") * r).alias("v"))
        .groupBy("entity", "j")
        .agg(F.sum("v").alias("s"))
    )
    return acc.groupBy("entity").agg(
        F.sum(
            F.expr("shiftleft(CAST(CASE WHEN s > 0 THEN 1 ELSE 0 END AS BIGINT), CAST(j AS INT))")
        )
        .cast("long")
        .alias("sig")
    )


ROLE_HAMMING_MAX = 3
ROLE_BUCKET_CAP = 4096


def similar_roles(
    sigs: DataFrame,
    max_hamming: int = ROLE_HAMMING_MAX,
    cap: int = ROLE_BUCKET_CAP,
) -> DataFrame:
    """(ent_a, ent_b, hamming) — entity pairs whose SRP signatures agree
    within ``max_hamming`` bits: structurally similar roles in the KG
    (interchangeable-entity candidates for canonicalization QA and
    type induction). Band blocking, not an all-pairs join: the 16-bit
    signature splits into 4 x 4-bit blocks, and any pair within Hamming
    3 shares at least one identical block (pigeonhole) — so blocking is
    lossless at the default radius. Blocks beyond ``cap`` members are
    excluded from the pair explosion (the simhash mega-cluster guard;
    at 16 bits a band has only 16 values, so a web-scale run raises
    SRP_BITS first — documented, not silent).

    The plan is dedup's band-blocked Hamming join
    (``hamming_near_pairs_from_sigs`` with 4-bit bands): one explode by
    4 bands, one (band, bval)-keyed group whose pair explosion is
    bounded by cap², Hamming verified in-flight from the carried
    signatures (no re-join), distinct folds band duplicates.
    """
    return hamming_near_pairs_from_sigs(
        sigs.withColumnRenamed("entity", "doc_id"), "sig", max_hamming, cap, band_bits=4
    ).select(F.col("doc_a").alias("ent_a"), F.col("doc_b").alias("ent_b"), "hamming")


def link_pred_ranks(docs: DataFrame, max_center_degree: int = 0) -> DataFrame:
    """(src, dst, n_common, ra_1e6, rank): KG-completion ranking
    evaluation for the RA link predictor — the leave-in filtered ranking
    protocol (Bordes et al. 2013 TransE eval, adapted to a closed-form
    scorer): every EXISTING edge with at least one common neighbor is a
    test positive, ranked per source endpoint against all non-adjacent
    same-source candidates by (ra_1e6 DESC, n_common DESC, dst ASC), with
    other positives filtered out of the rank (rows above it that are
    themselves edges don't count). rank = 1 means RA would propose the
    held-out edge first.

    Plan shape: the wedge join from link_pred_ra WITHOUT the anti-join (both
    positives and negatives need scores), one left join against the edge
    list to label positives, a two-way select to symmetrize pair scores
    into per-source rows, then ONE src-keyed window (row_number plus a
    cumulative positive count — rank_filtered = rn - positives_above).
    Per-source candidate fan-out is the wedge fan-out, so the same
    ``max_center_degree`` super-hub cap bounds the window partition size
    at web scale (0 = exact, the gate's setting).
    """
    from pyspark.sql import Window

    _evict("linkpredeval")
    und = _persist("linkpredeval", above_mean_edges(docs).select("a", "b"))
    sym = und.select(F.col("a").alias("z"), F.col("b").alias("x")).unionAll(
        und.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    deg = sym.groupBy("z").agg(F.count("*").alias("d"))
    if max_center_degree > 0:
        deg = deg.where(F.col("d") <= max_center_degree)
    centers = sym.join(deg, "z")
    s1 = centers.select("z", F.col("x").alias("a"), "d")
    s2 = centers.select("z", F.col("x").alias("b"))
    wedges = s1.join(s2, "z").where(F.col("a") < F.col("b"))
    scored = wedges.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("n_common"),
        F.sum(F.expr("1000000 DIV d")).cast("long").alias("ra_1e6"),
    )
    lab = scored.join(
        und.select("a", "b", F.lit(1).alias("is_pos")), ["a", "b"], "left"
    ).withColumn("is_pos", F.coalesce(F.col("is_pos"), F.lit(0)).cast("long"))
    both = lab.select(
        F.col("a").alias("src"), F.col("b").alias("dst"),
        "n_common", "ra_1e6", "is_pos",
    ).unionAll(
        lab.select(
            F.col("b").alias("src"), F.col("a").alias("dst"),
            "n_common", "ra_1e6", "is_pos",
        )
    )
    order = Window.partitionBy("src").orderBy(
        F.desc("ra_1e6"), F.desc("n_common"), F.asc("dst")
    )
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    rk = both.withColumn("rn", F.row_number().over(order)).withColumn(
        "prev_pos", F.coalesce(F.sum("is_pos").over(prev), F.lit(0))
    )
    return rk.where(F.col("is_pos") == 1).select(
        "src", "dst", "n_common", "ra_1e6",
        (F.col("rn") - F.col("prev_pos")).cast("long").alias("rank"),
    )


def link_pred_mrr(docs: DataFrame, max_center_degree: int = 0) -> DataFrame:
    """One row (n_pos, mrr_1e6, hits1, hits3, hits10): exact-integer
    summary of the filtered ranking eval — MRR's per-positive reciprocal
    is 1e6 DIV rank (truncating, replayed identically by the oracle) and
    the mean is round-half-up micro-units."""
    r = link_pred_ranks(docs, max_center_degree)
    agg = r.agg(
        F.count("*").cast("long").alias("n_pos"),
        F.sum(F.expr("1000000 DIV rank")).cast("long").alias("rr_sum"),
        F.sum((F.col("rank") <= 1).cast("long")).alias("hits1"),
        F.sum((F.col("rank") <= 3).cast("long")).alias("hits3"),
        F.sum((F.col("rank") <= 10).cast("long")).alias("hits10"),
    )
    return agg.select(
        "n_pos",
        F.expr(
            "CAST(CASE WHEN n_pos = 0 THEN 0 ELSE"
            " (2 * rr_sum + n_pos) DIV (2 * n_pos) END AS BIGINT)"
        ).alias("mrr_1e6"),
        "hits1", "hits3", "hits10",
    )


def distance_histogram(edges: DataFrame, **landmark_kw) -> DataFrame:
    """(dist, n_pairs, cum_pairs, eff_diameter): the (entity, landmark)
    distance distribution from the landmark BFS sample, with the
    ANF/HyperANF-style effective diameter — the smallest distance d at
    which >= 90% of all reached pairs are within d (``10*cum >= 9*total``
    in exact integers; eff_diameter is TRUE on exactly that first row).
    The one-table graph health report (is the KG one tight component?
    did an extraction bug shatter it into long chains?) over the same
    sampled-BFS features link prediction already pays for.

    Scale shape: everything after landmark_distances is an aggregate on
    a <= (horizon+1)-row table — one map-side-combined count per dist,
    one window + broadcast-folded total on rows you can count on one
    hand. Adds nothing to the BFS cost it composes.
    """
    from pyspark.sql import Window

    d = landmark_distances(edges, **landmark_kw)
    hist = d.groupBy("dist").agg(F.count("*").cast("long").alias("n_pairs"))
    w = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)
    hist = hist.withColumn("cum_pairs", F.sum("n_pairs").over(w).cast("long"))
    total = hist.agg(F.max("cum_pairs").alias("_t"))
    wprev = Window.orderBy("dist")
    return (
        hist.crossJoin(F.broadcast(total))
        .withColumn("_hit", 10 * F.col("cum_pairs") >= 9 * F.col("_t"))
        .withColumn(
            "eff_diameter",
            (F.col("_hit") & ~F.coalesce(F.lag("_hit").over(wprev), F.lit(False)))
            .cast("long"),
        )
        .select("dist", "n_pairs", "cum_pairs", "eff_diameter")
    )


TYPEPROP_ITERS = 2
TYPEPROP_SEED = 11


def type_propagation(docs: DataFrame, iters: int = TYPEPROP_ITERS) -> DataFrame:
    """(entity, etype, inferred): semi-supervised entity typing — seed
    HALF the nodes with their gazetteer ontology class (hash-selected,
    deterministic), leave the rest untyped, and propagate: each round an
    untyped node adopts the class with the largest summed edge weight
    among its TYPED neighbours (ties -> class name). Seeds are CLAMPED
    (never re-vote — the difference from label_propagation, whose labels
    all float). The standard KG completion move when the type dictionary
    covers a fraction of a web-scale entity set; nodes that never reach
    a typed neighbour within ``iters`` stay absent (consumers read
    absence as 'unknown').

    Scale shape per round: one edge ⋈ label join + one weighted count +
    one max-by window, all node-keyed; the symmetrized sparse edge list
    persists once (the LPA/pagerank discipline). Fixed synchronous
    rounds so the oracle unrolls the identical computation.
    """
    from pyspark.sql import Window

    from hebrew_ner_spark.functions.hashing import phash_col
    from hebrew_ner_spark.operators.kg import _etype_case

    weighted = above_mean_edges(docs)
    sym = (
        weighted.select(F.col("a").alias("src"), F.col("b").alias("dst"), "n")
        .unionAll(weighted.select(F.col("b").alias("src"), F.col("a").alias("dst"), "n"))
    )
    _evict("typeprop")
    sym = _persist("typeprop", sym)

    nodes = sym.select(F.col("src").alias("entity")).distinct()
    is_seed = phash_col(F.concat(F.lit("TPS|"), F.col("entity")), TYPEPROP_SEED) % 2 == 0
    seeds = nodes.where(is_seed).select(
        "entity", F.expr(_etype_case("entity")).alias("etype")
    )
    labels = seeds
    win = Window.partitionBy("entity").orderBy(F.desc("w"), F.asc("etype"))
    for _ in range(iters):
        votes = (
            sym.join(labels.withColumnRenamed("entity", "dst"), "dst")
            .groupBy(F.col("src").alias("entity"), "etype")
            .agg(F.sum("n").alias("w"))
        )
        best = (
            votes.withColumn("rk", F.row_number().over(win))
            .where(F.col("rk") == 1)
            .select("entity", "etype")
        )
        labels = seeds.unionByName(best.join(seeds.select("entity"), "entity", "left_anti"))
    return labels.withColumn(
        "inferred",
        (~(phash_col(F.concat(F.lit("TPS|"), F.col("entity")), TYPEPROP_SEED) % 2 == 0))
        .cast("long"),
    )


def pra_path_features(docs: DataFrame, max_center_degree: int = 0) -> DataFrame:
    """(a, c, pred1, pred2, n_paths): PRA path-type features (Lao & Cohen
    2010 path-ranking) over the TYPED triple store — for each ordered
    entity pair, the number of distinct mid entities connecting them
    through the (pred1, pred2) relation sequence. This is the feature
    matrix behind path-ranking KG completion: each relation-pair column
    scores candidate edges for extraction review, complementing the
    untyped reachability counts (``paths_2hop``) and the structural RA
    index (``link_pred_ra``).

    Plan shape: the evidence-grain pattern triples pre-aggregate to the
    DISTINCT (subj, pred, obj) edge set BEFORE the wedge join on the mid
    entity, so the join carries one row per typed edge, never per
    occurrence; the mid-keyed self-join is the ``paths_2hop`` shape with
    the same ``max_center_degree`` hub truncation (mids above the cap
    excluded as path evidence — the link_pred_ra non-silent contract;
    0 = exact, the gate's setting).
    """
    from hebrew_ner_spark.operators import kg

    e = (
        kg.doc_triples_patterns(docs)
        .where(F.col("subj") != F.col("obj"))
        .select("subj", "pred", "obj")
        .distinct()
    )
    if max_center_degree > 0:
        deg = (
            e.select(F.col("obj").alias("mid"))
            .unionAll(e.select(F.col("subj").alias("mid")))
            .groupBy("mid")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") <= max_center_degree)
            .select("mid")
        )
    else:
        deg = None
    e1 = e.select(F.col("subj").alias("a"), F.col("pred").alias("pred1"), F.col("obj").alias("mid"))
    e2 = e.select(F.col("subj").alias("mid"), F.col("pred").alias("pred2"), F.col("obj").alias("c"))
    if deg is not None:
        e1 = e1.join(deg, "mid")
    return (
        e1.join(e2, "mid")
        .where(F.col("a") != F.col("c"))
        .groupBy("a", "c", "pred1", "pred2")
        .agg(F.count_distinct("mid").alias("n_paths"))
    )


def clustering_coefficient(docs: DataFrame) -> DataFrame:
    """(entity, deg, n_tri, cc_1e6): local clustering coefficient of the
    above-mean entity graph — 2*tri(v) / (deg(v)*(deg(v)-1)) in exact
    micro-units (repo half-up identity), 0 for degree < 2. The standard
    per-node cohesion score (Watts-Strogatz): a fact hub whose neighbors
    interconnect is a coherent topic; one whose neighbors don't is a
    disambiguation page or extraction noise.

    Plan: reuses the orientation-minimal triangle enumeration (each
    triangle once), explodes its three corners (3x a triangle-sized
    table — tiny), one count per node, one left join onto degrees so
    triangle-free nodes report 0."""
    und = above_mean_edges(docs).select("a", "b")
    deg = (
        und.select(F.col("a").alias("entity"))
        .unionAll(und.select(F.col("b").alias("entity")))
        .groupBy("entity")
        .agg(F.count("*").alias("deg"))
    )
    tri = (
        triangles(docs)
        .select(F.explode(F.array("ea", "eb", "ec")).alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("n_tri"))
    )
    return (
        deg.join(tri, "entity", "left")
        .select(
            "entity",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        )
        .withColumn(
            "cc_1e6",
            F.expr(
                "CASE WHEN deg < 2 THEN 0L ELSE "
                "CAST((2 * (2 * n_tri * 1000000) + (deg * (deg - 1)))"
                " DIV (2 * (deg * (deg - 1))) AS BIGINT) END"
            ),
        )
    )


# Bounded all-pairs reachability: min-plus doubling parameters.
REACH_MAX_HOPS = 4
REACH_N_NODES = 64  # planted sparse-graph order


def synth_sparse_edges(docs: DataFrame) -> DataFrame:
    """(src, dst): a deterministic sparse directed graph — 64 nodes,
    one edge per doc at src = doc_id % 64, dst = (doc_id * 7 + 13) % 64
    (self-loops dropped, duplicates collapsed). Average out-degree stays
    small at every scale factor, so min-hop structure beyond 2 actually
    exists — the organic entity graph is too dense (18 nodes, >50%
    edge density) for multi-hop paths to survive."""
    n = REACH_N_NODES
    e = docs.select(
        F.concat(F.lit("n"), (F.col("doc_id") % n).cast("string")).alias("src"),
        F.concat(F.lit("n"), ((F.col("doc_id") * 7 + 13) % n).cast("string")).alias(
            "dst"
        ),
    )
    return e.where(F.col("src") != F.col("dst")).distinct()


def bounded_reach(edges: DataFrame, max_hops: int = REACH_MAX_HOPS) -> DataFrame:
    """(src, dst, min_hops): every ordered pair reachable in at most
    ``max_hops`` directed hops, with the exact minimum hop count —
    **min-plus doubling**: round k holds all shortest paths of length
    <= 2^k, so ceil(log2(H)) self-joins reach horizon H (the O(log H)
    alternative to H-round BFS; each round is one equi-join on the
    relay node + one min aggregate, both key-partitioned). The frontier
    table is bounded by reachable-pair count; a relay hub fans out as
    join skew on its key (AQE skew split / salted_agg apply as ever).

    Proven against the opposite algorithm: the gate's oracle grows paths
    one hop at a time through a depth-bounded recursive CTE — the two
    constructions agree only if both min-hop semantics are exact."""
    r = edges.select("src", "dst").distinct().withColumn(
        "min_hops", F.lit(1).cast("long")
    )
    rounds = max(1, (max_hops - 1).bit_length())
    for _ in range(rounds):
        a = r.select(
            F.col("src"), F.col("dst").alias("_via"), F.col("min_hops").alias("_ha")
        )
        b = r.select(
            F.col("src").alias("_via"), F.col("dst"), F.col("min_hops").alias("_hb")
        )
        step = a.join(b, "_via").select(
            "src", "dst", (F.col("_ha") + F.col("_hb")).alias("min_hops")
        )
        r = (
            r.unionByName(step)
            .groupBy("src", "dst")
            .agg(F.min("min_hops").cast("long").alias("min_hops"))
            .where(F.col("min_hops") <= max_hops)
        )
    return r


# --- weighted bounded shortest paths (the Dijkstra-class twin) -------------

WREACH_HORIZON = 8   # power of two: ceil(log2) min-plus squarings are EXACT
WREACH_SEED = 47
WREACH_W_MOD = 90    # weights in [10, 99] — two digits, varied routes


def weighted_sr_edges(docs: DataFrame) -> DataFrame:
    """(src, dst, w) — the SimRank sparse graph (shared parents -> real
    alternative routes, unlike the permutation graph whose paths are
    unique) with deterministic integer weights w = h60(src|dst) % 90 + 10
    both engines derive identically."""
    from hebrew_ner_spark.functions.hashing import phash_col
    from hebrew_ner_spark.operators.simrank import synth_sr_edges

    e = synth_sr_edges(docs)
    return e.select(
        "src",
        "dst",
        (
            phash_col(F.concat_ws("|", "src", "dst"), WREACH_SEED)
            % WREACH_W_MOD
            + 10
        ).alias("w"),
    )


def weighted_reach(edges: DataFrame, horizon: int = WREACH_HORIZON) -> DataFrame:
    """(src, dst, min_w): minimum total edge weight over any walk of at
    most ``horizon`` hops (nonnegative weights, so the min is attained
    by a simple path; cycle returns src == dst included, as in
    ``bounded_reach``) — min-plus MATRIX SQUARING: round k holds the
    exact min weight over <= 2^k hops, because any such walk splits at
    its midpoint into two <= 2^(k-1)-hop halves and nonnegative weights
    compose under min. ceil(log2 horizon) relay-keyed self-joins + min
    aggregates, the Dijkstra-class answer in the bounded_reach shape —
    no priority queue to distribute, no per-hop sequential frontier.

    Oracle-proven against the opposite construction (one-hop-at-a-time
    recursive CTE accumulating walk weights, min at the end)."""
    assert horizon & (horizon - 1) == 0, "horizon must be a power of two"
    r = (
        edges.select("src", "dst", F.col("w").cast("long").alias("min_w"))
        .groupBy("src", "dst")
        .agg(F.min("min_w").alias("min_w"))
    )
    for _ in range(horizon.bit_length() - 1):
        a = r.select(
            "src", F.col("dst").alias("_via"), F.col("min_w").alias("_wa")
        )
        b = r.select(
            F.col("src").alias("_via"), "dst", F.col("min_w").alias("_wb")
        )
        step = a.join(b, "_via").select(
            "src", "dst", (F.col("_wa") + F.col("_wb")).alias("min_w")
        )
        r = (
            r.unionByName(step)
            .groupBy("src", "dst")
            .agg(F.min("min_w").cast("long").alias("min_w"))
        )
    return r


# ---------------------------------------------------------------------------
# Graph partition quality (edge cut + load balance)
# ---------------------------------------------------------------------------

PARTITION_KS = (8, 32)
PART_SEED = 53


def partition_quality(edges: DataFrame, ks=PARTITION_KS) -> DataFrame:
    """(k, n_edges, n_cut, cut_share_1e6, max_load, balance_1e6) — the
    two numbers that decide a graph-stage partitioner: what share of
    edges cross partitions (each cut edge is one shuffled message per
    round in ANY iterative stage — PageRank, CC, SCC, LPA all pay it),
    and how unbalanced the per-partition EDGE load is — edges live with
    their source vertex's partition — (the straggler bound: wall time
    follows max_load, not mean).

    Evaluated for hash partitioning by the portable 60-bit hash at each
    k in ``ks``: cut = hash(src) % k != hash(dst) % k, a pure codegen
    flag folded by one aggregate per k; load = one (k, part) count with
    a broadcast-joined scalar mean. balance_1e6 = max_load / mean_load
    in half-up micro-units (1.0e6 = perfect). No joins on the edge
    table itself — measuring a 10^11-edge graph costs one scan per k
    (or one scan total with a small literal explode, as here).

    The metric table is what you consult BEFORE picking bucketing for
    the materialized edge table: if cut_share barely drops from k=8 to
    k=32 the graph has no hash-exploitable locality and iterative
    stages should co-partition by vertex instead.
    """
    from hebrew_ner_spark.functions.hashing import phash_col

    ke = F.explode(F.array(*[F.lit(k) for k in ks])).alias("k")
    e = edges.select(
        F.col("src").cast("string").alias("_s"),
        F.col("dst").cast("string").alias("_d"),
    ).select("_s", "_d", ke)
    hs = phash_col(F.col("_s"), PART_SEED) % F.col("k")
    hd = phash_col(F.col("_d"), PART_SEED) % F.col("k")
    cut = (
        e.select(
            "k",
            F.when(hs != hd, F.lit(1)).otherwise(F.lit(0)).alias("_cut"),
            hs.alias("_part"),
        )
    )
    per_k = cut.groupBy("k").agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum("_cut").cast("long").alias("n_cut"),
    )
    loads = (
        cut.groupBy("k", "_part")
        .agg(F.count("*").alias("_n"))
        .groupBy("k")
        .agg(F.max("_n").cast("long").alias("max_load"))
    )
    return (
        per_k.join(loads, "k")
        .select(
            F.col("k").cast("long").alias("k"),
            "n_edges",
            "n_cut",
            F.expr(
                "CAST((2 * n_cut * 1000000 + n_edges) DIV (2 * n_edges) AS BIGINT)"
            ).alias("cut_share_1e6"),
            "max_load",
            F.expr(
                "CAST((2 * max_load * k * 1000000 + n_edges)"
                " DIV (2 * n_edges) AS BIGINT)"
            ).alias("balance_1e6"),
        )
    )


# --- Weisfeiler-Lehman (1-WL) color refinement ------------------------------

WL_ROUNDS = 3
WL_INIT = "wl0"  # uniform initial color label


def wl_colors(edges: DataFrame, rounds: int = WL_ROUNDS) -> DataFrame:
    """(node, color) — directed 1-WL color refinement after ``rounds``:
    color'(v) = h60(color(v) | sorted in-neighbor colors | sorted
    out-neighbor colors). The canonical structural-role partition
    (Weisfeiler-Leman 1968; the GNN-expressiveness yardstick): nodes
    share a final color iff 1-WL cannot tell their neighborhoods apart
    — the exact counterpart to the SRP role SIGNATURES (approximate)
    and SimRank (similarity-valued) already shipped.

    Engine shape per round: one groupBy per direction building the
    sorted neighbor-color list (edge-keyed, map-side combined) + one
    hash projection — colors stay 60-bit ints, the multiset is
    canonicalized by array_sort + concat_ws, and the DuckDB oracle
    replays the identical string both engines hash. Rounds needed in
    practice <= graph diameter; 3 is the gated setting and the
    refinement-monotonicity invariant is pytest-pinned."""
    from hebrew_ner_spark.functions.hashing import phash_col

    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    colors = nodes.withColumn(
        "color", phash_col(F.lit(WL_INIT), 0)
    )
    for _ in range(rounds):
        c_src = colors.select(
            F.col("node").alias("src"), F.col("color").alias("c_src")
        )
        c_dst = colors.select(
            F.col("node").alias("dst"), F.col("color").alias("c_dst")
        )
        ec = e.join(c_src, "src").join(c_dst, "dst")
        ins = (
            ec.groupBy(F.col("dst").alias("node"))
            .agg(
                F.expr(
                    "concat_ws(',', array_sort(collect_list(CAST(c_src AS STRING))))"
                ).alias("in_sig")
            )
        )
        outs = (
            ec.groupBy(F.col("src").alias("node"))
            .agg(
                F.expr(
                    "concat_ws(',', array_sort(collect_list(CAST(c_dst AS STRING))))"
                ).alias("out_sig")
            )
        )
        colors = (
            colors.join(ins, "node", "left")
            .join(outs, "node", "left")
            .select(
                "node",
                phash_col(
                    F.concat_ws(
                        "|",
                        F.col("color").cast("string"),
                        F.coalesce("in_sig", F.lit("")),
                        F.coalesce("out_sig", F.lit("")),
                    ),
                    0,
                ).alias("color"),
            )
        )
    return colors


def wl_partition(edges: DataFrame, rounds: int = WL_ROUNDS) -> DataFrame:
    """(color, n_nodes) — the refined structural-class histogram."""
    return (
        wl_colors(edges, rounds)
        .groupBy("color")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


# --- densest subgraph (Bahmani et al. 2012 batch peeling) ---------------------

# Round budget shared with the unrolled oracle; the operator raises if the
# graph hasn't emptied inside it (the kcore_peel loud-failure discipline).
DSG_ORACLE_ROUNDS = 5


def densest_peel(
    und_edges: DataFrame,
    max_rounds: int = DSG_ORACLE_ROUNDS,
) -> DataFrame:
    """(node, peel_round, in_densest) — batch-peel densest-subgraph
    extraction (Bahmani, Kumar, Vassilvitskii, VLDB 2012 — the MapReduce
    densest-subgraph algorithm) at epsilon=0: each round removes every
    node whose degree is <= the current average (exact integer compare
    ``deg * n <= e2`` where e2 = 2|E|), and the answer is the surviving
    snapshot with maximum density |E|/|V| (exact Fraction argmax over
    the O(rounds) collected scalars; earliest round wins ties).

    The min-degree node always satisfies deg <= avg, so every round
    peels >= 1 node and the trace provably empties; the best snapshot's
    density is a 2-approximation of the optimum. Per round: one degree
    aggregate, ONE scalar action (n, e2 — also the fixpoint/progress
    test), two anti-joins (AQE broadcasts the drop set), and the shared
    per-round lineage break. in_densest = peel_round >= best_round,
    because peeling is monotone (alive at round r <=> peels at >= r).

    Input: distinct undirected (a, b) pairs, one row per edge.
    """
    from fractions import Fraction

    _evict("densest")
    und = _persist("densest", und_edges.select("a", "b"))
    brk = lineage_breaker(und_edges)
    edges = brk(
        und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    nodes = edges.select(F.col("a").alias("node")).distinct()
    snaps: list[tuple[int, int]] = []  # (n, e2) per surviving round
    peels: list[DataFrame] = []
    for rnd in range(max_rounds + 1):
        m = edges.groupBy("a").agg(F.count("*").alias("_d"))
        row = m.agg(
            F.count("*").alias("n"), F.sum("_d").alias("e2")
        ).collect()[0]
        n, e2 = int(row.n), int(row.e2 or 0)
        if n == 0:
            break
        snaps.append((n, e2))
        drop = m.where(F.col("_d") * F.lit(n) <= F.lit(e2)).select("a")
        pruned = brk(
            edges.join(drop, "a", "left_anti")
            .join(drop.withColumnRenamed("a", "b"), "b", "left_anti")
            .select("a", "b")
        )
        peels.append(
            edges.select(F.col("a").alias("node"))
            .distinct()
            .join(
                pruned.select(F.col("a").alias("node")).distinct(),
                "node",
                "left_anti",
            )
            .select("node", F.lit(rnd).cast("long").alias("peel_round"))
        )
        edges = pruned
    else:
        raise RuntimeError(
            f"densest_peel: graph not empty within {max_rounds} rounds — "
            "raise DSG_ORACLE_ROUNDS (and regenerate the oracle) for this graph"
        )
    best = max(
        range(len(snaps)),
        key=lambda i: (Fraction(snaps[i][1], snaps[i][0]), -i),
    )
    peeled = peels[0]
    for p in peels[1:]:
        peeled = peeled.unionByName(p)
    return nodes.join(peeled, "node").select(
        "node",
        "peel_round",
        (F.col("peel_round") >= F.lit(best)).cast("long").alias("in_densest"),
    )


def bounded_reach_recursive(edges: DataFrame) -> DataFrame:
    """(src, dst, min_hops) — the SAME bounded min-hop table as
    ``bounded_reach``, computed through Spark 4's NATIVE recursive CTE
    instead of min-plus doubling: the anchor is the edge list, each
    recursion level extends every path one hop up to REACH_MAX_HOPS,
    min per pair at the end. Exercises the engine's recursion surface
    (the planner unions one materialized level per step).

    Scale note: hop-at-a-time recursion materializes H levels and its
    frontier is not deduplicated under UNION ALL — safe here because
    the planted graph has out-degree 1 (paths never branch), and the
    right shape for short horizons; the doubling twin
    (``bounded_reach``, log2 H rounds with per-round dedup) remains the
    10^12-edge path. Both must agree exactly — and both must agree
    with the DuckDB recursive oracle, a three-way cross-check.

    The recursive-CTE anchor needs a catalog name; to keep this a PURE
    operator the view name is per-call unique (no clobbering another
    caller's view, no cross-plan race in a shared session) and dropped
    immediately after ``spark.sql`` analyzes the plan — the returned
    DataFrame holds the resolved plan and survives the drop."""
    view = f"gs_rcte_edges_{next(_RCTE_VIEW_SEQ)}"
    edges.createOrReplaceTempView(view)
    try:
        return edges.sparkSession.sql(
            f"""
            WITH RECURSIVE gsr AS (
              SELECT src, dst, 1 AS hops FROM {view}
              UNION ALL
              SELECT p.src, e.dst, p.hops + 1
              FROM gsr p JOIN {view} e ON e.src = p.dst
              WHERE p.hops < {REACH_MAX_HOPS}
            )
            SELECT src, dst, CAST(min(hops) AS BIGINT) AS min_hops
            FROM gsr GROUP BY src, dst
            """
        )
    finally:
        edges.sparkSession.catalog.dropTempView(view)


# --- node2vec biased second-order walks -------------------------------

N2V_SEED = 23
N2V_W_RETURN = 4  # alpha = 1/p with p = 1/2, scaled x2 to clear fractions
N2V_W_NEAR = 2    # alpha = 1 for dist(prev, x) = 1, scaled x2
N2V_W_FAR = 1     # alpha = 1/q with q = 2, scaled x2


def node2vec_walks(
    edges: DataFrame,
    steps: int = WALK_STEPS,
    n_walks: int = WALKS_PER_NODE,
    seed: int = N2V_SEED,
) -> DataFrame:
    """(walk_src, walk_i, path, walk_len) — node2vec (Grover-Leskovec,
    KDD 2016) SECOND-ORDER biased walks: where random_walks draws
    uniformly, each hop here weights candidate x by the p/q bias
    against the PREVIOUS node t — return (x = t) weight 4, t-adjacent
    weight 2, exploratory weight 1 (p = 1/2, q = 2, cleared to
    integers). The draw is the package's deterministic weighted pick:
    one per-walk seeded hash r = H % total_weight, candidates laid out
    in dst order, and the unique row with cum - w <= r < cum is taken
    — an exact inverse-CDF sample, engine-replayable bit-for-bit.

    First hop has no previous node: all candidates weigh N2V_W_NEAR
    (a uniform draw through the same inverse-CDF machinery).

    Shape at scale: identical to random_walks (frontier-sized join per
    hop against the persisted edge list) plus ONE extra equi-join per
    hop probing (prev, dst) adjacency — edge-keyed, the same class.
    The cum/total window partitions by walk id: out-degree-sized
    partitions, map-side combinable nowhere but bounded by max
    out-degree (hub fan-out is the partition, and the pick keeps one
    row). Cites Grover-Leskovec (KDD 2016)."""
    from hebrew_ner_spark.functions.hashing import phash_col
    from pyspark.sql import Window

    ee = (
        edges.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    walk_ids = F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("walk_i")
    walks = (
        ee.select("src")
        .distinct()
        .select(F.col("src").alias("walk_src"), walk_ids)
        .select(
            "walk_src",
            F.col("walk_i").cast("long").alias("walk_i"),
            F.lit(None).cast("long").alias("prev"),
            F.col("walk_src").alias("cur"),
            F.col("walk_src").cast("string").alias("path"),
        )
    )
    pe = ee.select(F.col("src").alias("p_src"), F.col("dst").alias("p_dst"))
    for t in range(1, steps + 1):
        cand = walks.join(ee, walks["cur"] == ee["src"], "left").drop("src")
        cand = cand.join(
            pe.withColumn("adj", F.lit(1)),
            (cand["prev"] == pe["p_src"]) & (cand["dst"] == pe["p_dst"]),
            "left",
        ).drop("p_src", "p_dst")
        w = (
            F.when(F.col("dst").isNull(), F.lit(None))
            .when(F.col("prev").isNull(), F.lit(N2V_W_NEAR))
            .when(F.col("dst") == F.col("prev"), F.lit(N2V_W_RETURN))
            .when(F.col("adj").isNotNull(), F.lit(N2V_W_NEAR))
            .otherwise(F.lit(N2V_W_FAR))
        )
        h = phash_col(
            F.concat_ws(
                "|",
                F.lit("N2V"),
                F.col("walk_src").cast("string"),
                F.col("walk_i").cast("string"),
                F.lit(str(t)),
            ),
            seed,
        )
        part = Window.partitionBy("walk_src", "walk_i")
        cum_w = part.orderBy(F.asc_nulls_last("dst")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        scored = (
            cand.withColumn("w", w)
            .withColumn("cum", F.sum("w").over(cum_w))
            .withColumn("tot", F.sum("w").over(part))
            .withColumn("r", h % F.col("tot"))
        )
        walks = scored.where(
            F.col("dst").isNull()
            | ((F.col("cum") - F.col("w") <= F.col("r")) & (F.col("r") < F.col("cum")))
        ).select(
            "walk_src",
            "walk_i",
            F.when(F.col("dst").isNull(), F.col("prev"))
            .otherwise(F.col("cur"))
            .cast("long")
            .alias("prev"),
            F.coalesce("dst", "cur").cast("long").alias("cur"),
            F.when(F.col("dst").isNull(), F.col("path"))
            .otherwise(F.concat_ws("|", "path", F.col("dst").cast("string")))
            .alias("path"),
        )
    out = walks.select(
        "walk_src",
        "walk_i",
        "path",
        F.expr("CAST(size(split(path, '\\\\|')) AS BIGINT)").alias("walk_len"),
    )
    ee.unpersist()
    return out
