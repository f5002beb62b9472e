"""Entity PageRank over the materialized KG edge table.

The reference stops at emitting labeled spans; a knowledge graph built
at corpus scale immediately needs entity importance for ranking,
canonical-name selection among aliases, and crawl/extraction
prioritization — PageRank over the (subj_id, obj_id, n_evidence)
multigraph is the standard answer. Like every iterative operator here
(connected_components, kmeans_centroids) it is expressed as pure
joins/aggs in EXACT integer arithmetic so a DuckDB oracle can reproduce
it bit-for-bit with the iterations unrolled as CTEs:

- ranks live in micro-units (PR_SCALE = 1e6 per node of initial mass);
- damping 0.85 is the exact rational 85/100 via truncating integer
  division (Spark ``DIV`` == DuckDB ``//`` on non-negatives);
- each edge's contribution is ``(pr_u * w_uv) DIV W_u`` (W_u = total
  outgoing weight) — BIGINT throughout, order-independent under sum.

Scale notes: one shuffle per iteration (contributions keyed by obj_id);
the weighted edge matrix is built once, persisted, and reused across
iterations; per-round eager materialization bounds lineage exactly like
connected_components. Dangling nodes (no outgoing edges) simply leak
their mass — the ranking-semantics choice both engines express
identically with zero extra machinery. Exactness bound: per-edge
products need ``pr_max * w_max < 2^63``; pr_max is at worst ~0.85 x
total initial mass concentrated on one hub, so e.g. a 10^8-entity graph
with hub rank ~10^13 tolerates edge weights to ~10^5 — beyond that,
rescale PR_SCALE down (the oracle scales with it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hebrew_ner_spark.plans.rounds import lineage_breaker

PAGERANK_ITERS = 3
PR_SCALE = 1_000_000
PR_BASE = 150_000  # (1 - 0.85) * PR_SCALE, exact
PR_DAMP_NUM = 85  # damping as the exact rational 85/100

# previous invocation's final rank table (see entity_pagerank)
_LAST_PR = None


PPR_SEED = 13
PPR_SEED_MOD = 8  # ~1/8 of the nodes form the personalization set


def entity_pagerank(
    edges: DataFrame, iters: int = PAGERANK_ITERS, seed_mod: int | None = None
) -> DataFrame:
    """(entity_id, pr_1e6): damped PageRank after ``iters`` power
    iterations over the weighted entity multigraph (parallel edges with
    distinct predicates collapse by summed evidence).

    The returned DataFrame is PERSISTED (the final iteration) and the
    rank table is node-sized, so it is NOT collected/rebuilt the way
    ``kmeans_centroids``' broadcast-sized result is. To keep repeated
    invocations (bench reps, gate re-runs) from pinning one table per
    call, the footprint is bounded to ONE rank table per session: the
    previous invocation's result is evicted on re-entry — the same
    discipline as ``labels.alphabet_encode``. Callers needing two live
    rank tables at once should copy the first before recomputing.
    """
    global _LAST_PR
    if _LAST_PR is not None:
        try:
            _LAST_PR.unpersist()
        except Exception:
            pass  # previous SparkSession already stopped; cache died with it
    wm = edges.groupBy("subj_id", "obj_id").agg(
        F.sum("n_evidence").cast("long").alias("ew")
    )
    ow = wm.groupBy("subj_id").agg(F.sum("ew").cast("long").alias("ow"))
    # built once, referenced every iteration — persist or the agg subplan
    # re-executes per round
    wmat = wm.join(ow, "subj_id").persist(StorageLevel.MEMORY_AND_DISK_DESER)
    nodes = (
        wm.select(F.col("subj_id").alias("entity_id"))
        .unionByName(wm.select(F.col("obj_id").alias("entity_id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    if seed_mod is None:
        seeded = nodes.withColumn("base", F.lit(PR_BASE).cast("long")).withColumn(
            "pr0", F.lit(PR_SCALE).cast("long")
        )
    else:
        # Personalized PageRank: teleport mass returns ONLY to the
        # hash-selected seed set — ranks become relevance RELATIVE to the
        # seeds (topic-sensitive PageRank, Haveliwala 2002). Same loop,
        # same integer arithmetic; only the base vector changes.
        from hebrew_ner_spark.functions.hashing import phash_col

        is_seed = (
            phash_col(
                F.concat(F.lit("PPR|"), F.col("entity_id").cast("string")), PPR_SEED
            )
            % seed_mod
            == 0
        )
        seeded = nodes.withColumn(
            "base", F.when(is_seed, PR_BASE).otherwise(0).cast("long")
        ).withColumn("pr0", F.when(is_seed, PR_SCALE).otherwise(0).cast("long"))
    seeded = seeded.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    pr = seeded.select("entity_id", F.col("pr0").alias("pr"))
    for k in range(iters):
        prev = pr
        contrib = (
            wmat.join(pr.withColumnRenamed("entity_id", "subj_id"), "subj_id")
            .select(
                F.col("obj_id").alias("entity_id"),
                F.expr("(pr * ew) DIV ow").alias("c"),
            )
            .groupBy("entity_id")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        pr = (
            seeded.join(contrib, "entity_id", "left")
            .select(
                "entity_id",
                F.expr(
                    f"CAST(base + ({PR_DAMP_NUM} * coalesce(s, 0L)) DIV 100"
                    " AS BIGINT)"
                ).alias("pr"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        )
        # eager per-round materialization: bounds the lineage to one join
        # depth per round (the connected_components pattern) and lets the
        # previous round's table be dropped immediately
        pr.count()
        if k > 0:
            prev.unpersist()
    wmat.unpersist()
    nodes.unpersist()
    seeded.unpersist()
    _LAST_PR = pr
    return pr.select("entity_id", F.col("pr").alias("pr_1e6"))


# --- HITS hubs & authorities --------------------------------------------------

HITS_ITERS = 3
HITS_SCALE = 1_000_000


def hits_scores(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """(entity_id, hub_1e6, auth_1e6) — HITS after ``iters`` mutual-
    reinforcement iterations over the weighted entity multigraph:
    authority = in-weighted sum of hub scores, hub = out-weighted sum of
    authority scores. Instead of the classic float L2 normalization, each
    vector is integer-rescaled to max = HITS_SCALE per iteration
    ((v * SCALE) DIV max(v), truncating division both engines share) —
    deterministic, overflow-bounded, and bit-replayable in DuckDB with
    the iterations unrolled as CTEs. Nodes without in-edges (resp.
    out-edges) hold authority (resp. hub) 0.

    Scale shape: per iteration two keyed join+agg shuffles (one per
    vector) and two SCALAR max aggregates folded back via broadcast —
    never a driver collect. Each round's vectors go through the shared
    lineage breaker (``plans/rounds.py``) — without the break, the
    nested broadcast-of-aggregate plans grow super-linearly across
    rounds and Catalyst compile time dwarfs the data work (measured:
    92 s for a 4-edge graph). Exactness bound: each raw sum is
    <= SCALE * total graph weight, so BIGINT holds through ~9e12 total
    evidence; beyond that drop SCALE (the oracle scales with it).
    """
    brk = lineage_breaker(edges)
    wm = (
        edges.groupBy("subj_id", "obj_id")
        .agg(F.sum("n_evidence").cast("long").alias("ew"))
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    nodes = (
        wm.select(F.col("subj_id").alias("entity_id"))
        .unionByName(wm.select(F.col("obj_id").alias("entity_id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    hub = nodes.select("entity_id", F.lit(HITS_SCALE).cast("long").alias("v"))
    both = None
    for _ in range(iters):
        a_raw = (
            wm.join(hub.withColumnRenamed("entity_id", "subj_id"), "subj_id")
            .select(F.col("obj_id").alias("entity_id"), (F.col("v") * F.col("ew")).alias("c"))
            .groupBy("entity_id")
            .agg(F.sum("c").cast("long").alias("r"))
        )
        auth = brk(_rescaled(nodes, a_raw))
        h_raw = (
            wm.join(auth.withColumnRenamed("entity_id", "obj_id"), "obj_id")
            .select(F.col("subj_id").alias("entity_id"), (F.col("v") * F.col("ew")).alias("c"))
            .groupBy("entity_id")
            .agg(F.sum("c").cast("long").alias("r"))
        )
        both = brk(
            _rescaled(nodes, h_raw).join(auth.withColumnRenamed("v", "a"), "entity_id")
        )
        hub = both.select("entity_id", "v")
    wm.unpersist()
    nodes.unpersist()
    return both.select(
        "entity_id",
        F.col("v").alias("hub_1e6"),
        F.col("a").alias("auth_1e6"),
    )


def _rescaled(nodes: DataFrame, raw: DataFrame) -> DataFrame:
    """(entity_id, v) — raw scores over all nodes (missing -> 0), integer-
    rescaled so max(v) == HITS_SCALE (max folded back via broadcast, no
    driver collect; max(raw) >= 1 whenever any edge exists)."""
    mx = raw.agg(F.greatest(F.max("r"), F.lit(1)).cast("long").alias("mx"))
    return (
        nodes.join(raw, "entity_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "entity_id",
            F.expr(f"CAST((coalesce(r, 0L) * {HITS_SCALE}) DIV mx AS BIGINT)").alias("v"),
        )
    )


# --- TrustRank & spam mass -----------------------------------------------------

_LAST_TRUST = None


def trust_and_spam(
    edges: DataFrame, seeds: DataFrame, iters: int = PAGERANK_ITERS
) -> DataFrame:
    """(entity_id, pr_1e6, tr_1e6, spam_mass_1e6) — TrustRank (Gyongyi,
    Garcia-Molina & Pedersen, VLDB'04) next to plain PageRank, plus the
    relative spam mass each node carries.

    ``seeds`` is a one-column (entity_id) DataFrame of trusted nodes
    (the quality-host keep-list here). Trust teleports ONLY to seeds
    (the PPR base-vector convention seed_mod already uses); PageRank
    teleports everywhere. A node whose authority (pr) is not matched by
    trust flowing from the seed set earned that authority from
    unendorsed regions of the graph — spam_mass = max(pr - tr, 0) / pr
    is the standard link-spam demotion signal a crawler applies before
    believing host PageRank.

    Scale shape: ONE power loop carries BOTH vectors as two columns of
    the same rank table — the contribution join and the per-node
    aggregate are shared, so TrustRank costs zero additional shuffles
    over PageRank alone. Seeds attach by one node-keyed left join at
    setup (never broadcast-assumed: at web scale the seed list is
    host-sized). Same per-round eager materialization + lineage cut as
    entity_pagerank; exact integer micro-units throughout, spam mass
    half-up.
    """
    global _LAST_TRUST
    if _LAST_TRUST is not None:
        try:
            _LAST_TRUST.unpersist()
        except Exception:
            pass
    wm = edges.groupBy("subj_id", "obj_id").agg(
        F.sum("n_evidence").cast("long").alias("ew")
    )
    ow = wm.groupBy("subj_id").agg(F.sum("ew").cast("long").alias("ow"))
    wmat = wm.join(ow, "subj_id").persist(StorageLevel.MEMORY_AND_DISK_DESER)
    nodes = (
        wm.select(F.col("subj_id").alias("entity_id"))
        .unionByName(wm.select(F.col("obj_id").alias("entity_id")))
        .distinct()
    )
    seeded = (
        nodes.join(
            seeds.select(F.col(seeds.columns[0]).alias("entity_id")).withColumn(
                "_s", F.lit(1)
            ),
            "entity_id",
            "left",
        )
        .select(
            "entity_id",
            F.lit(PR_BASE).cast("long").alias("base_pr"),
            F.when(F.col("_s").isNotNull(), PR_BASE)
            .otherwise(0)
            .cast("long")
            .alias("base_tr"),
            F.lit(PR_SCALE).cast("long").alias("pr0"),
            F.when(F.col("_s").isNotNull(), PR_SCALE)
            .otherwise(0)
            .cast("long")
            .alias("tr0"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    st = seeded.select(
        "entity_id", F.col("pr0").alias("pr"), F.col("tr0").alias("tr")
    )
    for k in range(iters):
        prev = st
        contrib = (
            wmat.join(st.withColumnRenamed("entity_id", "subj_id"), "subj_id")
            .select(
                F.col("obj_id").alias("entity_id"),
                F.expr("(pr * ew) DIV ow").alias("cp"),
                F.expr("(tr * ew) DIV ow").alias("ct"),
            )
            .groupBy("entity_id")
            .agg(
                F.sum("cp").cast("long").alias("sp"),
                F.sum("ct").cast("long").alias("st"),
            )
        )
        st = (
            seeded.join(contrib, "entity_id", "left")
            .select(
                "entity_id",
                F.expr(
                    f"CAST(base_pr + ({PR_DAMP_NUM} * coalesce(sp, 0L)) DIV 100"
                    " AS BIGINT)"
                ).alias("pr"),
                F.expr(
                    f"CAST(base_tr + ({PR_DAMP_NUM} * coalesce(st, 0L)) DIV 100"
                    " AS BIGINT)"
                ).alias("tr"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        )
        st.count()
        if k > 0:
            prev.unpersist()
    wmat.unpersist()
    seeded.unpersist()
    _LAST_TRUST = st
    return st.select(
        "entity_id",
        F.col("pr").alias("pr_1e6"),
        F.col("tr").alias("tr_1e6"),
        F.expr(
            """
            CAST(CASE WHEN pr <= 0 THEN 0
                 ELSE (2 * greatest(pr - tr, 0L) * 1000000 + pr) DIV (2 * pr)
                 END AS BIGINT)
            """
        ).alias("spam_mass_1e6"),
    )


SALSA_SCALE = 1_000_000


def salsa_scores(edges: DataFrame) -> DataFrame:
    """(entity_id, salsa_hub_1e6, salsa_auth_1e6) — SALSA (Lempel &
    Moran, WWW9 2000) WITHOUT power iteration: the authority chain's
    stationary distribution has the closed form

        a(p) = (|C_p^A| / |V_A|) * (d_in(p) / sum_{q in C_p^A} d_in(q))

    where V_A is the set of pages with in-links and C_p^A the authority
    side of p's connected component in the bipartite support graph
    (hub copies and authority copies are DISTINCT nodes — a page's two
    roles can land in different components); symmetrically for hubs
    with out-degrees. So the whole "eigenvector" is: one distinct-edge
    projection, one connected-components pass over the bipartite
    support graph (the canonicalize.py operator — hub copies at 2*id,
    authority copies at 2*id+1), two degree aggregations, and one
    broadcast-of-aggregate fold for |V_A|/|V_H|. No rounds, no
    convergence budget — the closed form is exact, which is also why
    SALSA is the degree-robust HITS (TKC-effect-free; the gate's
    hits_scores sits 30 lines up for the iterative contrast).

    Exact integers: scores are (n_c * deg * SCALE) DIV (n_side *
    s_c) — non-negative truncating division, portable. Bound:
    n_c * deg * SCALE < 2^63 holds to ~10^8-node components with
    10^4 degrees; beyond that drop SCALE (the oracle scales with it).

    Pages missing a side (no in-links / no out-links) score 0 on that
    side, the SALSA convention."""
    from hebrew_ner_spark.operators.canonicalize import connected_components

    wmd = (
        edges.select("subj_id", "obj_id").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    nodes = (
        wmd.select(F.col("subj_id").alias("entity_id"))
        .unionByName(wmd.select(F.col("obj_id").alias("entity_id")))
        .distinct()
    )
    bip = wmd.select(
        (F.col("subj_id") * 2).alias("src"),
        (F.col("obj_id") * 2 + 1).alias("dst"),
    )
    comp = connected_components(bip, "src", "dst")

    def side(role_col: str, parity: int, deg_name: str) -> DataFrame:
        deg = wmd.groupBy(F.col(role_col).alias("entity_id")).agg(
            F.count("*").cast("long").alias("deg")
        )
        with_comp = deg.join(
            comp.select(
                F.expr(f"(vertex - {parity}) DIV 2").cast("long").alias("entity_id"),
                "component",
            ).where((F.col("vertex") % 2) == parity),
            "entity_id",
        )
        csum = with_comp.groupBy("component").agg(
            F.count("*").cast("long").alias("n_c"),
            F.sum("deg").cast("long").alias("s_c"),
        )
        tot = with_comp.agg(F.count("*").cast("long").alias("n_side"))
        return (
            with_comp.join(csum, "component")
            .crossJoin(F.broadcast(tot))
            .select(
                "entity_id",
                F.expr(
                    f"(n_c * deg * {SALSA_SCALE}) DIV (n_side * s_c)"
                ).cast("long").alias(deg_name),
            )
        )

    hub = side("subj_id", 0, "salsa_hub_1e6")
    auth = side("obj_id", 1, "salsa_auth_1e6")
    out = (
        nodes.join(hub, "entity_id", "left")
        .join(auth, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce("salsa_hub_1e6", F.lit(0)).cast("long").alias("salsa_hub_1e6"),
            F.coalesce("salsa_auth_1e6", F.lit(0)).cast("long").alias("salsa_auth_1e6"),
        )
    )
    wmd.unpersist()
    return out


# --- warm-start PageRank maintenance over an edge delta ---------------

PR_DELTA_MOD = 7   # planted delta: reverse every edge whose subj % 7 == 0
PR_WARM_ITERS = 2  # incremental budget after the delta lands


def _pr_iterate(edges: DataFrame, init: DataFrame | None, iters: int) -> DataFrame:
    """(entity_id, pr) after ``iters`` damped power iterations over
    ``edges`` (subj_id, obj_id, n_evidence), starting from ``init``
    (entity_id, pr) or the uniform PR_SCALE vector. Same exact-integer
    arithmetic as entity_pagerank; local persists only."""
    from pyspark.storagelevel import StorageLevel

    wm = edges.groupBy("subj_id", "obj_id").agg(
        F.sum("n_evidence").cast("long").alias("ew")
    )
    ow = wm.groupBy("subj_id").agg(F.sum("ew").cast("long").alias("ow"))
    wmat = wm.join(ow, "subj_id").persist(StorageLevel.MEMORY_AND_DISK_DESER)
    nodes = (
        wm.select(F.col("subj_id").alias("entity_id"))
        .unionByName(wm.select(F.col("obj_id").alias("entity_id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    if init is None:
        pr = nodes.withColumn("pr", F.lit(PR_SCALE).cast("long"))
    else:
        pr = nodes.join(init, "entity_id", "left").select(
            "entity_id",
            F.coalesce("pr", F.lit(PR_SCALE)).cast("long").alias("pr"),
        )
    tmp = []
    for _ in range(iters):
        contrib = (
            wmat.join(pr.withColumnRenamed("entity_id", "subj_id"), "subj_id")
            .select(
                F.col("obj_id").alias("entity_id"),
                F.expr("(pr * ew) DIV ow").alias("c"),
            )
            .groupBy("entity_id")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        pr = (
            nodes.join(contrib, "entity_id", "left")
            .select(
                "entity_id",
                F.expr(
                    f"CAST({PR_BASE} + ({PR_DAMP_NUM} * coalesce(s, 0L)) DIV 100"
                    " AS BIGINT)"
                ).alias("pr"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        )
        pr.count()
        tmp.append(pr)
    for t in tmp[:-1]:
        t.unpersist()
    wmat.unpersist()
    nodes.unpersist()
    out = pr.select("entity_id", "pr")
    if tmp:
        tmp[-1].unpersist()
    return out


def pagerank_warm_delta(
    edges: DataFrame,
    base_iters: int = PAGERANK_ITERS,
    extra_iters: int = PR_WARM_ITERS,
) -> DataFrame:
    """(entity_id, pr_warm_1e6, pr_cold_1e6, gap_1e6) — PageRank
    MAINTENANCE after an edge delta, the streaming-KG shape: a planted
    delta (every subj % 7 == 0 edge gains its reversal) lands on the
    entity graph, and the updated ranks are re-derived two ways at the
    SAME incremental budget (extra_iters):

    * warm — initialized from the pre-delta converged ranks (the
      incremental path: state carried forward, only the delta's effect
      must propagate);
    * cold — initialized uniform (the from-scratch path at equal work).

    gap = |warm - cold| is the gate's signal: warm sits closer to the
    post-delta fixpoint than an equally-budgeted cold restart (the
    pytest quantifies it against a long-run reference), which is
    precisely why production rank maintenance warm-starts. Both runs
    use the identical exact-integer iteration as entity_pagerank, so
    every column hashes cross-engine.

    Shape at scale: the base ranks are an existing node-grain table
    (reused, not recomputed, in a real pipeline — here re-derived so
    the gate is self-contained); the delta merge is a unionByName; each
    incremental iteration is the standard edge-grain contribution
    shuffle. Nothing about the warm path costs more than the cold one
    — it only starts closer. Cites Langville-Meyer (2006, updating
    PageRank) for the warm-start framing."""
    base = edges.select("subj_id", "obj_id", "n_evidence")
    ranks0 = _pr_iterate(base, None, base_iters)
    delta = base.where(F.col("subj_id") % PR_DELTA_MOD == 0).select(
        F.col("obj_id").alias("subj_id"),
        F.col("subj_id").alias("obj_id"),
        "n_evidence",
    )
    merged = base.unionByName(delta)
    warm = _pr_iterate(merged, ranks0, extra_iters).withColumnRenamed(
        "pr", "pr_warm_1e6"
    )
    cold = _pr_iterate(merged, None, extra_iters).withColumnRenamed(
        "pr", "pr_cold_1e6"
    )
    return warm.join(cold, "entity_id").select(
        "entity_id",
        "pr_warm_1e6",
        "pr_cold_1e6",
        F.abs(F.col("pr_warm_1e6") - F.col("pr_cold_1e6"))
        .cast("long")
        .alias("gap_1e6"),
    )
