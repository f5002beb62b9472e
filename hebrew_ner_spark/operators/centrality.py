"""Walk-based centrality over host/entity graphs: truncated Katz index
+ exact-integer betweenness centrality.

Why this is engine work: the KG/crawl planes already rank vertices by
stationary mass (entity_pagerank), spectral trust (spam_mass / HITS),
and closeness (harmonic via HyperBall); what they cannot answer is
(a) attenuated reachability — "how much of the graph can this entity
influence through SHORT chains" (Katz 1953), the standard recommender
/ influence prior — and (b) brokerage — "how much shortest-path
traffic crosses this host" (Freeman 1977 betweenness), the standard
cut-vertex / chokepoint signal for crawl scheduling and graph
partitioning. Both are join/agg-shaped and both follow the repo's
exact-integer contract (the entity_pagerank micro-unit discipline) so
a DuckDB oracle reproduces them bit-for-bit:

**Truncated Katz** — scaled score
``sum_{k=1..K} alpha^k * walks_k(v)`` with alpha = 1/ALPHA_DEN,
carried as the BIGINT ``acc_k = acc_{k-1} * ALPHA_DEN + walks_k`` (one
Horner fold per round, so the emitted value is the exact integer
``ALPHA_DEN^K * katz``). K fixed rounds = K equi-joins on the relay
vertex + K sums — no driver probes, fixed plan depth. Exactness bound:
``walks_K * ALPHA_DEN^K < 2^63`` (walks_K <= n * degmax^K; raise
ALPHA_DEN' scaling down or lower K for dense graphs — the gate graph
peaks at ~2e6).

**Betweenness** — two phases:
1. multi-source BFS: ALL sources advance one frontier per round —
   state (s, v, dist, sigma) where sigma counts shortest s->v paths;
   each round is one equi-join frontier x edges, one groupBy(s, v)
   sum, one anti-join against visited. Rounds = graph diameter; the
   round budget (BC_MAX_LEVELS) RAISES on exhaustion rather than
   returning truncated distances (the canonicalize.py discipline).
2. pair accumulation: the Brandes dependency recursion is replaced by
   the direct combinatorial identity sigma_st(v) = sigma_sv *
   sigma_vt when d(s,v) + d(v,t) = d(s,t) (else 0), so betweenness is
   ONE three-way self-join of the BFS table + a sum — no backward
   sweep, no per-level state. Contributions are exact-integer
   micro-units: (sigma_sv * sigma_vt * BC_SCALE) DIV sigma_st with
   truncating division (Spark ``DIV`` == DuckDB ``//`` on
   non-negatives); the emitted value is within |pairs| ulps of
   BC_SCALE * B(v) and bit-identical across engines.

Scale shape: BFS state is O(sum over sources of reachable set) — the
all-sources variant gates EXACT betweenness on the (fixed-size) host
graph. At 10^12-doc scale use ``betweenness_sampled`` (Brandes-Pich
pivot estimator: BFS from a pivot sample plus Brandes' backward sweep,
state divided by |V|/|sample|). Do NOT pass a pivot sample as
``betweenness_scaled``'s ``sources=``: its sigma-product identity reads
sigma(m, t) from m's own BFS rows, so it needs EVERY vertex as a source
and silently zeroes every non-source mid vertex otherwise. The pair
join keys on the mid vertex and on (s, t) — hash-partitioned
equi-joins throughout; sigma tables persist via the slot discipline so
BFS runs once.

No reference counterpart (the reference emits spans, not graphs);
cites Katz (Psychometrika 1953), Freeman (Sociometry 1977), Brandes
(JMS 2001) for what is being computed, not how.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.rounds import lineage_breaker

KATZ_ITERS = 6
KATZ_ALPHA_DEN = 8  # alpha = 1/8; power of two -> Horner fold exact
BC_SCALE = 1_000_000
BC_MAX_LEVELS = 8  # > gate-graph diameter (6); raises if exceeded


def sym_edges(und: DataFrame) -> DataFrame:
    """(src, dst) both directions of an undirected (a, b) edge list."""
    return und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))


def _vertices(sym: DataFrame) -> DataFrame:
    return sym.select(F.col("src").alias("v")).distinct()


def katz_scaled(und: DataFrame, iters: int = KATZ_ITERS) -> DataFrame:
    """(vertex, katz_scaled) — the truncated Katz index in exact
    integers, scaled by ALPHA_DEN^iters (Horner fold per round).
    Rounds go through the shared lineage breaker (``plans/rounds.py``) —
    acc_k references both acc_{k-1} and x_k, so a lazy chain doubles
    the analyzed plan per round."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("katz")
    brk = lineage_breaker(und)
    sym = _persist("katz", sym_edges(und))
    verts = _vertices(sym)
    x = verts.withColumn("w", F.lit(1).cast("long"))
    acc = verts.withColumn("acc", F.lit(0).cast("long"))
    for _ in range(iters):
        x = (
            sym.join(x.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("w").cast("long").alias("w"))
        )
        # vertices missing from x (degree-0) keep walk count 0
        acc = (
            acc.join(x, "v", "left")
            .select(
                "v",
                (
                    F.col("acc") * KATZ_ALPHA_DEN
                    + F.coalesce(F.col("w"), F.lit(0))
                ).alias("acc"),
            )
        )
        x = brk(x)
        acc = brk(acc)
    return acc.select(F.col("v").alias("vertex"), F.col("acc").alias("katz_scaled"))


def bfs_sigma(
    und: DataFrame,
    sources: DataFrame | None = None,
    max_levels: int = BC_MAX_LEVELS,
) -> DataFrame:
    """(s, v, dist, sigma) — shortest-path distance and path count from
    every source to every reachable vertex, by simultaneous-frontier
    BFS. ``sources`` defaults to all vertices (exact betweenness); pass
    a pivot sample for the Brandes-Pich estimator at scale. Rounds go
    through the shared lineage breaker — frontier_k anti-joins
    visited_{k-1}, which contains frontier_{k-1}, so a lazy chain's
    analyzed plan doubles per level."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("bfs_sigma")
    brk = lineage_breaker(und)
    sym = _persist("bfs_sigma", sym_edges(und))
    src = _vertices(sym) if sources is None else sources.select("v").distinct()
    frontier = src.select(
        F.col("v").alias("s"),
        F.col("v"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    )
    frontier = brk(frontier)
    visited = frontier
    for level in range(1, max_levels + 1):
        cand = (
            frontier.join(sym.withColumnRenamed("src", "v"), "v")
            .groupBy("s", F.col("dst").alias("v"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )
        frontier = brk(
            cand.join(visited.select("s", "v"), ["s", "v"], "left_anti")
            .select("s", "v", F.lit(level).cast("long").alias("dist"), "sigma")
        )
        visited = brk(visited.unionByName(frontier))
    leftover = frontier.count()
    if leftover:
        raise RuntimeError(
            f"bfs_sigma: frontier still has {leftover} rows after "
            f"{max_levels} levels — graph diameter exceeds the budget; "
            "raise max_levels"
        )
    return visited


def betweenness_scaled(
    und: DataFrame, sources: DataFrame | None = None
) -> DataFrame:
    """(vertex, bc_scaled) — betweenness centrality in exact-integer
    micro-units over unordered source pairs (s < t), via the
    sigma-product identity on the BFS table. Vertices carrying no
    shortest-path traffic report 0. ``sources`` must cover every vertex
    (the default); sample pivots with ``betweenness_sampled`` instead."""
    vis = bfs_sigma(und, sources)
    a = vis.select(
        F.col("s"), F.col("v").alias("m"),
        F.col("dist").alias("d1"), F.col("sigma").alias("sig1"),
    )
    b = vis.select(
        F.col("s").alias("m2"), F.col("v").alias("t"),
        F.col("dist").alias("d2"), F.col("sigma").alias("sig2"),
    )
    c = vis.select(
        F.col("s").alias("s3"), F.col("v").alias("t3"),
        F.col("dist").alias("d3"), F.col("sigma").alias("sig3"),
    )
    contrib = (
        a.join(b, a.m == b.m2)
        .where((F.col("s") < F.col("t")) & (F.col("m") != F.col("s")) & (F.col("m") != F.col("t")))
        .join(c, (F.col("s") == F.col("s3")) & (F.col("t") == F.col("t3")))
        .where(F.col("d1") + F.col("d2") == F.col("d3"))
        .groupBy(F.col("m").alias("vertex"))
        .agg(
            F.sum(
                F.expr(f"(sig1 * sig2 * {BC_SCALE}) DIV sig3")
            ).cast("long").alias("bc_scaled")
        )
    )
    verts = _vertices(sym_edges(und)).withColumnRenamed("v", "vertex")
    return verts.join(contrib, "vertex", "left").select(
        "vertex", F.coalesce("bc_scaled", F.lit(0)).cast("long").alias("bc_scaled")
    )


def closeness_scaled(und: DataFrame) -> DataFrame:
    """(vertex, total_dist, closeness_scaled) — exact closeness
    centrality from the multi-source BFS table: total_dist(v) = sum of
    shortest-path distances from v (connected gate graph; unreachable
    pairs simply don't appear, the standard in-component convention),
    closeness = (n_reached - 1) * BC_SCALE DIV total_dist in truncating
    integer micro-units. One aggregation over bfs_sigma — BFS cost is
    shared with betweenness via the slot cache."""
    vis = bfs_sigma(und)
    return (
        vis.where(F.col("dist") > 0)
        .groupBy(F.col("s").alias("vertex"))
        .agg(
            F.sum("dist").cast("long").alias("total_dist"),
            F.count("*").alias("_nr"),
        )
        .select(
            "vertex",
            "total_dist",
            F.expr(f"(_nr * {BC_SCALE}) DIV total_dist")
            .cast("long")
            .alias("closeness_scaled"),
        )
    )


def eccentricity(und: DataFrame) -> DataFrame:
    """(vertex, ecc, is_central, is_peripheral) — exact eccentricities
    from the BFS table plus the center/periphery flags (ecc == radius /
    ecc == diameter). The two scalars fold back via broadcast-of-
    aggregate — no driver collect."""
    vis = bfs_sigma(und)
    ecc = vis.groupBy(F.col("s").alias("vertex")).agg(
        F.max("dist").cast("long").alias("ecc")
    )
    bounds = ecc.agg(
        F.min("ecc").alias("radius"), F.max("ecc").alias("diameter")
    )
    return ecc.crossJoin(F.broadcast(bounds)).select(
        "vertex",
        "ecc",
        (F.col("ecc") == F.col("radius")).cast("long").alias("is_central"),
        (F.col("ecc") == F.col("diameter")).cast("long").alias("is_peripheral"),
    )


def harmonic_exact(und: DataFrame) -> DataFrame:
    """(vertex, harmonic_scaled) — EXACT harmonic centrality
    sum_{u != v} 1/d(v, u) in micro-units, each reciprocal floored
    independently (BC_SCALE DIV dist — non-negative truncating
    division, portable), summed over the BFS table. The exact twin of
    the HyperBall-approximated web_harmonic gate: on graphs small
    enough to BFS exactly, the two must agree to sketch error — at
    10^12 nodes HyperBall is the only option, and this operator is the
    ground-truth harness its error contract is audited against."""
    vis = bfs_sigma(und)
    return (
        vis.where(F.col("dist") > 0)
        .groupBy(F.col("s").alias("vertex"))
        .agg(
            F.sum(F.expr(f"{BC_SCALE} DIV dist")).cast("long").alias("harmonic_scaled")
        )
    )


BC_SAMPLE_MOD = 4  # pivot set = vertices with v % MOD == REM (~n/4 pivots)
BC_SAMPLE_REM = 1


def betweenness_sampled(
    und: DataFrame,
    mod: int = BC_SAMPLE_MOD,
    rem: int = BC_SAMPLE_REM,
    max_levels: int = BC_MAX_LEVELS,
) -> DataFrame:
    """(vertex, dep_scaled, est_scaled) — the Brandes-Pich pivot
    estimator of betweenness: run the sigma BFS ONLY from a pinned
    pivot set S (v % mod == rem), accumulate each pivot's dependency
    backward through its BFS DAG, and scale by n / |S|.

    This is the 10^12-vertex path for cent_betweenness: the exact
    operator's sigma-product identity needs sigma from EVERY vertex
    (it reads sigma(m, t) out of m's own BFS row), so its state is
    n * reachable pairs — all-pairs grain. The estimator's state is
    |S| * n (pivot-grain), and the backward sweep is Brandes' (2001)
    actual recurrence

        delta_s(v) = sum over DAG edges (v, w):
                     sigma_sv * (SCALE + delta_s(w)) DIV sigma_sw

    run level-synchronously from the deepest BFS level up — one join
    per level against the (dist = d+1) slice, micro-unit integers with
    truncating division (deterministic; the estimator's sampling error
    dominates any sub-micro-unit rounding). est_scaled = dep * n DIV
    |S| is the Brandes-Pich unbiased scale-up. Cites Brandes (J. Math.
    Sociology 2001) and Brandes-Pich (2007).

    Pivot choice is a pinned congruence class — at scale the pivot set
    would be a seeded hash sample (sketches.priority_sample exists for
    weighted pivots); the congruence keeps the gate oracle replayable
    without a hash CTE."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    brk = lineage_breaker(und)
    sym0 = sym_edges(und)
    verts = _vertices(sym0)
    sample = verts.where(F.col("v") % mod == rem)
    vis = bfs_sigma(und, sources=sample, max_levels=max_levels)
    # bfs_sigma evicted/persisted its own slot; re-persist what the
    # backward sweep reuses every level.
    _evict("bc_sampled")
    sym = _persist("bc_sampled", sym0)
    vis = _persist("bc_sampled", vis)

    # backward sweep: deltas at the deepest level are 0; level d pulls
    # from d+1 through the DAG-successor join.
    deltas: dict[int, DataFrame] = {}
    deltas[max_levels] = brk(
        vis.where(F.col("dist") == max_levels).select(
            "s", "v", F.lit(0).cast("long").alias("delta")
        )
    )
    for d in range(max_levels - 1, 0, -1):
        nxt = (
            vis.where(F.col("dist") == d + 1)
            .join(deltas[d + 1], ["s", "v"], "left")
            .select(
                "s",
                F.col("v").alias("w"),
                F.col("sigma").alias("sig_w"),
                F.coalesce("delta", F.lit(0)).alias("delta_w"),
            )
        )
        cur = vis.where(F.col("dist") == d).select(
            "s", "v", F.col("sigma").alias("sig_v")
        )
        contrib = (
            cur.join(sym.withColumnRenamed("src", "v").withColumnRenamed("dst", "w"), "v")
            .join(nxt, ["s", "w"])
            .groupBy("s", "v")
            .agg(
                F.sum(
                    F.expr(f"sig_v * ({BC_SCALE} + delta_w) DIV sig_w")
                )
                .cast("long")
                .alias("delta")
            )
        )
        deltas[d] = brk(
            cur.select("s", "v")
            .join(contrib, ["s", "v"], "left")
            .select("s", "v", F.coalesce("delta", F.lit(0)).cast("long").alias("delta"))
        )
    dep = None
    for d in range(1, max_levels + 1):
        dep = deltas[d] if dep is None else dep.unionByName(deltas[d])
    agg = dep.groupBy(F.col("v").alias("vertex")).agg(
        F.sum("delta").cast("long").alias("dep_scaled")
    )
    n = verts.agg(F.count("*").cast("long").alias("n"))
    ns = sample.agg(F.count("*").cast("long").alias("ns"))
    return (
        verts.withColumnRenamed("v", "vertex")
        .join(agg, "vertex", "left")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ns))
        .select(
            "vertex",
            F.coalesce("dep_scaled", F.lit(0)).cast("long").alias("dep_scaled"),
            F.expr("coalesce(dep_scaled, 0) * n DIV ns").cast("long").alias("est_scaled"),
        )
    )
