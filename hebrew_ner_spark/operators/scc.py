"""Strongly connected components + Broder bow-tie over the host graph.

The reference pipeline has no graph axis at all (its output is labeled
spans per request, ner_app.py:125-194); a Common-Crawl-scale corpus
does, and the canonical structural analysis of a web link graph is the
SCC decomposition and the bow-tie map built on it (Broder et al.,
"Graph structure in the Web", WWW 2000: CORE / IN / OUT and the rest).
Crawl schedulers, spam classifiers, and PageRank convergence analysis
all start from "which hosts are mutually reachable".

Sequential Tarjan/Kosaraju do not distribute (a DFS is inherently
serial); the Spark-native algorithm here is the coloring + backward-mark
PEELING family (Orzan 2004; Slota et al.'s Multistep is the same scheme
plus trimming):

  peel round:
    1. forward coloring to fixpoint:  c(v) = min vertex label known to
       reach v.  Each step folds edge-neighbour minima; because "reaches"
       is transitive the POINTER-JUMP shortcut c(v) <- min(c(v), c(c(v)))
       is sound for directed reachability too, so the fixpoint needs
       O(log diameter) rounds, not O(diameter) — the same doubling move
       connected_components uses.
    2. roots are the self-colored vertices (c(r) = r; exactly one per
       color class).  Backward mark within the color class: m(v) = 1 iff
       v reaches its root through same-colored vertices.  Any v in
       SCC(r) colors r and every vertex on a v->r path inside a cycle
       with r also colors r, so the same-color restriction loses nothing
       and the marked set is EXACTLY SCC(r).
    3. every marked vertex is assigned scc_id = its color; marked
       vertices and their incident edges are removed; repeat on the rest.

Each peel resolves every current color-class root at once, so the peel
count is the longest chain of SCCs shadowed by smaller-labeled upstream
SCCs (the condensation's label-monotone depth), not |SCC|.  Like
connected_components, the operator RAISES on hitting the round caps
rather than returning a silently wrong partition, breaks lineage every
round through the shared breaker (``plans/rounds.py``), and tests
convergence with one count action per round.

Scale shape: every step shuffles by vertex id over label tables of at
most |hosts| rows — orders of magnitude smaller than the page corpus
(the host graph of a 10^12-page crawl is ~10^7 hosts).  The backward
mark propagates one hop per round, so its round count is bounded by the
diameter of the LARGEST SCC (the web core's diameter is in the tens);
the forward coloring is doubled.  Assigned vertices leave the working
set, so later peels run on strictly shrinking tables.

The deterministic synthetic host graph (``synth_host_edges``) plants
every structure class closed-form from doc_id arithmetic so oracles
replay it without the extractor: four 3-cycle SCC blocks chained by
one-way cross edges (a condensation path — exercises multi-peel), a
pure-source singleton, a pure-sink singleton, and a disconnected 2-SCC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hebrew_ner_spark.plans.rounds import lineage_breaker

SCC_MAX_PEELS = 30
SCC_MAX_ROUNDS = 25


def _host(k) -> F.Column:
    # zero-padded so lexicographic min == numeric min on both engines
    return F.format_string("ex%02d.example.net", k.cast("int"))


def synth_host_edges(docs: DataFrame) -> DataFrame:
    """(src, dst) — DISTINCT directed host edges, closed-form per doc_id.

    k = doc_id % 12 selects a block host (blocks of 3: blk = k DIV 3):

    * ring edge      k -> blk*3 + (k+1 mod 3)          (every doc)
    * cross edge     k -> k+3        (doc_id % 5 == 0 and k < 9)
    * source edge    ex12 -> k       (doc_id % 7 == 0)
    * sink edge      k -> ex13       (doc_id % 11 == 0)
    * isolated pair  ex14 <-> ex15   (doc_id % 13 == 0 / == 1)

    gcd(5,12) = gcd(7,12) = 1, so any >= 60 consecutive doc_ids cover
    every ring and cross edge: 4 three-cycle SCCs chained block0 ->
    block1 -> block2 -> block3, ex12 a source singleton, ex13 a sink
    singleton, {ex14, ex15} a 2-SCC disconnected from the rest.
    """
    k = (F.col("doc_id") % 12).alias("k")
    d = docs.select(F.col("doc_id").alias("d"), k)
    ring = d.select(
        _host(F.col("k")).alias("src"),
        _host((F.col("k") - F.col("k") % 3) + (F.col("k") % 3 + 1) % 3).alias("dst"),
    )
    cross = d.where((F.col("d") % 5 == 0) & (F.col("k") < 9)).select(
        _host(F.col("k")).alias("src"), _host(F.col("k") + 3).alias("dst")
    )
    source = d.where(F.col("d") % 7 == 0).select(
        _host(F.lit(12)).alias("src"), _host(F.col("k")).alias("dst")
    )
    sink = d.where(F.col("d") % 11 == 0).select(
        _host(F.col("k")).alias("src"), _host(F.lit(13)).alias("dst")
    )
    pair_a = d.where(F.col("d") % 13 == 0).select(
        _host(F.lit(14)).alias("src"), _host(F.lit(15)).alias("dst")
    )
    pair_b = d.where(F.col("d") % 13 == 1).select(
        _host(F.lit(15)).alias("src"), _host(F.lit(14)).alias("dst")
    )
    return (
        ring.unionByName(cross)
        .unionByName(source)
        .unionByName(sink)
        .unionByName(pair_a)
        .unionByName(pair_b)
        .distinct()
    )


def _fixpoint_min_color(
    nodes: DataFrame, edges: DataFrame, _break, max_rounds: int
) -> DataFrame:
    """(vertex, color) — color = min vertex label that reaches vertex.

    Per round: edge-neighbour min fold + pointer jump, then a changed
    count; raises if the cap is hit (a wrong coloring would silently
    merge or split SCCs downstream).
    """
    labels = _break(nodes.withColumn("color", F.col("vertex")))
    changed = -1
    for _ in range(max_rounds):
        via_edges = (
            edges.join(labels, edges["src"] == labels["vertex"])
            .groupBy(F.col("dst").alias("_v"))
            .agg(F.min("color").alias("_in_min"))
        )
        stepped = labels.join(
            via_edges, labels["vertex"] == via_edges["_v"], "left"
        ).select(
            "vertex",
            F.col("color").alias("prev"),
            F.least(
                F.col("color"), F.coalesce("_in_min", F.col("color"))
            ).alias("color"),
        )
        jump_src = stepped.select(
            F.col("vertex").alias("_jv"), F.col("color").alias("_jc")
        )
        new = _break(
            stepped.join(jump_src, stepped["color"] == jump_src["_jv"], "left")
            .select(
                "vertex",
                "prev",
                F.least(
                    F.col("color"), F.coalesce("_jc", F.col("color"))
                ).alias("color"),
            )
        )
        changed = new.where(F.col("color") != F.col("prev")).count()
        labels = new.select("vertex", "color")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"scc coloring did not converge within {max_rounds} rounds "
            f"({changed} labels still changing) — raise max_rounds"
        )
    return labels


def _backward_mark(
    colored: DataFrame, edges: DataFrame, _break, max_rounds: int
) -> DataFrame:
    """(vertex, color) — the subset of ``colored`` whose vertices reach
    their color root through same-colored vertices: exactly the SCCs of
    this peel's roots.  One hop per round (mark sets are boolean, no
    doubling), bounded by the largest SCC's diameter."""
    marked = _break(colored.where(F.col("vertex") == F.col("color")))
    grew = -1
    for _ in range(max_rounds):
        # v joins if some out-edge v->w lands on a marked w of v's color
        step = (
            edges.join(
                marked.select(
                    F.col("vertex").alias("_mw"), F.col("color").alias("_mc")
                ),
                edges["dst"] == F.col("_mw"),
            )
            .join(
                colored.select(
                    F.col("vertex").alias("_cv"), F.col("color").alias("_cc")
                ),
                (F.col("src") == F.col("_cv")) & (F.col("_mc") == F.col("_cc")),
            )
            .select(F.col("_cv").alias("vertex"), F.col("_cc").alias("color"))
            .distinct()
        )
        new = _break(marked.unionByName(step).distinct())
        grew = new.count() - marked.count()
        marked = new
        if grew == 0:
            break
    if grew != 0:
        raise RuntimeError(
            f"scc backward mark did not converge within {max_rounds} "
            "rounds — raise max_rounds"
        )
    return marked


def scc_components(
    edges: DataFrame,
    max_peels: int = SCC_MAX_PEELS,
    max_rounds: int = SCC_MAX_ROUNDS,
) -> DataFrame:
    """(host, scc_id, scc_size) — scc_id = min member, exact partition.

    Vertices are everything appearing in ``edges`` (isolated hosts are
    the caller's to union in — their SCC is themselves, same contract as
    connected_components).
    """
    _break = lineage_breaker(edges)
    live_edges = _break(
        edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    )
    live_nodes = _break(
        edges.select(F.col("src").alias("vertex"))
        .union(edges.select(F.col("dst")))
        .distinct()
    )
    assigned: DataFrame | None = None
    for _ in range(max_peels):
        if live_nodes.isEmpty():
            break
        colored = _fixpoint_min_color(live_nodes, live_edges, _break, max_rounds)
        scc = _backward_mark(colored, live_edges, _break, max_rounds)
        found = scc.select(
            F.col("vertex").alias("host"), F.col("color").alias("scc_id")
        )
        assigned = found if assigned is None else assigned.unionByName(found)
        assigned = _break(assigned)
        done = assigned.select(F.col("host").alias("_done"))
        live_nodes = _break(
            live_nodes.join(
                done, live_nodes["vertex"] == done["_done"], "left_anti"
            )
        )
        live_edges = _break(
            live_edges.join(done, live_edges["src"] == done["_done"], "left_anti")
            .join(done, F.col("dst") == done["_done"], "left_anti")
        )
    if not live_nodes.isEmpty():
        raise RuntimeError(
            f"scc_components did not finish within {max_peels} peels — "
            "raise max_peels; a partial partition would be silently wrong"
        )
    if assigned is None:
        return edges.sparkSession.createDataFrame(
            [], "host string, scc_id string, scc_size long"
        )
    w = Window.partitionBy("scc_id")
    return assigned.select(
        "host", "scc_id", F.count("*").over(w).cast("long").alias("scc_size")
    )


def _closure_flag(
    seeds: DataFrame, edges: DataFrame, _break, max_rounds: int, forward: bool
) -> DataFrame:
    """(vertex) — vertices reachable from ``seeds`` along ``edges``
    (forward=True) or that reach ``seeds`` (forward=False), seeds
    included.  Plain one-hop frontier fold with a grew-count action per
    round; raises on cap."""
    a, b = ("src", "dst") if forward else ("dst", "src")
    reach = _break(seeds.select("vertex").distinct())
    grew = -1
    for _ in range(max_rounds):
        step = (
            edges.join(reach, edges[a] == reach["vertex"])
            .select(F.col(b).alias("vertex"))
            .distinct()
        )
        new = _break(reach.unionByName(step).distinct())
        grew = new.count() - reach.count()
        reach = new
        if grew == 0:
            break
    if grew != 0:
        raise RuntimeError(
            f"bow-tie closure did not converge within {max_rounds} rounds"
        )
    return reach


def bowtie_parts(
    edges: DataFrame,
    max_peels: int = SCC_MAX_PEELS,
    max_rounds: int = SCC_MAX_ROUNDS,
) -> DataFrame:
    """(host, scc_id, part) — Broder bow-tie class per host.

    CORE = the largest SCC (ties broken by min scc_id — deterministic);
    IN = hosts reaching CORE (excl. CORE); OUT = hosts reachable from
    CORE (excl. CORE); OTHER = the rest (Broder's tendrils, tubes and
    disconnected components lumped — the classes that need per-tendril
    provenance are a refinement pass, not a different plan shape).

    Built on scc_components plus two frontier closures seeded at the
    core; every table involved is host-grain.
    """
    _break = lineage_breaker(edges)
    sccs = _break(scc_components(edges, max_peels, max_rounds))
    core_id = sccs.groupBy("scc_id").agg(F.count("*").alias("_n")).select(
        F.min(
            F.struct((-F.col("_n")).alias("_neg"), F.col("scc_id").alias("sid"))
        ).alias("_k")
    ).select(F.col("_k.sid").alias("_core_id"))
    tagged = sccs.crossJoin(F.broadcast(core_id)).select(
        F.col("host").alias("vertex"),
        "scc_id",
        (F.col("scc_id") == F.col("_core_id")).alias("_is_core"),
    )
    core = tagged.where("_is_core")
    e = edges.select("src", "dst").distinct()
    fwd = _closure_flag(core, e, _break, max_rounds, forward=True).select(
        F.col("vertex").alias("_fv")
    )
    bwd = _closure_flag(core, e, _break, max_rounds, forward=False).select(
        F.col("vertex").alias("_bv")
    )
    return (
        tagged.join(fwd, tagged["vertex"] == F.col("_fv"), "left")
        .join(bwd, tagged["vertex"] == F.col("_bv"), "left")
        .select(
            F.col("vertex").alias("host"),
            "scc_id",
            F.when(F.col("_is_core"), F.lit("CORE"))
            .when(F.col("_bv").isNotNull(), F.lit("IN"))
            .when(F.col("_fv").isNotNull(), F.lit("OUT"))
            .otherwise(F.lit("OTHER"))
            .alias("part"),
        )
    )


# ---------------------------------------------------------------------------
# Luby-style maximal independent set (deterministic hash priorities)
# ---------------------------------------------------------------------------

MIS_SEED = 113
MIS_MAX_ROUNDS = 20


def host_mis(
    edges: DataFrame,
    max_rounds: int = MIS_MAX_ROUNDS,
) -> DataFrame:
    """(host, priority, in_mis) — maximal independent set over the
    UNDIRECTED host graph, in_mis a BIGINT 0/1 flag.

    A crawl scheduler wants conflict-free batches (no two hosts sharing
    an edge fetched by the same worker wave); the classic distributed
    primitive is Luby's algorithm. Randomness is replaced by the
    deterministic 60-bit portable hash as priority — the parallel
    local-minima rounds then compute EXACTLY the sequential greedy MIS
    over the (priority, host) order, independent of round structure,
    which is what makes the result oracle-checkable.

    Per round: undecided vertices that beat every undecided neighbour
    on (priority, host) — the tuple compare makes hash collisions
    harmless — join the MIS; they and their neighbours leave the
    working set. With random-like priorities the expected round count
    is O(log n); the cap RAISES rather than returning a non-maximal
    set. Scale shape: one neighbour-min aggregate + two anti-joins per
    round, every table vertex-grain; the working set shrinks by a
    constant factor per round in expectation.
    """
    from hebrew_ner_spark.functions.hashing import phash_col

    _break = lineage_breaker(edges)
    sym = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).where(F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    sym = _break(sym)
    all_nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst")))
        .distinct()
        .select("host", phash_col(F.col("host"), MIS_SEED).alias("priority"))
    )
    und = _break(all_nodes)
    mis: DataFrame | None = None
    for _ in range(max_rounds):
        if und.isEmpty():
            break
        nbr = und.select(
            F.col("host").alias("_w"), F.col("priority").alias("_wp")
        )
        live = sym.join(nbr, sym["dst"] == nbr["_w"]).select(
            "src", "_wp", F.col("_w").alias("_wh")
        )
        nbr_min = live.groupBy(F.col("src").alias("_v")).agg(
            F.min(F.struct(F.col("_wp").alias("p"), F.col("_wh").alias("h"))).alias(
                "_m"
            )
        )
        winners = (
            und.join(nbr_min, und["host"] == nbr_min["_v"], "left")
            .where(
                F.col("_m").isNull()
                | (
                    F.struct(
                        F.col("priority").alias("p"), F.col("host").alias("h")
                    )
                    < F.col("_m")
                )
            )
            .select("host", "priority")
        )
        winners = _break(winners)
        mis = winners if mis is None else _break(mis.unionByName(winners))
        wkeys = winners.select(F.col("host").alias("_k"))
        gone = (
            sym.join(wkeys, sym["src"] == F.col("_k"))
            .select(F.col("dst").alias("_k"))
            .union(wkeys.select(F.col("_k")))
            .distinct()
        )
        und = _break(
            und.join(gone, und["host"] == gone["_k"], "left_anti")
        )
    if not und.isEmpty():
        raise RuntimeError(
            f"host_mis did not converge within {max_rounds} rounds — a "
            "partial set would not be maximal"
        )
    mis_keys = (
        mis.select(F.col("host").alias("_mh"))
        if mis is not None
        else all_nodes.sparkSession.createDataFrame([], "_mh string")
    )
    return all_nodes.join(
        mis_keys, all_nodes["host"] == F.col("_mh"), "left"
    ).select(
        "host",
        "priority",
        F.when(F.col("_mh").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("in_mis"),
    )
