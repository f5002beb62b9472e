"""Canonicalization: connected components by iterative min-label
propagation (the union-find analog that distributes).

G6 (SURVEY.md §2.7): the reference has no canonicalization — it is
required by our KG pipeline (duplicate-document clusters, alias groups).
A sequential union-find does not distribute; the Spark-native equivalent
is label propagation to fixpoint:

    label(v) <- min(label(v), min over neighbours u of label(u))

Each round is a neighbour-min join + aggregation **plus a pointer-
doubling shortcut** (label(v) <- label(label(v)), the large-star move of
the Kiveris et al. "Connected Components in MapReduce" family): reach
doubles every round, so convergence needs O(log diameter) rounds — a
1,000-doc near-dup chain closes in ~10 rounds instead of 1,000. If the
cap is still hit, the operator RAISES rather than returning silently
split components.

Scale notes:
* edges are symmetrized once; each round shuffles by vertex id — a
  uniform key unless one component dominates, in which case the min-agg
  is algebraic and AQE splits the skewed reducer;
* every round persists and breaks lineage so the plan does not grow
  exponentially — ``plans/rounds.py``'s rule: managed parquet round
  tables when a checkpoint directory is configured (at most two label
  tables on disk, not O(rounds)), else ``localCheckpoint``;
* convergence test is a count of changed labels — one action per round,
  the driver-side loop is O(rounds), not O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.rounds import lineage_breaker


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """(vertex, component) — component = min vertex id reachable.

    ``edges`` is an undirected edge list; isolated vertices that never
    appear in it are the caller's to add (their component is themselves).
    """
    _break = lineage_breaker(edges)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = _break(
        sym.select(F.col("a").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
    )
    changed = 0
    for _ in range(max_rounds):
        neigh_min = (
            sym.join(labels, sym["b"] == labels["vertex"])
            .groupBy("a")
            .agg(F.min("component").alias("n_comp"))
        )
        stepped = labels.join(
            neigh_min, labels["vertex"] == neigh_min["a"], "left"
        ).select(
            "vertex",
            F.col("component").alias("prev"),
            F.least(
                F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
            ).alias("component"),
        )
        # pointer doubling: label(v) <- min(label(v), label(label(v))).
        # component values are always vertex ids present in `stepped`
        # (initial labels are self-ids; every update copies another
        # label), so the shortcut join always resolves. ONE shortcut
        # pass, deliberately: the round count is propagation-bound, not
        # shortcut-bound (measured 11-12 rounds on a 59-vertex cut
        # forest under 1, 2, or 3 shortcut hops alike), extra hops buy
        # nothing, and >=3 join hops per round trips a measured
        # execution cliff (~7x slower per round, compounding) in late
        # near-converged rounds.
        comp_of = stepped.select(
            F.col("vertex").alias("cv"), F.col("component").alias("cc")
        )
        # `prev` rides along so the convergence test is a plain aggregate
        # over this round's result — no extra join + job per round
        new_with_prev = _break(
            stepped.join(comp_of, stepped["component"] == comp_of["cv"], "left")
            .select(
                "vertex",
                "prev",
                F.least(
                    F.col("component"), F.coalesce(F.col("cc"), F.col("component"))
                ).alias("component"),
            )
        )
        changed = new_with_prev.where(F.col("component") != F.col("prev")).count()
        labels = new_with_prev.select("vertex", "component")
        if changed == 0:
            break
    sym.unpersist()
    if changed != 0:
        # nothing is returned on this path, so any round tables are
        # referenced by no one — reclaim them immediately
        if hasattr(_break, "cleanup"):
            _break.cleanup()
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            f"rounds ({changed} labels still changing) — raise max_rounds; "
            "results would be silently split components otherwise"
        )
    return labels


def dedup_components(near_dup_pairs: DataFrame) -> DataFrame:
    """Duplicate-document clusters from verified near-dup pairs:
    (doc_id, component_id); component id = min doc_id in the cluster, so
    the canonical survivor choice is deterministic and resume-stable."""
    cc = connected_components(near_dup_pairs, src="doc_a", dst="doc_b")
    return cc.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("component_id")
    )


def decremental_components(
    labels: DataFrame,
    base_edges: DataFrame,
    forgotten: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """(vertex, component): FORGET a vertex set from persisted component
    labels — the right-to-erasure / crawl-retraction repair. Forgotten
    vertices and every incident edge leave the graph; deletions can
    SPLIT components, which no label-merge trick can express, so the
    exact repair recomputes — but only where it must:

    1. affected components = those owning >= 1 forgotten vertex (a
       semi-join against the deletion set — deletion-local, broadcast
       when the forget batch is small);
    2. every other component's labels pass through UNTOUCHED (anti-join
       on component id) — correctness is free because components are
       disjoint: removing vertices inside C cannot change connectivity
       or the min-member label of any other component;
    3. the induced subgraph of the affected components (their surviving
       edges, i.e. base edges with both endpoints unforgotten whose
       src maps into an affected component) re-runs
       ``connected_components``; surviving vertices with no remaining
       edge become singletons via the left-join coalesce.

    Cost: O(|forget set| + |affected components|), corpus-independent
    for localized deletions — the decremental twin of
    ``incremental_components``. EXACTLY equals a full recompute over
    the surviving graph (oracle-gated against the recursive closure).
    ``base_edges`` is the undirected edge list the labels were built
    from (orientation irrelevant — both endpoint columns are checked).
    """
    fv = forgotten.select(
        F.col(forgotten.columns[0]).alias("_fv")
    ).distinct()
    aff = (
        labels.join(fv, labels["vertex"] == fv["_fv"], "left_semi")
        .select("component")
        .distinct()
    )
    keep = labels.join(aff, "component", "left_anti")
    e = base_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.join(fv.withColumnRenamed("_fv", "a"), "a", "left_anti")
    e = e.join(fv.withColumnRenamed("_fv", "b"), "b", "left_anti")
    ec = e.join(
        labels.select(F.col("vertex").alias("a"), F.col("component").alias("_c")),
        "a",
    )
    sub_e = ec.join(
        aff.withColumnRenamed("component", "_c"), "_c", "left_semi"
    ).select("a", "b")
    sub_v = (
        labels.join(aff, "component", "left_semi")
        .join(fv.withColumnRenamed("_fv", "vertex"), "vertex", "left_anti")
        .select("vertex")
    )
    fresh_cc = connected_components(
        sub_e, src="a", dst="b", max_rounds=max_rounds
    ).withColumnRenamed("component", "_nc")
    fresh = sub_v.join(fresh_cc, "vertex", "left").select(
        "vertex", F.coalesce("_nc", "vertex").alias("component")
    )
    return keep.unionByName(fresh)


def incremental_components(
    labels: DataFrame,
    delta: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """(vertex, component): fold a delta edge set into persisted
    component labels WITHOUT touching the base graph's edges.

    The crawl-increment shape: a 10^12-doc corpus's duplicate/sameAs
    components are persisted; each crawl adds a delta of edges. A full
    re-run is O(|base|); this is O(|delta| + |touched components|):

    1. lift each delta edge to component space — endpoints map to their
       persisted component (broadcast-or-SMJ left join; vertices the
       labels have never seen map to themselves);
    2. run ``connected_components`` on the component-grain graph, whose
       vertex set is only the components and new vertices the delta
       touches — corpus-size independent;
    3. apply the comp -> merged-comp mapping back with one left join +
       coalesce (untouched components keep their label), and label
       delta-new vertices.

    EXACTLY equals a full recompute over base ∪ delta edges: a base
    component's id is its min member vertex, so contracting components
    to their ids preserves both connectivity and the min — the merged
    label is the global min vertex id either way (oracle-gated against
    the recursive-closure full answer; pytest merge/split-free cases).
    """
    la = labels.select(F.col("vertex").alias("_v"), F.col("component").alias("_c"))
    e = delta.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    lifted = (
        e.join(la.withColumnRenamed("_v", "a").withColumnRenamed("_c", "ca"), "a", "left")
        .join(la.withColumnRenamed("_v", "b").withColumnRenamed("_c", "cb"), "b", "left")
        .select(
            F.coalesce("ca", "a").alias("src"),
            F.coalesce("cb", "b").alias("dst"),
        )
    )
    comp_edges = lifted.where(F.col("src") != F.col("dst")).distinct()
    mapping = connected_components(comp_edges, max_rounds=max_rounds).select(
        F.col("vertex").alias("_m_from"), F.col("component").alias("_m_to")
    )

    relabeled = labels.join(
        mapping, labels["component"] == mapping["_m_from"], "left"
    ).select(
        "vertex",
        F.coalesce("_m_to", "component").alias("component"),
    )
    new_vertices = (
        e.select(F.col("a").alias("vertex"))
        .union(e.select(F.col("b").alias("vertex")))
        .distinct()
        .join(labels.select("vertex"), "vertex", "left_anti")
    )
    new_labeled = new_vertices.join(
        mapping, new_vertices["vertex"] == mapping["_m_from"], "left"
    ).select("vertex", F.coalesce("_m_to", "vertex").alias("component"))
    return relabeled.unionByName(new_labeled)
