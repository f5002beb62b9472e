"""Cross-KG entity alignment (the PARIS bootstrap round).

Merging two independently-constructed knowledge graphs — this month's
crawl against the standing graph, or two language editions — needs
entity alignment: which node in graph B is the same real-world entity
as a node in graph A. PARIS (Suchanek, Abiteboul & Senellart, VLDB
2012) bootstraps from shared attribute values and iterates; the
operator here is that bootstrap round, engineered Spark-first:

* an entity's features are its (pred, obj) fact pairs (obj plays the
  PARIS "literal" role: the value space both graphs share before any
  entities are aligned);
* a shared feature's evidence weight is inverse to how common it is —
  exact-integer ``1e6 DIV df`` where df is the number of distinct
  carrying subjects across BOTH graphs (the functionality intuition:
  a fact nearly unique to two entities is near-proof they coincide,
  a fact half the corpus carries proves nothing);
* candidate scores are one feature equi-join + one (ea, eb) aggregate,
  and the final assignment is a per-eb top-1 window.

Scale shape: everything is keyed by the (pred, obj) feature, so the
join never touches evidence-grain rows — both sides are distinct
(subj, pred, obj) tables, and the candidate blowup per feature is
df_a x df_b. That makes ubiquitous features the quadratic hazard, and
``max_feature_df`` the cap: features with df above it are dropped
before the join (the ER stop-word rule). The cap is principled, not
just pragmatic — a dropped feature could have contributed at most
1e6/cap micro-units per pair, so a cap of 10^4 perturbs scores by
<100 per shared stop-feature while cutting the worst per-feature join
fan-out to cap^2/4. The top-1 window partitions by eb, bounded by
candidates-per-entity, never corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

ALIGN_SCALE = 1_000_000


def _feats(triples: DataFrame, who: str) -> DataFrame:
    return triples.select(
        F.col("subj").alias(who), "pred", "obj"
    ).distinct()


def align_scores(
    a_triples: DataFrame, b_triples: DataFrame, max_feature_df: int = 0
) -> DataFrame:
    """(ea, eb, n_shared, score_1e6) — candidate alignment scores between
    subjects of graph A and subjects of graph B by weighted shared
    (pred, obj) features. ``max_feature_df`` > 0 drops features carried
    by more distinct subjects than the cap (see module docstring for the
    error bound); 0 keeps all (the gate's exact setting)."""
    fa = _feats(a_triples, "ea")
    fb = _feats(b_triples, "eb")
    df = (
        fa.select("pred", "obj")
        .unionAll(fb.select("pred", "obj"))
        .groupBy("pred", "obj")
        .agg(F.count("*").alias("df"))
    )
    if max_feature_df > 0:
        df = df.where(F.col("df") <= max_feature_df)
    # weights ride the feature key through both joins (node-sized table,
    # no broadcast hint: AQE decides by runtime size)
    weighted = fa.join(df, ["pred", "obj"]).withColumn(
        "w", F.expr(f"CAST({ALIGN_SCALE} DIV df AS BIGINT)")
    )
    return (
        weighted.join(fb, ["pred", "obj"])
        .groupBy("ea", "eb")
        .agg(
            F.count("*").alias("n_shared"),
            F.sum("w").cast("long").alias("score_1e6"),
        )
    )


def align_best(
    a_triples: DataFrame, b_triples: DataFrame, max_feature_df: int = 0
) -> DataFrame:
    """(eb, ea, n_shared, score_1e6) — the per-B-entity best alignment
    (highest score, ties to the lexicographically smallest ea — the
    deterministic tie rule every ranked operator here pins)."""
    scores = align_scores(a_triples, b_triples, max_feature_df)
    win = Window.partitionBy("eb").orderBy(
        F.col("score_1e6").desc(), F.col("ea").asc()
    )
    return (
        scores.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") == 1)
        .select("eb", "ea", "n_shared", "score_1e6")
    )


def sameas_components(
    a_triples: DataFrame, b_triples: DataFrame, max_feature_df: int = 0
) -> DataFrame:
    """(vertex, component): the owl:sameAs closure — union-find over the
    best-alignment pairs, producing the CANONICAL CROSS-KG ID every
    aligned entity maps to (component = lexicographically smallest
    member). Vertices are namespaced 'A:'/'B:' so the two graphs' local
    names can never collide; entities align_best left unmatched are
    absent (no evidence -> no merge). This is what alignment is FOR:
    downstream queries join both KGs through the component id.

    Scale shape: align_best's feature join + top-1 window, then the
    pointer-doubling connected components (O(log diameter) rounds,
    lineage broken per ``plans/rounds.py``) over pair-count-sized edges — the
    corpus never re-enters.
    """
    from hebrew_ner_spark.operators.canonicalize import connected_components

    best = align_best(a_triples, b_triples, max_feature_df)
    edges = best.select(
        F.concat(F.lit("A:"), F.col("ea")).alias("src"),
        F.concat(F.lit("B:"), F.col("eb")).alias("dst"),
    )
    return connected_components(edges)
