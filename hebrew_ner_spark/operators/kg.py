"""Knowledge-graph construction over the synthetic web-document corpus.

This is the engine's flagship chain (SURVEY.md §7 minimum slice):

    documents -> tokens -> BIOSE mention labels -> mention spans
              -> (subj, pred, obj) triples -> linked entities
              -> canonical components -> node/edge tables

Spark-first design notes (these matter at 100 TB):

* Tokenization, labelling and triple pattern-matching are **array-side
  higher-order functions** on each document row — zero shuffles, full
  whole-stage codegen, no Python. The reference does the same work with
  pandas loops (ner_app.py:196-226); here Catalyst sees one narrow stage.
* The only shuffles in the chain are the aggregations that *must* move data
  (mention/triple counts), and those use two-phase salted aggregation for
  skewed keys (plans/skew.py) — mega-entities are the known hot spot.
* Mention labelling follows the reference's BIOSE scheme: maximal runs of
  gazetteer entity tokens become spans (single token -> S, else B I* E),
  mirroring make_spans semantics (utils/ner.py:398-419).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hebrew_ner_spark.resources import ADJECTIVE_TERMS, ENTITY_TERMS, PREDICATE_TERMS


def _term_set(terms: list[str]) -> Column:
    return F.array(*[F.lit(t) for t in terms])


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents + a `toks` array column (whitespace tokenization).

    The corpus text is single-space joined by construction; the general
    multi-space path is `split(text, '\\s+')` with empty-string filter.
    """
    return docs.withColumn("toks", F.split(F.col(text_col), " "))


def doc_tokens(docs: DataFrame) -> DataFrame:
    """Long token table (doc_id, word_index, token).

    Analog of the reference NER dataframe `['SentNum','WordIndex','Word']`
    (utils/ner.py:14); the windowed counter A6 (cumcount, ner_app.py:209)
    is `posexplode`, which needs no shuffle at all.
    """
    return (
        with_tokens(docs)
        .select("doc_id", F.posexplode("toks").alias("word_index", "token"))
        .withColumn("word_index", F.col("word_index").cast("long"))
    )


def _biose_labels(toks: Column, terms: list[str] | None = None) -> Column:
    """Array of BIOSE labels for a token array, computed entirely JVM-side.

    Maximal runs of entity-gazetteer tokens are spans: single -> S-TERM,
    run start -> B-TERM, run interior -> I-TERM, run end -> E-TERM.
    Neighbour tests use element_at on the original array, so this is one
    `transform` — no window, no shuffle, no Python.
    """
    ents = _sql_terms(terms if terms is not None else ENTITY_TERMS)
    return F.expr(
        f"""
        transform(toks, (t, i) ->
          CASE
            WHEN NOT array_contains({ents}, t) THEN 'O'
            WHEN (i = 0 OR NOT array_contains({ents}, toks[i-1]))
             AND (i = size(toks) - 1 OR NOT array_contains({ents}, toks[i+1]))
              THEN 'S-TERM'
            WHEN (i = 0 OR NOT array_contains({ents}, toks[i-1]))
              THEN 'B-TERM'
            WHEN (i = size(toks) - 1 OR NOT array_contains({ents}, toks[i+1]))
              THEN 'E-TERM'
            ELSE 'I-TERM'
          END)
        """
    )


def _sql_terms(terms: list[str]) -> str:
    inner = ", ".join(f"'{t}'" for t in terms)
    return f"array({inner})"


def doc_label_arrays(docs: DataFrame, terms: list[str] | None = None) -> DataFrame:
    """(doc_id, toks, labels) — one row per document, its tokens and
    their BIOSE labels as parallel arrays (codegen, no Python).

    The source of the NER long table (``doc_token_labels``) and the input
    of the fused hybrid kernel (``lattice.prune_merge_validate``).
    """
    return with_tokens(docs).select(
        "doc_id", "toks", _biose_labels(F.col("toks"), terms).alias("labels")
    )


def doc_token_labels(docs: DataFrame, terms: list[str] | None = None) -> DataFrame:
    """(doc_id, word_index, token, label) — the NER long table.

    This is the mention-detection stage output; with a neural labeller the
    `labels` column would instead come from the mapInPandas kernel in
    operators/mentions.py — the table contract is identical.
    """
    return doc_label_arrays(docs, terms).select(
        "doc_id",
        F.posexplode(F.arrays_zip("toks", "labels")).alias("word_index", "tl"),
    ).select(
        "doc_id",
        F.col("word_index").cast("long").alias("word_index"),
        F.col("tl.toks").alias("token"),
        F.col("tl.labels").alias("label"),
    )


def mention_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, cat, lo, hi, surface) entity spans.

    Span semantics follow make_spans (utils/ner.py:398-419): S/B open a
    span, E closes it. Computed array-side: filter boundary indexes, pair
    them up — again shuffle-free.
    """
    ents = _sql_terms(ENTITY_TERMS)
    labelled = with_tokens(docs)
    # starts[i] is an index where a span begins; matching end is the first
    # non-entity boundary at or after it.
    return (
        labelled.withColumn(
            "spans",
            F.expr(
                f"""
                filter(
                  transform(toks, (t, i) ->
                    CASE WHEN array_contains({ents}, t)
                          AND (i = 0 OR NOT array_contains({ents}, toks[i-1]))
                    THEN named_struct(
                      'lo', bigint(i),
                      'hi', bigint(aggregate(
                         sequence(i, size(toks) - 1),
                         bigint(i),
                         (acc, j) -> CASE WHEN j >= acc + 1
                                           AND j = acc + 1
                                           AND array_contains({ents}, toks[j])
                                          THEN j ELSE acc END)))
                    ELSE NULL END),
                  s -> s IS NOT NULL)
                """
            ),
        )
        .select("doc_id", "toks", F.explode("spans").alias("sp"))
        .select(
            "doc_id",
            F.lit("TERM").alias("cat"),
            F.col("sp.lo").alias("lo"),
            F.col("sp.hi").alias("hi"),
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("sp.lo") + 1, F.col("sp.hi") - F.col("sp.lo") + 1)).alias(
                "surface"
            ),
        )
    )


def doc_triples(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, word_index, subj, pred, obj) — SVO triple extraction.

    Dependency-pattern relation extraction (SURVEY.md §2.11 extract_triples)
    specialised to the synthetic corpus grammar: an entity token immediately
    before and after a predicate token forms a triple. The sliding-window
    match is a single `transform` + `filter` over the token array —
    the whole extraction is one narrow, codegen'd stage with zero shuffles.
    """
    ents = _sql_terms(ENTITY_TERMS)
    preds = _sql_terms(PREDICATE_TERMS)
    return (
        with_tokens(docs)
        .withColumn(
            "triples",
            F.expr(
                f"""
                filter(
                  transform(toks, (t, i) ->
                    CASE WHEN i > 0 AND i < size(toks) - 1
                          AND array_contains({preds}, t)
                          AND array_contains({ents}, toks[i-1])
                          AND array_contains({ents}, toks[i+1])
                    THEN named_struct('word_index', bigint(i),
                                      'subj', toks[i-1],
                                      'pred', t,
                                      'obj', toks[i+1])
                    ELSE NULL END),
                  x -> x IS NOT NULL)
                """
            ),
        )
        .select(key, F.explode("triples").alias("tr"))
        .select(key, "tr.word_index", "tr.subj", "tr.pred", "tr.obj")
    )


def doc_triples_patterns(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, word_index, pattern, subj, pred, obj) — multi-pattern extraction.

    Dependency-pattern relation extraction beyond the adjacent-trigram SVO
    (the reference's relation surface is mention adjacency, ner_app.py; the
    north rule asks for dependency *patterns*). Five patterns over the
    synthetic grammar, each anchored at one token index:

    * ``svo``           ENT PRED ENT            (anchor = predicate)
    * ``svo_gap_subj``  ENT FILLER PRED ENT     (subject one filler away)
    * ``svo_gap_obj``   ENT PRED FILLER ENT     (object one filler away)
    * ``appos``         ENT ENT                 (coordination/apposition,
                        anchor = first entity, pred literal ``appos``)
    * ``has_attr``      ADJ ENT                 (attribute modifier, anchor =
                        adjective, pred literal ``has_attr``)

    Anchor classes (PRED / ENT / ADJ) are disjoint and the three PRED-anchored
    patterns are mutually exclusive in their context tests, so at most one
    pattern fires per index — the whole match is a single ``transform`` CASE
    cascade: one narrow codegen'd stage, zero shuffles, no Python. At 100 TB
    this stays embarrassingly parallel (per-document work only).
    """
    ents = _sql_terms(ENTITY_TERMS)
    preds = _sql_terms(PREDICATE_TERMS)
    adjs = _sql_terms(ADJECTIVE_TERMS)
    return (
        with_tokens(docs)
        .withColumn(
            "triples",
            F.expr(
                f"""
                filter(
                  transform(toks, (t, i) -> CASE
                    WHEN array_contains({preds}, t) AND i > 0 AND i < size(toks) - 1
                         AND array_contains({ents}, toks[i-1])
                         AND array_contains({ents}, toks[i+1])
                      THEN named_struct('word_index', bigint(i), 'pattern', 'svo',
                                        'subj', toks[i-1], 'pred', t, 'obj', toks[i+1])
                    WHEN array_contains({preds}, t) AND i > 1 AND i < size(toks) - 1
                         AND NOT array_contains({ents}, toks[i-1])
                         AND NOT array_contains({preds}, toks[i-1])
                         AND array_contains({ents}, toks[i-2])
                         AND array_contains({ents}, toks[i+1])
                      THEN named_struct('word_index', bigint(i), 'pattern', 'svo_gap_subj',
                                        'subj', toks[i-2], 'pred', t, 'obj', toks[i+1])
                    WHEN array_contains({preds}, t) AND i > 0 AND i < size(toks) - 2
                         AND array_contains({ents}, toks[i-1])
                         AND NOT array_contains({ents}, toks[i+1])
                         AND NOT array_contains({preds}, toks[i+1])
                         AND array_contains({ents}, toks[i+2])
                      THEN named_struct('word_index', bigint(i), 'pattern', 'svo_gap_obj',
                                        'subj', toks[i-1], 'pred', t, 'obj', toks[i+2])
                    WHEN array_contains({ents}, t) AND i < size(toks) - 1
                         AND array_contains({ents}, toks[i+1])
                      THEN named_struct('word_index', bigint(i), 'pattern', 'appos',
                                        'subj', t, 'pred', 'appos', 'obj', toks[i+1])
                    WHEN array_contains({adjs}, t) AND i < size(toks) - 1
                         AND array_contains({ents}, toks[i+1])
                      THEN named_struct('word_index', bigint(i), 'pattern', 'has_attr',
                                        'subj', toks[i+1], 'pred', 'has_attr', 'obj', t)
                    ELSE NULL END),
                  x -> x IS NOT NULL)
                """
            ),
        )
        .select(key, F.explode("triples").alias("tr"))
        .select(key, "tr.word_index", "tr.pattern", "tr.subj", "tr.pred", "tr.obj")
    )


def typed_edge_counts(docs: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """(pattern, subj, pred, obj, n_evidence) typed edge weights.

    Same two-phase salted option as triple_counts — pattern-typed edges
    inherit the mega-entity skew of their subjects.
    """
    triples = doc_triples_patterns(docs)
    keys = ["pattern", "subj", "pred", "obj"]
    if salt_buckets > 0:
        from hebrew_ner_spark.plans.skew import salted_count

        return salted_count(triples, keys, salt_buckets, "n_evidence")
    return triples.groupBy(*keys).agg(F.count("*").alias("n_evidence"))


def triple_counts(docs: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """(subj, pred, obj, n_evidence) aggregated edge weights.

    With `salt_buckets` > 0 the count runs as two-phase salted aggregation
    (mega-entity skew: one entity can own ~20% of all mentions at corpus
    scale). Counts are algebraic so the two plans are equivalent.
    """
    triples = doc_triples(docs)
    if salt_buckets > 0:
        from hebrew_ner_spark.plans.skew import salted_count

        return salted_count(triples, ["subj", "pred", "obj"], salt_buckets, "n_evidence")
    return triples.groupBy("subj", "pred", "obj").agg(F.count("*").alias("n_evidence"))


def predicate_stats(docs: DataFrame) -> DataFrame:
    """(pred, n_pairs, n_evidence, n_subj, n_obj, fun_1e6, inv_fun_1e6) —
    PARIS-style schema induction over the extracted triples.

    Functionality (Suchanek, Abiteboul & Senellart, PARIS, VLDB 2012) is
    the KG-construction signal that tells a linker/canonicalizer which
    predicates are key-like: fun(p) = #distinct subjects / #distinct
    (subject, object) pairs — 1e6 means every subject has exactly one
    object (safe to merge entities that share it); inverse functionality
    is the object-side mirror. Reported exact-integer via the repo's
    round-half-up identity (2*num + den) DIV (2*den) — no float division
    crosses engines.

    Plan shape: one aggregate keyed by the full triple (dedup + evidence
    sum — mega-fact skew lives here and takes the salted_agg plug-in like
    triple_counts), then one aggregate keyed by pred with two distinct
    counts. Predicates are a small closed set, so the second aggregate is
    inherently high-skew: Catalyst's expand + partial-distinct handles it
    map-side (each (pred, subj) / (pred, obj) pair dedups before the
    exchange), which is exactly the two-level shape a hand-salted variant
    would produce.
    """
    pairs = (
        doc_triples(docs)
        .groupBy("pred", "subj", "obj")
        .agg(F.count("*").alias("n_evidence"))
    )
    return pairs.groupBy("pred").agg(
        F.count("*").alias("n_pairs"),
        F.sum("n_evidence").cast("long").alias("n_evidence"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    ).select(
        "pred",
        "n_pairs",
        "n_evidence",
        "n_subj",
        "n_obj",
        F.expr("CAST((2000000 * n_subj + n_pairs) DIV (2 * n_pairs) AS BIGINT)").alias(
            "fun_1e6"
        ),
        F.expr("CAST((2000000 * n_obj + n_pairs) DIV (2 * n_pairs) AS BIGINT)").alias(
            "inv_fun_1e6"
        ),
    )


BGP_CARTESIAN_MAX_PAIRS = 1_000_000


def _chain_bgp_leg(out: DataFrame, leg: DataFrame, shared: list[str]) -> DataFrame:
    """Join the next BGP leg onto the accumulated bindings. A leg that
    shares no variable with the bindings so far forces a cartesian
    product of pair VOCABULARIES — semantically required for a
    disconnected pattern, but quadratic in the two vocab sizes, so a
    user-supplied pattern over two hot predicates could blow up. Guard:
    count both sides (vocabulary grain — two cheap scans vs the blow-up
    they prevent; never triggered for connected patterns, which is every
    gated default) and raise loudly when the product exceeds
    ``BGP_CARTESIAN_MAX_PAIRS`` (read at call time so callers/tests can
    tune it)."""
    if shared:
        return out.join(leg, shared)
    n_out, n_leg = out.count(), leg.count()
    if n_out * n_leg > BGP_CARTESIAN_MAX_PAIRS:
        raise ValueError(
            f"disconnected BGP pattern: cartesian product of {n_out} x {n_leg} "
            f"variable-binding vocabularies exceeds BGP_CARTESIAN_MAX_PAIRS="
            f"{BGP_CARTESIAN_MAX_PAIRS}; connect the legs with a shared "
            "variable or raise the cap explicitly"
        )
    return out.crossJoin(leg)


def bgp_match(
    docs: DataFrame, patterns: list[tuple[str, str, str]] | None = None
) -> DataFrame:
    """Basic-graph-pattern matching over the materialized triple store —
    the SPARQL-style "query the KG" operator a constructed graph exists
    to serve. ``patterns`` is a list of (subj_var, pred, obj_var) legs
    sharing variables; the default is the join-merge-scan triangle

        (?x join ?y), (?y merge ?z), (?x scan ?z)

    Output: one row per variable binding (sorted var names as columns)
    plus ``n_witness`` — the number of distinct evidence combinations
    (product of per-leg evidence counts), the support a downstream rule
    miner (AMIE-style) weighs bindings by.

    Plan shape: each leg is pre-aggregated to its DISTINCT (subj, obj,
    n_evidence) pair table BEFORE joining — the joins then run on pair
    vocabularies, never on raw evidence rows, which is what keeps a
    10^12-row evidence table out of the multi-way join. Legs chain
    through hash equi-joins on shared variables (AQE reorders/broadcasts
    by runtime sizes; a hot binding value is ordinary join skew for the
    AQE skew-split). Predicates are pushed down to the triple scan.
    """
    if patterns is None:
        patterns = [("x", "join", "y"), ("y", "merge", "z"), ("x", "scan", "z")]
    triples = triple_counts(docs)
    out = None
    for i, (sv, pred, ov) in enumerate(patterns):
        leg = (
            triples.where(F.col("pred") == pred)
            .groupBy(F.col("subj").alias(sv), F.col("obj").alias(ov))
            .agg(F.sum("n_evidence").cast("long").alias(f"_w{i}"))
        )
        if out is None:
            out = leg
        else:
            shared = [c for c in (sv, ov) if c in out.columns]
            out = _chain_bgp_leg(out, leg, shared)
    vars_ = sorted({v for s, _, o in patterns for v in (s, o)})
    witness = " * ".join(f"_w{i}" for i in range(len(patterns)))
    return out.select(*vars_, F.expr(f"CAST({witness} AS BIGINT)").alias("n_witness"))


def rule_confidence(
    docs: DataFrame,
    body: list[tuple[str, str, str]] | None = None,
    head: tuple[str, str, str] | None = None,
) -> DataFrame:
    """One-row rule-quality stats for a horn rule over the KG — the
    AMIE(-style) measure set (Galárraga et al., WWW 2013) a rule miner
    scores candidate rules with before they feed inference back into
    construction:

      n_body        distinct variable bindings satisfying the body
      n_support     body bindings whose head triple also holds
      conf_1e6      standard confidence: support / body (round-half-up)
      n_pca_body    body bindings whose head-subject has ANY head-pred
                    edge (the partial-completeness assumption denominator
                    — the open-world correction that makes confidence
                    meaningful on an incomplete KG)
      pca_conf_1e6  support / pca_body

    Default rule: (?x join ?y) ∧ (?y merge ?z) ⇒ (?x scan ?z).

    Plan shape: body legs chain as distinct-pair hash equi-joins (the
    bgp_match discipline — vocabularies, never evidence rows); the head
    check and the PCA subject check are left-semi-style joins folded as
    left joins + null flags so one pass computes all four counters in a
    single scalar aggregate. No window, no collect; at web scale every
    join is key-partitioned and AQE-broadcast when a leg is small.
    """
    if body is None:
        body = [("x", "join", "y"), ("y", "merge", "z")]
    if head is None:
        head = ("x", "scan", "z")
    t = doc_triples(docs).select("subj", "pred", "obj")
    out = None
    for sv, pred, ov in body:
        leg = (
            t.where(F.col("pred") == pred)
            .select(F.col("subj").alias(sv), F.col("obj").alias(ov))
            .distinct()
        )
        if out is None:
            out = leg
        else:
            shared = [c for c in (sv, ov) if c in out.columns]
            out = _chain_bgp_leg(out, leg, shared)
    hs, hp, ho = head
    head_pairs = (
        t.where(F.col("pred") == hp)
        .select(F.col("subj").alias(hs), F.col("obj").alias(ho), F.lit(1).alias("_hit"))
        .distinct()
    )
    head_subjs = head_pairs.select(hs).distinct().withColumn("_any", F.lit(1))
    flagged = out.join(head_pairs, [hs, ho], "left").join(head_subjs, [hs], "left")
    # outer coalesce: SUM over zero rows is NULL in both engines — the
    # empty-body rule must report all-zero counters, not nulls
    return flagged.agg(
        F.count("*").alias("n_body"),
        F.coalesce(F.sum(F.coalesce(F.col("_hit"), F.lit(0))), F.lit(0))
        .cast("long")
        .alias("n_support"),
        F.coalesce(F.sum(F.coalesce(F.col("_any"), F.lit(0))), F.lit(0))
        .cast("long")
        .alias("n_pca_body"),
    ).select(
        "n_body",
        "n_support",
        "n_pca_body",
        F.expr(
            "CAST(CASE WHEN n_body = 0 THEN 0 ELSE"
            " (2000000 * n_support + n_body) DIV (2 * n_body) END AS BIGINT)"
        ).alias("conf_1e6"),
        F.expr(
            "CAST(CASE WHEN n_pca_body = 0 THEN 0 ELSE"
            " (2000000 * n_support + n_pca_body) DIV (2 * n_pca_body) END AS BIGINT)"
        ).alias("pca_conf_1e6"),
    )


def rule_inference(
    docs: DataFrame,
    body: list[tuple[str, str, str]] | None = None,
    head: tuple[str, str, str] | None = None,
) -> DataFrame:
    """(subj, pred, obj, n_paths) — NEW head triples implied by body
    matches but absent from the KG: the completion step that closes the
    AMIE loop (``rule_confidence`` scores the rule; this materializes
    what it predicts, the "inference back into construction" step of
    Galárraga et al.). ``n_paths`` counts the distinct body bindings
    supporting each inferred triple — evidence strength downstream
    fusion can consume like any other assertion count.

    Plan shape: body legs join as DISTINCT pairs on shared variables
    (vocabulary grain, never evidence rows — the rule_confidence /
    bgp_match discipline), one head-vars aggregate, then a LEFT ANTI
    join against the existing head-pred pairs. The aggregate and the
    anti join share the (head-subj, head-obj) key, so AQE reuses one
    shuffle partitioning; every leg is broadcastable when small. At
    10^12 docs the distinct leg tables are corpus-sublinear (bounded by
    per-predicate vocab pairs), so the whole inference never touches
    evidence-grain rows.
    """
    if body is None:
        body = [("x", "join", "y"), ("y", "merge", "z")]
    if head is None:
        head = ("x", "scan", "z")
    t = doc_triples(docs).select("subj", "pred", "obj")
    out = None
    for sv, pred, ov in body:
        leg = (
            t.where(F.col("pred") == pred)
            .select(F.col("subj").alias(sv), F.col("obj").alias(ov))
            .distinct()
        )
        if out is None:
            out = leg
        else:
            shared = [c for c in (sv, ov) if c in out.columns]
            out = _chain_bgp_leg(out, leg, shared)
    hs, hp, ho = head
    known = t.where(F.col("pred") == hp).select(
        F.col("subj").alias(hs), F.col("obj").alias(ho)
    )
    return (
        out.groupBy(hs, ho)
        .agg(F.count("*").cast("long").alias("n_paths"))
        .join(known, [hs, ho], "left_anti")
        .select(
            F.col(hs).alias("subj"),
            F.lit(hp).alias("pred"),
            F.col(ho).alias("obj"),
            "n_paths",
        )
    )


def entity_summary(docs: DataFrame, k: int = 3) -> DataFrame:
    """(subj, rk, pred, obj, n_evidence) — the top-``k`` facts per entity
    by evidence weight, ties broken (pred, obj) ascending: the "entity
    card" a KG serving layer materializes (and the summarization baseline
    — FACES/RELIN-style relevance reduces to evidence ranking when no
    user model is present).

    One aggregate + one window partitioned by subj — task size is
    facts-per-entity, never corpus size. A mega-entity with millions of
    distinct facts makes the per-partition top-k sort the hazard;
    rank-over-partition with k small is exactly the shape Spark's
    WindowGroupLimit pushes a partial top-k through map-side, so the
    exchange carries ~k rows per (partition, subj), not the full fact
    list.
    """
    facts = triple_counts(docs)
    win = Window.partitionBy("subj").orderBy(
        F.col("n_evidence").desc(), F.col("pred").asc(), F.col("obj").asc()
    )
    return (
        facts.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= k)
        # row_number is int32 in Spark, int64 in DuckDB — pin the wider
        .select("subj", F.col("rk").cast("long").alias("rk"), "pred", "obj", "n_evidence")
    )


def subsumption_candidates(
    docs: DataFrame, min_conf_1e6: int = 800_000, min_docs: int = 3
) -> DataFrame:
    """(hyper, hypo, c_hyper, c_hypo, c_both, conf_1e6) — statistical
    subsumption (taxonomy-induction) candidates: ``hyper`` subsumes
    ``hypo`` when nearly every document mentioning the hyponym also
    mentions the hypernym (doc-set containment, the distributional
    inclusion hypothesis behind Hearst-style taxonomy mining at corpus
    scale). conf = c_both / c_hypo as an exact round-half-up integer;
    candidates need conf >= ``min_conf_1e6`` and c_hypo >= ``min_docs``
    (singleton support proves nothing), and the trivial self-pair is
    excluded.

    Plan shape: reuses the array-side within-doc pair generation (no
    self-join of the mention table) + one pair count + two broadcast-or-
    shuffled frequency joins — identical skeleton to cooc_lift, so the
    same mega-entity skew notes apply. Containment needs ORDERED pairs;
    pairs are generated a<b, so each unordered pair contributes both
    orientations by symmetry of c_ab.
    """
    from hebrew_ner_spark.operators.graphstats import doc_entity_sets, entity_pairs

    pairs = entity_pairs(docs)
    c_ab = pairs.groupBy("ea", "eb").agg(F.count("*").alias("c_both"))
    freq = (
        doc_entity_sets(docs)
        .select(F.explode("ents").alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("c"))
    )
    both_dirs = c_ab.select(
        F.col("ea").alias("hyper"), F.col("eb").alias("hypo"), "c_both"
    ).unionAll(
        c_ab.select(F.col("eb").alias("hyper"), F.col("ea").alias("hypo"), "c_both")
    )
    return (
        both_dirs.join(
            freq.select(F.col("entity").alias("hyper"), F.col("c").alias("c_hyper")),
            "hyper",
        )
        .join(
            freq.select(F.col("entity").alias("hypo"), F.col("c").alias("c_hypo")),
            "hypo",
        )
        .where(F.col("c_hypo") >= min_docs)
        .select(
            "hyper",
            "hypo",
            "c_hyper",
            "c_hypo",
            "c_both",
            F.expr("CAST((2000000 * c_both + c_hypo) DIV (2 * c_hypo) AS BIGINT)").alias(
                "conf_1e6"
            ),
        )
        .where(F.col("conf_1e6") >= min_conf_1e6)
    )


# Per-extractor precision priors in micro-units (Knowledge-Vault-style
# calibration constants: the adjacency SVO pattern is high-precision, the
# gapped variants and the unlexicalized appos/has_attr patterns lower).
# Deterministic constants — the gate arithmetic is exact at any corpus.
EXTRACTOR_PRIOR_1E6: dict[str, int] = {
    "svo": 900_000,
    "svo_gap_subj": 700_000,
    "svo_gap_obj": 700_000,
    "appos": 500_000,
    "has_attr": 600_000,
}


def extractor_noisy_or(docs: DataFrame) -> DataFrame:
    """(subj, pred, obj, n_patterns, conf_1e6) — Knowledge-Vault-style
    noisy-OR fusion of the five dependency-pattern extractors (Dong et
    al., KDD 2014): a triple's confidence is 1 - prod(1 - p_i) over the
    patterns that extracted it anywhere in the corpus, with fixed
    per-extractor precision priors. The product folds in FIXED-POINT
    micro-units (each step ``(acc * q_i) DIV 1e6``, deterministic
    pattern order), so every intermediate fits int64 and both engines
    truncate identically — no floats, no overflow at any corpus size.

    Plan shape: one (subj, pred, obj) aggregate with per-pattern
    conditional-max flags (map-side combinable — a mega-fact's evidence
    combines inside input partitions), then a codegen CASE cascade.
    Zero joins; skew is the triple_counts salted_agg case.
    """
    t = doc_triples_patterns(docs).select("pattern", "subj", "pred", "obj")
    flags = t.groupBy("subj", "pred", "obj").agg(
        *[
            F.max(F.when(F.col("pattern") == k, 1).otherwise(0)).alias(f"f_{k}")
            for k in EXTRACTOR_PRIOR_1E6
        ]
    )
    acc = None
    for k, prior in EXTRACTOR_PRIOR_1E6.items():
        miss = (
            f"CAST(CASE WHEN f_{k} = 1 THEN {1_000_000 - prior}"
            " ELSE 1000000 END AS BIGINT)"
        )
        acc = miss if acc is None else f"(({acc}) * ({miss})) DIV 1000000"
    n_pat = " + ".join(f"f_{k}" for k in EXTRACTOR_PRIOR_1E6)
    return flags.select(
        "subj",
        "pred",
        "obj",
        F.expr(f"CAST({n_pat} AS BIGINT)").alias("n_patterns"),
        F.expr(f"CAST(1000000 - ({acc}) AS BIGINT)").alias("conf_1e6"),
    )


def pred_paraphrase(docs: DataFrame) -> DataFrame:
    """(pred_a, pred_b, c_a, c_b, c_both, jac_1e6) — DIRT-style predicate
    paraphrase candidates (Lin & Pantel, KDD 2002, specialised to shared
    argument PAIRS): two predicates are paraphrase candidates when their
    distinct (subj, obj) argument-pair sets overlap; jac_1e6 is the exact
    round-half-up Jaccard of the two pair sets in micro-units. Only
    co-occurring pairs are emitted (sparse grain — zero-overlap predicate
    pairs carry no signal and would be |P|^2 rows at web scale).

    Plan shape: one distinct over (pred, subj, obj) — vocabulary grain,
    never evidence rows — then a self equi-join keyed on the argument
    pair with ``pred_a < pred_b`` dedup, one pair-keyed aggregate, and
    two broadcast joins against the per-predicate pair counts (the
    per-pred table is bounded by the predicate vocabulary). A hub
    argument pair asserted under k predicates expands to k(k-1)/2 rows —
    bounded by vocab, not corpus; the join key equals the distinct's
    grouping key so the shuffle partitioning is reused.
    """
    tp = doc_triples(docs).select("pred", "subj", "obj").distinct()
    c = tp.groupBy("pred").agg(F.count("*").cast("long").alias("c"))
    a, b = tp.alias("a"), tp.alias("b")
    both = (
        a.join(
            b,
            (F.col("a.subj") == F.col("b.subj"))
            & (F.col("a.obj") == F.col("b.obj"))
            & (F.col("a.pred") < F.col("b.pred")),
        )
        .groupBy(
            F.col("a.pred").alias("pred_a"), F.col("b.pred").alias("pred_b")
        )
        .agg(F.count("*").cast("long").alias("c_both"))
    )
    return (
        both.join(
            F.broadcast(c.select(F.col("pred").alias("pred_a"), F.col("c").alias("c_a"))),
            "pred_a",
        )
        .join(
            F.broadcast(c.select(F.col("pred").alias("pred_b"), F.col("c").alias("c_b"))),
            "pred_b",
        )
        .select(
            "pred_a",
            "pred_b",
            "c_a",
            "c_b",
            "c_both",
            F.expr(
                "CAST((2000000 * c_both + (c_a + c_b - c_both))"
                " DIV (2 * (c_a + c_b - c_both)) AS BIGINT)"
            ).alias("jac_1e6"),
        )
    )


def entity_nodes(docs: DataFrame) -> DataFrame:
    """(entity, n_mentions, n_docs) node table for graph materialization."""
    labels = doc_token_labels(docs).where(F.col("label") != "O")
    return labels.groupBy(F.col("token").alias("entity")).agg(
        F.count("*").alias("n_mentions"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def triple_validity(pages: DataFrame) -> DataFrame:
    """Temporal scoping of extracted triples across crawl snapshots:
    (subj, pred, obj, first_ms, last_ms, n_sightings, n_pages) — when a
    fact was first and last observed on the web, how many (page,
    snapshot) observations support it, and how many distinct pages. The
    temporal-KG materialization step: downstream consumers use the
    validity interval to age facts out and the sighting count as an
    evidence weight (reference's graph stops at per-run adjacency,
    ner_app.py:196-226 — it has no time axis at all).

    Input: any (url, warc_ts, text) page table (multi-snapshot).

    Scale shape: extraction is the same zero-shuffle codegen'd
    doc_triples transform, keyed by a (url, ms) struct so the snapshot
    identity rides through the explode untouched; then ONE aggregation
    keyed by the triple. min/max/count-distinct all combine map-side
    (the distincts expand to the standard two-round plan); the mega-fact
    skew case is the salted_agg pattern, plugged in exactly as
    typed_edge_counts does when a triple goes viral.
    """
    keyed = pages.select(
        F.struct(
            F.col("url"), F.unix_millis("warc_ts").alias("ms")
        ).alias("pk"),
        "text",
    )
    t = doc_triples(keyed, key="pk")
    return t.groupBy("subj", "pred", "obj").agg(
        F.min("pk.ms").alias("first_ms"),
        F.max("pk.ms").alias("last_ms"),
        F.countDistinct("pk").alias("n_sightings"),
        F.countDistinct("pk.url").alias("n_pages"),
    )


def fact_outliers(docs: DataFrame) -> DataFrame:
    """(pred, subj, n_objects, n_evidence): subjects that assert MORE
    distinct objects than the predicate's corpus mean — the
    constraint-violation / extraction-noise review queue a fusion stage
    consumes. The absolute PARIS rule (flag multi-object subjects on
    predicates with functionality ~1) is vacuous on corpora where no
    predicate is functional, so the production form is relative:
    ``n_objects * n_subj > n_pairs`` (strictly above the predicate's
    mean objects-per-subject, the same scale-free above-mean device as
    the sparsified entity graph — no global sort, no float division).

    Plan shape: the triple-keyed dedup aggregate (shared shape with
    predicate_stats), one (pred, subj) aggregate, then one join against
    the predicate profile — predicates are a small closed set, so the
    profile is broadcast and the join is map-side.
    """
    pairs = (
        doc_triples(docs)
        .groupBy("pred", "subj", "obj")
        .agg(F.count("*").alias("n_ev"))
    )
    per_subj = pairs.groupBy("pred", "subj").agg(
        F.count("*").cast("long").alias("n_objects"),
        F.sum("n_ev").cast("long").alias("n_evidence"),
    )
    profile = pairs.groupBy("pred").agg(
        F.count("*").alias("n_pairs"), F.countDistinct("subj").alias("n_subj")
    )
    return (
        per_subj.join(F.broadcast(profile), "pred")
        .where(F.col("n_objects") * F.col("n_subj") > F.col("n_pairs"))
        .select("pred", "subj", "n_objects", "n_evidence")
    )


def predicate_symmetry(docs: DataFrame) -> DataFrame:
    """(pred, n_pairs, n_sym, sym_1e6): schema induction, symmetry axis —
    the share of a predicate's ordered (subj, obj) pairs whose reverse is
    also asserted (sym ~ 1e6 suggests an undirected relation; ~0 a
    functional/hierarchical one). Complements PARIS functionality
    (predicate_stats) in deciding which predicates may canonicalize
    bidirectionally.

    Plan shape: NO self-join — ordered distinct pairs collapse onto the
    unordered key (pred, least, greatest), where count(*) IS the number
    of directions present (1 or 2); symmetry then folds in a second
    map-side-combined aggregate. Self-loops are excluded (a loop is
    trivially its own reverse). Both aggregates take the salted-agg
    plug-in if a mega-entity skews the pair key.
    """
    p = (
        doc_triples(docs)
        .where(F.col("subj") != F.col("obj"))
        .select("pred", "subj", "obj")
        .distinct()
    )
    u = p.groupBy(
        "pred",
        F.least("subj", "obj").alias("lo"),
        F.greatest("subj", "obj").alias("hi"),
    ).agg(F.count("*").alias("n_dir"))
    return (
        u.groupBy("pred")
        .agg(
            F.sum("n_dir").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("n_dir") == 2, F.lit(2)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_sym"),
        )
        .select(
            "pred",
            "n_pairs",
            "n_sym",
            F.expr(
                "CAST((2 * n_sym * 1000000 + n_pairs) DIV (2 * n_pairs) AS BIGINT)"
            ).alias("sym_1e6"),
        )
    )


def _etype_case(col_name: str) -> str:
    """CASE mapping an entity token to its ontology class (closed
    gazetteer — stays inside whole-stage codegen, no join)."""
    from hebrew_ner_spark.resources import ENTITY_TYPES

    whens = " ".join(
        f"WHEN {col_name} = '{t}' THEN '{ty}'" for t, ty in sorted(ENTITY_TYPES.items())
    )
    return f"CASE {whens} END"


def pred_domains(docs: DataFrame) -> DataFrame:
    """(pred, n_triples, domain_type, domain_share_1e6, range_type,
    range_share_1e6): ontology induction — the dominant subject class
    (rdfs:domain candidate) and object class (rdfs:range candidate) per
    predicate, with exact integer support shares. The schema-learning
    step KG pipelines run after extraction: induced domains become
    validation rules for new triples (a 'join' whose subject is not
    AGENT/DATA is an extraction error candidate).

    Scale shape: typing is a codegen CASE over the closed gazetteer (no
    join); counts aggregate at (pred, type) grain — at most |preds| x
    |types| rows survive the map-side combine regardless of corpus size;
    the argmax is a window over that tiny table; ties break by type name
    so the result is deterministic on both engines.
    """
    t = doc_triples(docs).select(
        "pred",
        F.expr(_etype_case("subj")).alias("stype"),
        F.expr(_etype_case("obj")).alias("otype"),
    )

    def _dominant(type_col: str, out: str) -> DataFrame:
        per = t.groupBy("pred", F.col(type_col).alias(out)).agg(
            F.count("*").cast("long").alias("cnt")
        )
        tot = per.groupBy("pred").agg(F.sum("cnt").alias("n_triples"))
        w = Window.partitionBy("pred").orderBy(F.col("cnt").desc(), F.col(out))
        top = per.withColumn("_r", F.row_number().over(w)).where(F.col("_r") == 1)
        return top.join(tot, "pred").select(
            "pred",
            F.col("n_triples").cast("long").alias("n_triples"),
            out,
            F.expr(
                "CAST((2 * cnt * 1000000 + n_triples) DIV (2 * n_triples) AS BIGINT)"
            ).alias(f"{out[:-5]}_share_1e6" if out.endswith("_type") else f"{out}_share"),
        )

    dom = _dominant("stype", "domain_type")
    rng = _dominant("otype", "range_type").drop("n_triples")
    return dom.join(rng, "pred")


def domain_violations(docs: DataFrame) -> DataFrame:
    """(pred, subj, obj, stype, otype, domain_type, range_type,
    n_evidence, violates_domain, violates_range): extraction-error
    candidates — distinct triples whose subject class differs from the
    predicate's induced rdfs:domain or whose object class differs from
    the induced rdfs:range (only such triples are returned). This is
    what pred_domains is FOR: the induced schema turned into a
    validation rule over the extracted stream; the review queue a KG
    curation team actually triages (the statistical sibling of
    kg_fact_outliers' over-assertion rule).

    Scale shape: triples dedup to (subj, pred, obj) grain with evidence
    counts (one map-side-combinable agg — the predicate_stats shape);
    the induced-domain table is |preds| rows and broadcasts; typing and
    the violation test are codegen CASEs. No extra wide operation beyond
    the one dedup agg.
    """
    t = (
        doc_triples(docs)
        .groupBy("subj", "pred", "obj")
        .agg(F.count("*").cast("long").alias("n_evidence"))
        .withColumn("stype", F.expr(_etype_case("subj")))
        .withColumn("otype", F.expr(_etype_case("obj")))
    )
    induced = pred_domains(docs).select("pred", "domain_type", "range_type")
    return (
        t.join(F.broadcast(induced), "pred")
        .withColumn(
            "violates_domain", (F.col("stype") != F.col("domain_type")).cast("long")
        )
        .withColumn(
            "violates_range", (F.col("otype") != F.col("range_type")).cast("long")
        )
        .where((F.col("violates_domain") == 1) | (F.col("violates_range") == 1))
        .select(
            "pred",
            "subj",
            "obj",
            "stype",
            "otype",
            "domain_type",
            "range_type",
            "n_evidence",
            "violates_domain",
            "violates_range",
        )
    )


FACT_HALF_LIFE_MS = 86_400_000  # one crawl-day per half-life unit


def fact_decay(pages: DataFrame, half_life_ms: int = FACT_HALF_LIFE_MS) -> DataFrame:
    """(subj, pred, obj, n_sightings, last_ms, age_half_lives,
    decayed_1e6): staleness-discounted fact confidence — evidence decays
    by a factor of 2 per elapsed half-life since the fact was last
    sighted, against the deterministic corpus clock (max last_ms over
    the snapshot set; no wall clock, so reruns are bit-identical). The
    freshness prior a temporal KG applies before serving facts whose
    validity interval has gone quiet.

    Binary half-lives make the decay EXACT integer arithmetic
    (``(n * 1e6) DIV (1 << units)``, shift capped at 62) — the same
    reason the mixture sampler fixes alpha at 1/2: the one decay base
    with a bit-reproducible cross-engine form.

    Scale shape: composes triple_validity's single triple-keyed
    aggregate; the corpus clock is a broadcast-folded scalar max and the
    decay itself is one codegen expression — nothing new crosses the
    wire.
    """
    v = triple_validity(pages)
    now = v.agg(F.max("last_ms").alias("_now"))
    return v.crossJoin(F.broadcast(now)).select(
        "subj",
        "pred",
        "obj",
        "n_sightings",
        "last_ms",
        F.expr(f"CAST((_now - last_ms) DIV {int(half_life_ms)} AS BIGINT)").alias(
            "age_half_lives"
        ),
        F.expr(
            f"CAST((n_sightings * 1000000) DIV "
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(least((_now - last_ms) DIV {int(half_life_ms)}, 62) AS INT)) AS BIGINT)"
        ).alias("decayed_1e6"),
    )


SALIENCE_K = 3


def entity_salience(docs: DataFrame, k: int = SALIENCE_K) -> DataFrame:
    """(doc_id, entity, n_mentions, first_pos, rank): the document's
    top-k salient entities — frequency first, earlier first mention as
    the tiebreak (the classic salience heuristic: lead position +
    repetition), entity name as the final deterministic tie.

    This is the doc-side index a KG uses to answer "what is this page
    about" (aboutness links, doc->entity edges with weights); the
    entity-side mirror is entity_summary. Plan: one map-side-combined
    aggregate at (doc, entity) grain + one bounded per-doc ranking
    window (partitions are document-sized — never skewed)."""
    ents = _sql_terms(ENTITY_TERMS)
    per = (
        doc_tokens(docs)
        .where(F.expr(f"array_contains({ents}, token)"))
        .groupBy("doc_id", F.col("token").alias("entity"))
        .agg(
            F.count("*").alias("n_mentions"),
            F.min("word_index").alias("first_pos"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("n_mentions"), F.asc("first_pos"), F.asc("entity")
    )
    return (
        per.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("doc_id", "entity", "n_mentions", "first_pos", "rank")
    )


def triple_provenance(docs: DataFrame) -> DataFrame:
    """(doc_id, word_index, subj, pred, obj, subj_start, pred_start,
    obj_start): SVO triples with exact character offsets into the source
    text — the provenance spans a KG stores alongside each fact (evidence
    display, audit, re-extraction).

    Offsets are derived in-row from the token array (char_start of token
    j = sum of lengths of tokens before j, plus j separators), so the
    substring invariant ``substr(text, start+1, len(tok)) == tok`` holds
    by construction — and is what the pytest pins. Zero shuffles: the
    offset prefix sums ride the same codegen stage as the extraction."""
    start = "j -> aggregate(slice(toks, 1, j), 0L, (a, x) -> a + length(x) + 1)"
    return (
        with_tokens(docs)
        .withColumn("starts", F.expr(f"transform(sequence(0, size(toks) - 1), {start})"))
        .withColumn(
            "tr",
            F.expr(
                f"""
                filter(
                  transform(toks, (t, i) ->
                    CASE WHEN i > 0 AND i < size(toks) - 1
                          AND array_contains({_sql_terms(PREDICATE_TERMS)}, t)
                          AND array_contains({_sql_terms(ENTITY_TERMS)}, toks[i-1])
                          AND array_contains({_sql_terms(ENTITY_TERMS)}, toks[i+1])
                    THEN named_struct(
                      'word_index', bigint(i),
                      'subj', toks[i-1], 'pred', t, 'obj', toks[i+1],
                      'subj_start', element_at(starts, i),
                      'pred_start', element_at(starts, i + 1),
                      'obj_start', element_at(starts, i + 2))
                    ELSE NULL END),
                  x -> x IS NOT NULL)
                """
            ),
        )
        .select("doc_id", F.explode("tr").alias("t"))
        .select(
            "doc_id",
            "t.word_index",
            "t.subj",
            "t.pred",
            "t.obj",
            "t.subj_start",
            "t.pred_start",
            "t.obj_start",
        )
    )


def bgp_match_optional(
    docs: DataFrame,
    pattern: tuple[str, str, str] = ("x", "join", "y"),
    optional: tuple[str, str, str] = ("y", "merge", "z"),
) -> DataFrame:
    """SPARQL OPTIONAL semantics over the triple store: the required leg
    binds, the optional leg left-joins — bindings without an optional
    match survive with the sentinel ``''`` and zero optional evidence
    (SQL NULL never crosses the gate). Multiple optional matches fan out
    to multiple rows, exactly as SPARQL does.

    Plan: both legs pre-aggregate to DISTINCT pair tables (the bgp_match
    contract — joins run on pair vocabularies, never raw evidence), then
    one left equi-join on the shared variable. Predicate filters push to
    the triple scan."""
    sv, p, ov = pattern
    osv, op, oov = optional
    triples = triple_counts(docs)
    req = (
        triples.where(F.col("pred") == p)
        .groupBy(F.col("subj").alias(sv), F.col("obj").alias(ov))
        .agg(F.sum("n_evidence").cast("long").alias("n_witness"))
    )
    opt = (
        triples.where(F.col("pred") == op)
        .groupBy(F.col("subj").alias(osv), F.col("obj").alias(oov))
        .agg(F.sum("n_evidence").cast("long").alias("_ow"))
    )
    shared = [c for c in (osv, oov) if c in (sv, ov)]
    out = req.join(opt, shared, "left")
    vars_ = sorted({sv, ov, osv, oov})
    return out.select(
        *[
            F.coalesce(F.col(v), F.lit("")).alias(v) if v not in (sv, ov) else v
            for v in vars_
        ],
        "n_witness",
        F.coalesce(F.col("_ow"), F.lit(0)).cast("long").alias("n_opt"),
    )


def type_closure(spark) -> DataFrame:
    """(sub, super, dist): transitive rdfs:subClassOf closure of the
    declared hierarchy, computed by iterative doubling (closure ∪
    closure⋈closure until fixpoint) — the generic distributed closure;
    on the declared 5-edge hierarchy it converges in 2 rounds, and the
    SAME code handles a mined million-class taxonomy (each round is one
    self-join + distinct, O(log depth) rounds total)."""
    from hebrew_ner_spark.resources import TYPE_HIERARCHY

    clos = spark.createDataFrame(
        [(a, b, 1) for a, b in sorted(TYPE_HIERARCHY.items())],
        "sub string, super string, dist int",
    )
    while True:
        n_prev = clos.count()
        step = (
            clos.alias("l")
            .join(clos.alias("r"), F.col("l.super") == F.col("r.sub"))
            .select(
                F.col("l.sub").alias("sub"),
                F.col("r.super").alias("super"),
                (F.col("l.dist") + F.col("r.dist")).alias("dist"),
            )
        )
        clos = (
            clos.unionByName(step)
            .groupBy("sub", "super")
            .agg(F.min("dist").cast("int").alias("dist"))
        )
        n_now = clos.count()
        if n_now == n_prev:
            return clos.select("sub", "super", F.col("dist").cast("long").alias("dist"))


def rdfs_entity_types(docs: DataFrame) -> DataFrame:
    """(entity, typ, depth, n_mentions): the rdfs9 entailment
    materialized over the extracted mention stream — every entity
    carries its direct class (depth 0) plus every inherited superclass
    (depth = subClassOf hops), weighted by corpus mention count.

    Plan: one map-side-combined mention count per entity, the direct
    class attached by the in-codegen gazetteer CASE, then one broadcast
    join against the (tiny, closed) subclass closure — at 10^12 rows the
    closure of even a huge taxonomy stays MBs, so inference is one
    broadcast fan-out, no corpus re-shuffle."""
    ents = _sql_terms(ENTITY_TERMS)
    counts = (
        doc_tokens(docs)
        .where(F.expr(f"array_contains({ents}, token)"))
        .groupBy(F.col("token").alias("entity"))
        .agg(F.count("*").alias("n_mentions"))
        .withColumn("dtype", F.expr(_etype_case("entity")))
    )
    clos = type_closure(docs.sparkSession)
    direct = counts.select(
        "entity",
        F.col("dtype").alias("typ"),
        F.lit(0).cast("long").alias("depth"),
        "n_mentions",
    )
    inherited = counts.join(
        F.broadcast(clos), counts.dtype == clos.sub
    ).select(
        "entity",
        F.col("super").alias("typ"),
        F.col("dist").alias("depth"),
        "n_mentions",
    )
    return direct.unionByName(inherited)


# Functional-conflict review queue: thresholds + planted-fact residues.
FUN_CONFLICT_MIN_1E6 = 500_000  # predicate must be at least half-functional
FUN_SUBJ_SPAN = 20   # planted: one subject per 20 docs
FUN_CITY_MOD = 7     # planted: consistent object id
FUN_CONFLICT_MOD = 13  # planted: docs injecting a conflicting object


def synth_functional_facts(docs: DataFrame) -> DataFrame:
    """(pred, subj, obj, n_evidence): planted fact table with one
    near-functional predicate ('born_in': each subject consistent except
    where a doc_id % FUN_CONFLICT_MOD witness asserts an _alt object)
    and one non-functional control ('visited': objects cycle per doc) —
    deterministic from doc_id, the planted-evidence precedent."""
    subj = F.concat(F.lit("p"), (F.col("doc_id") / FUN_SUBJ_SPAN).cast("long").cast("string"))
    born = docs.select(
        F.lit("born_in").alias("pred"),
        subj.alias("subj"),
        F.when(
            F.col("doc_id") % FUN_CONFLICT_MOD == 0,
            F.concat(
                F.lit("city_alt"),
                (((F.col("doc_id") / FUN_SUBJ_SPAN).cast("long")) % FUN_CITY_MOD).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("city"),
                (((F.col("doc_id") / FUN_SUBJ_SPAN).cast("long")) % FUN_CITY_MOD).cast("string"),
            )
        )
        .alias("obj"),
    )
    visited = docs.select(
        F.lit("visited").alias("pred"),
        subj.alias("subj"),
        F.concat(F.lit("city"), (F.col("doc_id") % 5).cast("string")).alias("obj"),
    )
    return (
        born.unionByName(visited)
        .groupBy("pred", "subj", "obj")
        .agg(F.count("*").cast("long").alias("n_evidence"))
    )


def functional_conflicts(
    facts: DataFrame, fun_threshold_1e6: int = FUN_CONFLICT_MIN_1E6
) -> DataFrame:
    """(pred, subj, n_obj, keep_obj, n_keep, n_total): the conflicting-
    fact review queue — for predicates the corpus itself shows to be
    key-like (PARIS functionality >= threshold, computed over the SAME
    fact table), subjects asserting more than one object are conflicts;
    the keeper is (evidence DESC, obj ASC), the rest is review mass.

    ``facts`` is fact grain (pred, subj, obj, n_evidence). Plan: one
    pred-keyed functionality aggregate (predicates are a closed small
    set — the broadcast side), one (pred, subj)-keyed aggregate with a
    min(struct) keeper fold; no window, no self-join. A mega-subject is
    aggregation skew on (pred, subj) — salted_agg plugs in as with
    triple_counts."""
    stats = (
        facts.groupBy("pred")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("subj").alias("n_subj"),
        )
        .where(
            F.expr(
                f"(2000000 * n_subj + n_pairs) DIV (2 * n_pairs) >= {fun_threshold_1e6}"
            )
        )
        .select("pred")
    )
    return (
        facts.join(F.broadcast(stats), "pred")
        .groupBy("pred", "subj")
        .agg(
            F.count("*").cast("long").alias("n_obj"),
            F.min(
                F.struct(
                    (-F.col("n_evidence")).alias("_neg"), F.col("obj").alias("obj")
                )
            ).alias("_k"),
            F.sum("n_evidence").cast("long").alias("n_total"),
        )
        .where(F.col("n_obj") > 1)
        .select(
            "pred",
            "subj",
            "n_obj",
            F.col("_k.obj").alias("keep_obj"),
            (-F.col("_k._neg")).cast("long").alias("n_keep"),
            "n_total",
        )
    )


# ---------------------------------------------------------------------------
# Temporal fact validity intervals (SCD-2 over crawl snapshots)
# ---------------------------------------------------------------------------

SNAPSHOT_VERSIONS = 4


def synth_fact_snapshots(docs: DataFrame) -> DataFrame:
    """(v, subj, pred, obj) — DISTINCT fact presence per crawl snapshot.

    Deterministic snapshot membership so oracles replay it closed-form
    (the planting idiom shared with graph_diff / functional_conflicts):
    crawl ``v`` contains document ``d`` iff ``(d + v) % 3 != 0`` — every
    doc drops out of exactly one or two of the 4 crawls, so facts with a
    single asserting doc exhibit PRESENCE GAPS (doc d≡1 mod 3 is in
    crawls {0,1,3}; d≡2 in {0,2,3}) while multi-doc facts whose doc set
    covers the gaps stay continuously valid — both interval shapes exist
    at every scale factor.

    The extraction runs ONCE (the zero-shuffle doc_triples stage); the
    per-crawl axis is a 4-way `explode(sequence(...))` over the already
    doc-deduped fact rows, never a re-scan per crawl. One shuffle total:
    the (fact, v) DISTINCT.
    """
    per_doc = (
        doc_triples(docs)
        .select("doc_id", "subj", "pred", "obj")
        .dropDuplicates(["doc_id", "subj", "pred", "obj"])
    )
    v = F.explode(F.sequence(F.lit(0), F.lit(SNAPSHOT_VERSIONS - 1))).alias("v")
    return (
        per_doc.select("doc_id", "subj", "pred", "obj", v)
        .where((F.col("doc_id") + F.col("v")) % 3 != 0)
        .select(F.col("v").cast("long").alias("v"), "subj", "pred", "obj")
        .distinct()
    )


def fact_intervals(
    snap_facts: DataFrame, n_versions: int = SNAPSHOT_VERSIONS
) -> DataFrame:
    """(subj, pred, obj, v_from, v_to, n_snaps, is_current) — SCD-2
    validity intervals per fact from its per-crawl presence set.

    The reference's single-request pipeline (ner_app.py:125-194) has no
    time axis; a 10^12-page KG build over repeated Common-Crawl snapshots
    does, and the canonical history representation is the slowly-changing-
    dimension type-2 interval: maximal runs of consecutive crawls in which
    the fact was asserted (YAGO2's occursSince/occursUntil grain). Facts
    that vanish and re-appear get multiple rows; ``is_current`` (BIGINT
    0/1 — output contract bans booleans) marks intervals open at the
    newest crawl, i.e. the live fact set.

    Gaps-and-islands: island id = v - row_number() over the per-fact
    version order (consecutive versions share it), then min/max/count per
    (fact, island). Scale shape: the window shuffles once on the fact key
    with per-fact groups bounded by the crawl count (~100 in production —
    no skew possible regardless of fact popularity); the follow-up groupBy
    adds (island) to the same leading keys, so partial aggregation
    collapses each group map-side and the second exchange moves one row
    per interval. No joins, no driver state.
    """
    w = Window.partitionBy("subj", "pred", "obj").orderBy("v")
    islands = snap_facts.withColumn(
        "_island", F.col("v") - F.row_number().over(w)
    )
    return (
        islands.groupBy("subj", "pred", "obj", "_island")
        .agg(
            F.min("v").alias("v_from"),
            F.max("v").alias("v_to"),
            F.count("*").cast("long").alias("n_snaps"),
        )
        .select(
            "subj",
            "pred",
            "obj",
            "v_from",
            "v_to",
            "n_snaps",
            F.when(F.col("v_to") == n_versions - 1, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_current"),
        )
    )


def facts_asof(snap_facts: DataFrame, at_version: int) -> DataFrame:
    """(subj, pred, obj, v_from, v_to) — the KG as of crawl
    ``at_version``: the validity interval (fact_intervals) covering it.

    The SCD-2 point-in-time read every downstream consumer of a
    versioned KG issues ("what did we believe at crawl 2?"): one
    interval-containment filter over the gaps-and-islands output.
    Because intervals per fact are disjoint by construction, at most
    one row per fact survives — no dedup needed. The filter is a
    codegen predicate evaluated AFTER the interval aggregate, but
    Catalyst pushes nothing here by design: intervals are the
    materialized asset (built once, queried per-version many times),
    so in production this reads the interval table, not the snapshots.
    """
    return (
        fact_intervals(snap_facts)
        .where(
            (F.col("v_from") <= F.lit(at_version))
            & (F.col("v_to") >= F.lit(at_version))
        )
        .select("subj", "pred", "obj", "v_from", "v_to")
    )


# ---------------------------------------------------------------------------
# Deletion propagation (right-to-be-forgotten tombstones)
# ---------------------------------------------------------------------------


def retract_on_delete(docs: DataFrame) -> DataFrame:
    """(subj, pred, obj, n_before, n_after, retracted) — per-fact
    evidence counts before/after honoring deletion requests, with
    ``retracted`` (BIGINT 0/1) marking facts whose EVERY asserting
    document is deleted.

    A web-scale KG must propagate source deletions (GDPR / takedown):
    dropping the page is not enough — derived facts whose only
    provenance is deleted pages must be retracted, while facts with
    surviving independent evidence stay (with their support counts
    corrected). The deletion set is planted deterministically
    (doc_id % 23 == 0) so oracles replay it; in production it is a
    broadcast- or bucket-joined tombstone table keyed by url.

    Scale shape: extraction runs once (zero-shuffle doc_triples), the
    deleted flag is a map-side codegen predicate, and the whole
    decision is ONE fact-keyed aggregate with map-side partial sums —
    no joins, no second pass over the corpus. The output is exactly
    the delta a maintenance job applies to the materialized edge
    table (retracted -> delete, else overwrite support).
    """
    per_doc = (
        doc_triples(docs)
        .select("doc_id", "subj", "pred", "obj")
        .dropDuplicates(["doc_id", "subj", "pred", "obj"])
        .withColumn(
            "_kept",
            F.when(F.col("doc_id") % 23 == 0, F.lit(0)).otherwise(F.lit(1)),
        )
    )
    return per_doc.groupBy("subj", "pred", "obj").agg(
        F.count("*").cast("long").alias("n_before"),
        F.sum("_kept").cast("long").alias("n_after"),
        F.when(F.sum("_kept") == 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("retracted"),
    )


def fact_intervals_delta(
    prev_intervals: DataFrame, new_facts: DataFrame, new_version: int
) -> DataFrame:
    """The SCD-2 interval table after folding ONE new crawl in, without
    re-scanning history — the maintenance mode a 100-crawl corpus must
    run in (recomputing intervals from all crawls every time is a full
    history scan per ingest).

    Merge rule (exact, by the gaps-and-islands definition):
    * a fact asserted at ``new_version`` whose previous interval ends at
      ``new_version - 1`` EXTENDS it (v_to := new_version, n_snaps + 1);
    * a fact asserted at ``new_version`` with no such open interval
      OPENS a new one [v, v] (brand-new fact, or re-appearing after a
      gap — the old closed intervals pass through untouched);
    * every other interval is unchanged; ``is_current`` is recomputed
      against the new horizon everywhere.

    One full-outer join keyed by (fact) between the OPEN intervals
    (v_to = new_version - 1 — a small slice of the table) and the new
    crawl's fact set, plus a union of the untouched rows: delta-sized
    work, history never re-read. The gate proves incremental == the
    full recompute (the DuckDB oracle recomputes from scratch — two
    opposite constructions).
    """
    key = ["subj", "pred", "obj"]
    open_prev = prev_intervals.where(F.col("v_to") == new_version - 1)
    closed_prev = prev_intervals.where(F.col("v_to") != new_version - 1).select(
        *key,
        "v_from",
        "v_to",
        "n_snaps",
        F.lit(0).cast("long").alias("is_current"),
    )
    nf = new_facts.select(*key).distinct().withColumn("_new", F.lit(1))
    merged = open_prev.join(nf, key, "full_outer").select(
        *key,
        F.coalesce("v_from", F.lit(new_version)).cast("long").alias("v_from"),
        F.when(F.col("_new").isNotNull(), F.lit(new_version))
        .otherwise(F.col("v_to"))
        .cast("long")
        .alias("v_to"),
        (
            F.coalesce("n_snaps", F.lit(0))
            + F.when(F.col("_new").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_snaps"),
        F.when(F.col("_new").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_current"),
    )
    return merged.unionByName(closed_prev)


def subclass_cycles(docs: DataFrame) -> DataFrame:
    """(entity, cycle_id, cycle_size) — entities caught in subsumption
    CYCLES: members of strongly connected components of size > 1 in the
    induced hypo -> hyper graph.

    A taxonomy must be a DAG; statistical subsumption mining
    (subsumption_candidates) emits a cycle whenever two terms' document
    sets mutually contain each other (near-synonyms, or entities that
    only ever co-occur) — applying the closure over such edges would
    collapse the ontology (every cycle member inherits everything). The
    audit runs the distributed SCC machinery (operators/scc.py: forward
    min-coloring with pointer jumps + same-color backward mark, peeled)
    over the candidate edges and reports non-singleton components — the
    review queue an ontology induction pipeline must drain before
    publishing. Edge table is vocabulary-grain (pairs of entity TYPES,
    not mentions), so the iteration cost is independent of corpus size.
    """
    from hebrew_ner_spark.operators.scc import scc_components

    edges = subsumption_candidates(docs).select(
        F.col("hypo").alias("src"), F.col("hyper").alias("dst")
    )
    return (
        scc_components(edges)
        .where(F.col("scc_size") > 1)
        .select(
            F.col("host").alias("entity"),
            F.col("scc_id").alias("cycle_id"),
            F.col("scc_size").alias("cycle_size"),
        )
    )


OVERLAP_BIN_W = 2  # version-axis bin width for the overlap equi-join


def interval_overlap_join(
    intervals: DataFrame, windows: DataFrame, bin_w: int = OVERLAP_BIN_W
) -> DataFrame:
    """(w_id, subj, pred, obj, v_from, v_to, ov_from, ov_to, ov_len) —
    every (validity interval, query window) pair that overlaps, with the
    exact overlap span. The temporal question a versioned KG serves
    constantly: "which facts were believed at any point during window
    W?" — an INTERVAL OVERLAP join, not the as-of point lookup
    (facts_asof) and not an equi-join.

    Spark has no native range join, and the naive theta-join is a
    broadcast-nested-loop (quadratic at 10^12 facts). Scale shape: bin
    the time axis at width ``bin_w``; each interval and each window
    explodes to the bins it touches; overlapping pairs meet in a plain
    shuffled EQUI-join on the bin key. Two overlapping spans always
    share the bin containing max(v_from, w_from), so emitting a pair
    ONLY from that bin (``bin == greatest(v_from, w_from) DIV bin_w``)
    yields each pair exactly once — no distinct pass, no dedup shuffle.
    Fan-out is span_len/bin_w per row (bounded: validity spans are
    bounded by the crawl count); a hot bin is just a bigger join
    partition, which AQE skew-split handles. The exact inequality
    predicate is re-checked post-join, so bin width only affects cost,
    never results.
    """
    ib = intervals.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.expr(f"v_from DIV {bin_w}"), F.expr(f"v_to DIV {bin_w}")
            )
        ),
    )
    wb = windows.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.expr(f"w_from DIV {bin_w}"), F.expr(f"w_to DIV {bin_w}")
            )
        ),
    )
    return (
        ib.join(wb, "bin")
        .where(
            (F.col("v_from") <= F.col("w_to"))
            & (F.col("w_from") <= F.col("v_to"))
            & (F.col("bin") == F.expr(f"greatest(v_from, w_from) DIV {bin_w}"))
        )
        .select(
            "w_id",
            "subj",
            "pred",
            "obj",
            "v_from",
            "v_to",
            F.greatest("v_from", "w_from").cast("long").alias("ov_from"),
            F.least("v_to", "w_to").cast("long").alias("ov_to"),
            (
                F.least("v_to", "w_to") - F.greatest("v_from", "w_from") + 1
            )
            .cast("long")
            .alias("ov_len"),
        )
    )


# ---------------------------------------------------------------------------
# KB-completeness estimation (capture-recapture)
# ---------------------------------------------------------------------------
#
# How many facts does the corpus HOLD that extraction hasn't seen yet?
# The KB-completeness literature answers with capture-recapture: treat
# two disjoint corpus slices as independent captures of the same
# underlying fact population; the overlap calibrates the estimate
# N-hat = n1*n2/m (Lincoln-Petersen) / Chapman's bias-corrected
# (n1+1)(n2+1)/(m+1) - 1. Estimates ABOVE the observed distinct count
# signal unseen mass (heterogeneous catchability inflates them — worth
# reporting, which is why the observed truth rides in the same row).
# Facts partition by predicate, so the '<all>' row is the exact sum of
# the per-predicate rows and both grains share one plan.

CAPTURE_ALL = "<all>"


def completeness_capture(docs: DataFrame) -> DataFrame:
    """(pred, n1, n2, n_both, n_observed, est_lp, est_chapman) — one row
    per predicate plus the '<all>' total. Capture 1 = distinct facts in
    even doc_ids, capture 2 = odd; n_both their overlap; est_lp = 0
    when the overlap is empty (no information). All half-up integers.

    Plan: the triple extraction's zero-shuffle chain, two distinct
    aggregates + one equi-join at fact grain (skew-free keys), then
    predicate-grain aggregates — metadata-sized output."""
    t = doc_triples(docs).select("doc_id", "subj", "pred", "obj")
    a = t.where(F.col("doc_id") % 2 == 0).select("subj", "pred", "obj").distinct()
    b = t.where(F.col("doc_id") % 2 == 1).select("subj", "pred", "obj").distinct()
    n1 = a.groupBy("pred").agg(F.count("*").cast("long").alias("n1"))
    n2 = b.groupBy("pred").agg(F.count("*").cast("long").alias("n2"))
    m = (
        a.join(b, ["subj", "pred", "obj"])
        .groupBy("pred")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    obs = (
        t.select("subj", "pred", "obj").distinct()
        .groupBy("pred")
        .agg(F.count("*").cast("long").alias("n_observed"))
    )
    per = (
        obs.join(n1, "pred", "left")
        .join(n2, "pred", "left")
        .join(m, "pred", "left")
        .select(
            "pred",
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("n1", "n2", "n_both")
            ],
            "n_observed",
        )
    )
    allr = per.agg(
        F.lit(CAPTURE_ALL).alias("pred"),
        F.sum("n1").cast("long").alias("n1"),
        F.sum("n2").cast("long").alias("n2"),
        F.sum("n_both").cast("long").alias("n_both"),
        F.sum("n_observed").cast("long").alias("n_observed"),
    )
    est = [
        F.expr(
            "CASE WHEN n_both = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST((2 * n1 * n2 + n_both) DIV (2 * n_both) AS BIGINT) END"
        ).alias("est_lp"),
        F.expr(
            "CAST((2 * (n1 + 1) * (n2 + 1) + (n_both + 1))"
            " DIV (2 * (n_both + 1)) - 1 AS BIGINT)"
        ).alias("est_chapman"),
    ]
    return per.unionByName(allr).select(
        "pred", "n1", "n2", "n_both", "n_observed", *est
    )
