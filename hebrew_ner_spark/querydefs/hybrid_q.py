"""The reference's flagship hybrid lifecycle (SURVEY.md §3.2) end-to-end.

    tokens -> multi-tag mention labels        (M9 / J2+A4 merge)
           -> splitting evidence              (P11)
           -> ambiguous lattice               (S14 analog)
           -> DFS prune by splitting          (G1-G3)
           -> disambiguated morphemes (MD)    (md_to_origins analog)
           -> morpheme-level labels           (join J2)
           -> '^'-merge + validate-to-single  (A4 + P10)

The end-to-end invariant — the same one the reference's parametrized
golden corpus asserts for its hybrid model (ner_app_test.py:51-81) —
is that the hybrid path reproduces the token-level labels exactly.
The oracle is therefore the direct window-based labeller: every stage
in between (lattice DFS included) must be collectively lossless.

Two registered plans share the oracle:

* ``hybrid_pipeline`` — the FUSED plan. Every stage above is
  per-token row-local, and a token's output is a pure function of its
  (token, label): the lattice is per token and the morph refinement per
  label. So the chain compiles to a single zero-exchange pass with one
  Python boundary: scan -> codegen -> prune_merge_validate. The JVM
  side ships one row per document with its tokens and BIOSE labels as
  arrays; the doc-grain ``mapInArrow`` kernel (operators/lattice.py)
  resolves each distinct (token, label) of a batch once — lattice,
  refinement, DFS prune, '^'-merge, validation — and takes the results
  back to token order. The staged plan paid 6 shuffles at 100M-row
  grain for data that never needed to move (fusing them took the 1M-doc
  chain from ~212 s to single-digit seconds), and per-token rows built
  in the JVM would only be shipped to Python.
* ``hybrid_pipeline_staged`` — the operator-by-operator composition
  (morph_labels -> merge -> splitting -> build_lattice -> prune_lattice
  -> md_from_pruned -> join -> merge -> validate), kept registered so
  the generic operators' join/aggregate paths stay gated end-to-end and
  the fused plan has an in-repo semantic cross-check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hebrew_ner_spark.operators import kg, labels, lattice
from hebrew_ner_spark.registry import query
from hebrew_ner_spark.resources import ENTITY_TERMS
from hebrew_ner_spark.sources.catalog import load_table

_ENTS_SQL = "(" + ", ".join(f"'{t}'" for t in ENTITY_TERMS) + ")"

_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS word_index,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    lbl AS (
      SELECT doc_id, word_index, token,
             token IN {_ENTS_SQL} AS is_ent,
             coalesce(lag(token)  OVER w IN {_ENTS_SQL}, FALSE) AS prev_ent,
             coalesce(lead(token) OVER w IN {_ENTS_SQL}, FALSE) AS next_ent
      FROM toks
      WINDOW w AS (PARTITION BY doc_id ORDER BY word_index)
    )
    SELECT doc_id, word_index,
           CASE WHEN NOT is_ent THEN 'O'
                WHEN NOT prev_ent AND NOT next_ent THEN 'S-TERM'
                WHEN NOT prev_ent THEN 'B-TERM'
                WHEN NOT next_ent THEN 'E-TERM'
                ELSE 'I-TERM' END AS label
    FROM lbl
    """


@query("hybrid_pipeline", oracle=_ORACLE)
def hybrid_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")

    # 1: token BIOSE labels, one row per document (array-side codegen,
    # zero shuffle)
    # 2-7: per distinct (token, label) of each Arrow batch: morph
    # refinement (= the '^'-merge evidence and the splitting count),
    # ambiguous lattice, DFS prune, ordered '^'-merge and multi->single
    # validation (P10) — in one doc-grain Arrow kernel, the only Python
    # in the plan
    return lattice.prune_merge_validate(kg.doc_label_arrays(docs))


@query("hybrid_pipeline_staged", oracle=_ORACLE)
def hybrid_pipeline_staged(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")

    # 1-2: morph-refined mention labels, merged per token with '^'
    mlabels = labels.morph_labels(docs)
    multi = labels.merge_morph_to_token(mlabels)

    # 3: splitting evidence from the multi labels (P11)
    split_df = labels.splitting(multi)

    # 4-5: ambiguous lattice pruned by the NER evidence -> MD morphemes
    pruned = lattice.prune_lattice(lattice.build_lattice(docs), split_df)
    md = lattice.md_from_pruned(pruned)

    # 6: label the disambiguated morphemes (the morph model stand-in).
    # mlabels is CORPUS-grain (morpheme rows) — merge-hint the join so
    # the planner never gambles a broadcast on compression-skewed scan
    # stats (measured driver OOM at a 1M-doc replicated corpus; the
    # prune_lattice join carries the same note)
    md_labelled = md.join(
        mlabels.select("doc_id", "word_index", "morph_index", "mlabel").hint(
            "merge"
        ),
        ["doc_id", "word_index", "morph_index"],
    )

    # 7: origins merge (A4) + multi->single validation (P10)
    merged = (
        md_labelled.groupBy("doc_id", "word_index")
        .agg(
            F.expr(
                "concat_ws('^', array_sort(collect_list(struct(morph_index, mlabel))).mlabel)"
            ).alias("multi_label")
        )
    )
    return merged.select(
        "doc_id",
        "word_index",
        labels.validate_multi_udf("multi_label").alias("label"),
    )
