"""The fused hybrid plan must be row-identical to the staged operator
composition — the reference's own hybrid==direct golden
(ner_app_test.py:51-81) extended to cover the fusion — plus plan-shape
assertions that the fusion is zero-exchange with one Python boundary,
hand-built checks of the doc-grain and edge-grain kernels, and parity of
the kernel's Python lattice and refinement with their JVM forms."""

from contextlib import contextmanager

from pyspark.sql import functions as F

from hebrew_ner_spark.functions.labels import refine_token_label, validate_multi_to_single
from hebrew_ner_spark.operators.labels import refined_label_array_expr
from hebrew_ner_spark.operators.lattice import (
    _token_lattice,
    build_lattice,
    prune_edge_group,
    prune_merge_labels,
    prune_merge_validate,
)
from hebrew_ner_spark.resources import MORPH_SPLITS
from hebrew_ner_spark.querydefs.hybrid_q import (
    hybrid_pipeline,
    hybrid_pipeline_staged,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_fused_equals_staged(spark, sf_dir):
    fused = hybrid_pipeline(spark, sf_dir)
    staged = hybrid_pipeline_staged(spark, sf_dir)
    assert fused.columns == staged.columns
    assert _rows(fused) == _rows(staged)


def test_fused_equals_staged_with_tiny_arrow_batches(spark, sf_dir):
    # 3-token batches: almost every batch boundary falls inside a
    # document, so nothing may depend on a document fitting one batch
    want = _rows(hybrid_pipeline_staged(spark, sf_dir))
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "3"):
        got = _rows(hybrid_pipeline(spark, sf_dir))
    assert got == want


def _plan(spark, sf_dir):
    return hybrid_pipeline(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_fused_plan_has_no_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir)
    assert "Exchange" not in plan, plan


def test_fused_plan_has_one_python_node(spark, sf_dir):
    plan = _plan(spark, sf_dir)
    assert plan.count("MapInArrow") == 1, plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


# (doc_id, toks, labels): one row per document
_DOCS = [
    # a split token labelled S, B, I, E and O between plain tokens, plus
    # an empty-string token
    (1, ["data", "customer", "x", "", "window"], ["S-TERM", "S-TERM", "O", "O", "B-TERM"]),
    (2, ["order", "order", "order"], ["B-TERM", "I-TERM", "E-TERM"]),
    # a null-array document emits nothing
    (3, None, None),
    (4, ["stream", "plain"], ["O", "E-TERM"]),
]
_DOC_SCHEMA = "doc_id long, toks array<string>, labels array<string>"


def _expected_doc_labels():
    """Per token, the kernel's contract spelled out edge by edge: lattice,
    refined morpheme labels on the chain edges, DFS prune, '^'-merge of
    the surviving labelled edges, validation."""
    out = []
    for doc, toks, labs in _DOCS:
        for wi, (tok, lab) in enumerate(zip(toks or [], labs or [])):
            lat = _token_lattice(tok)
            mlabels = refine_token_label(lab, len(MORPH_SPLITS.get(tok, [tok])))
            edges = [(f, t) for _, f, t, _ in lat]
            valid = prune_edge_group(edges, len(mlabels), fallback=True)
            kept = [
                mlabels[o] for o, f, t, _ in lat if (f, t) in valid and o < len(mlabels)
            ]
            if kept:
                out.append((doc, wi, validate_multi_to_single("^".join(kept))[0]))
    return sorted(out)


# edge-grain input, as (doc_id, word_index, splitting, fv, tv, ml): one
# token's lattice per row, exploded to edge rows in the test
_TOKENS = [
    # 1-edge token
    (1, 0, 1, [0], [1], ["O"]),
    # 2-morpheme chain 0->1->2 plus whole-token shortcut 0->2: splitting
    # 2 keeps the chain, whose labels merge to one S label
    (1, 1, 2, [0, 1, 0], [1, 2, 2], ["B-TERM", "E-TERM", None]),
    # same lattice, splitting 1: only the unlabelled shortcut survives,
    # so the token emits nothing
    (1, 2, 1, [0, 1, 0], [1, 2, 2], ["B-TERM", "E-TERM", None]),
    # splitting 3: no length-4 path, the ±1 fallback keeps the chain
    (1, 3, 3, [0, 1, 0], [1, 2, 2], ["I-TERM", "E-TERM", None]),
    # 1-edge token with splitting != 1 keeps its edge (keep-all)
    (2, 0, 2, [0], [1], ["B-TERM"]),
    (2, 1, 2, [0, 1, 0], [1, 2, 2], ["B-TERM", "I-TERM", None]),
]
_TOKEN_SCHEMA = (
    "doc_id long, word_index long, splitting long,"
    " fv array<long>, tv array<long>, ml array<string>"
)


def _expected_multi():
    out = []
    for doc, wi, split, fv, tv, ml in _TOKENS:
        edges = list(zip(fv, tv))
        valid = prune_edge_group(edges, split, fallback=True)
        kept = [m for e, m in zip(edges, ml) if e in valid and m is not None]
        if kept:
            out.append((doc, wi, "^".join(kept)))
    return out


def test_prune_merge_validate_hand_built_tokens(spark):
    want = _expected_doc_labels()
    assert want == [
        (1, 0, "S-TERM"), (1, 1, "S-TERM"), (1, 2, "O"), (1, 3, "O"), (1, 4, "B-TERM"),
        (2, 0, "B-TERM"), (2, 1, "I-TERM"), (2, 2, "E-TERM"),
        (4, 0, "O"), (4, 1, "E-TERM"),
    ]

    docs = spark.createDataFrame(_DOCS, _DOC_SCHEMA).coalesce(1)
    for batch in ("1", "2"):
        with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", batch):
            assert _rows(prune_merge_validate(docs)) == want, batch

    # the edge-grain entry point shares the prune-and-join core
    want_multi = _expected_multi()
    assert [(d, w) for d, w, _ in want_multi] == [(1, 0), (1, 1), (1, 3), (2, 0), (2, 1)]
    tokens = spark.createDataFrame(_TOKENS, _TOKEN_SCHEMA).coalesce(1)
    edges = tokens.select(
        "doc_id",
        "word_index",
        "splitting",
        F.posexplode(F.arrays_zip("fv", "tv", "ml")).alias("edge_order", "e"),
    ).select(
        "doc_id",
        "word_index",
        F.col("edge_order").cast("long").alias("edge_order"),
        F.col("e.fv").alias("from_v"),
        F.col("e.tv").alias("to_v"),
        F.col("e.ml").alias("mlabel"),
        "splitting",
    )
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "2"):
        assert _rows(prune_merge_labels(edges)) == sorted(want_multi)


def test_token_lattice_matches_build_lattice(spark):
    toks = [*MORPH_SPLITS, "plain"]
    docs = spark.createDataFrame([(0, " ".join(toks))], "doc_id long, text string")
    got = {}
    for r in build_lattice(docs).collect():
        got.setdefault(r.word_index, []).append((r.edge_order, r.from_v, r.to_v, r.form))
    assert got == {wi: _token_lattice(t) for wi, t in enumerate(toks)}


def test_refine_token_label_matches_refined_label_array_expr(spark):
    # one token per morpheme count k, crossed with every label
    by_k = {1: "plain"}
    for tok, morphs in MORPH_SPLITS.items():
        by_k.setdefault(len(morphs), tok)
    rows = [(t, lab) for t in by_k.values() for lab in ("O", "S-TERM", "B-TERM", "I-TERM", "E-TERM")]
    got = spark.createDataFrame(rows, "token string, label string").select(
        "token", "label", F.expr(refined_label_array_expr()).alias("l_arr")
    )
    for r in got.collect():
        k = len(MORPH_SPLITS.get(r.token, [r.token]))
        assert r.l_arr == refine_token_label(r.label, k), (r.token, r.label)
