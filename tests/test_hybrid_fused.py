"""The fused hybrid plan must be row-identical to the staged operator
composition — the reference's own hybrid==direct golden
(ner_app_test.py:51-81) extended to cover the fusion — plus plan-shape
assertions that the fusion is zero-exchange with one Python boundary,
and a hand-built-lattice check of the token-grain kernel."""

from contextlib import contextmanager

from pyspark.sql import functions as F

from hebrew_ner_spark.functions.labels import validate_multi_to_single
from hebrew_ner_spark.operators.lattice import (
    prune_edge_group,
    prune_merge_labels,
    prune_merge_validate,
)
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


# (doc_id, word_index, splitting, fv, tv, ml): one row per token
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
    want_multi = _expected_multi()
    assert [(d, w) for d, w, _ in want_multi] == [(1, 0), (1, 1), (1, 3), (2, 0), (2, 1)]
    want = sorted((d, w, validate_multi_to_single(m)[0]) for d, w, m in want_multi)
    assert want[1] == (1, 1, "S-TERM")

    tokens = spark.createDataFrame(_TOKENS, _TOKEN_SCHEMA).coalesce(1)
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "2"):
        assert _rows(prune_merge_validate(tokens)) == want

        # the edge-grain entry point shares the prune-and-join core
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
        assert _rows(prune_merge_labels(edges)) == sorted(want_multi)
