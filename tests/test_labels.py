"""Pinned-case tests for the label-algebra kernels (P10/E9 semantics,
reference utils/ner.py:177-222 and utils/tagSchemeConverter.py)."""

import pytest

from hebrew_ner_spark.functions.labels import (
    bio_to_bioes,
    bioes_to_bio,
    refine_token_label,
    validate_multi_to_single,
)


@pytest.mark.parametrize(
    "tag,expected,valid",
    [
        # valid, anchored classifications
        ("O^O", "O", True),
        ("B-PER^I-PER", "B-PER", True),
        ("I-PER^I-PER", "I-PER", True),
        ("B-PER^E-PER", "S-PER", True),            # complete entity inside token
        ("O^S-LOC^O", "S-LOC", True),
        ("I-ORG^E-ORG", "E-ORG", True),
        ("O^B-GPE", "B-GPE", True),
        # Out-of-order sequences: the validity regex is matched UNANCHORED
        # (re.match without $), and every BIOSE char partially matches some
        # alternative at position 0 — so `valid` is ALWAYS True and the
        # reference's relaxed Fig. 11 branch is dead code. When no anchored
        # class pattern matches either, the emitted label is the bare
        # '-CAT'. Bug-for-bug preserved.
        ("E-PER^B-PER", "-PER", True),
        ("B-PER^O^I-PER", "-PER", True),
        ("I-PER^O^I-PER", "-PER", True),
    ],
)
def test_validate_multi_to_single_pinned(tag, expected, valid):
    single, was_valid = validate_multi_to_single(tag)
    assert single == expected
    assert was_valid is valid


def test_unanchored_quirk_ei():
    single, valid = validate_multi_to_single("E-PER^I-PER")
    assert valid is True          # 'EI' partially matches 'I*EO*'
    assert single == "-PER"       # no anchored pattern -> '' + '-PER'


def test_refine_roundtrip_all_bases():
    for label in ["O", "S-TERM", "B-TERM", "I-TERM", "E-TERM"]:
        for k in (1, 2, 3, 4):
            refined = refine_token_label(label, k)
            assert len(refined) == k
            single, valid = validate_multi_to_single("^".join(refined))
            assert valid, (label, k)
            assert single == label, (label, k, refined)


def test_scheme_converters():
    assert bioes_to_bio("S-PER") == "B-PER"
    assert bioes_to_bio("E-PER") == "I-PER"
    assert bioes_to_bio("B-PER") == "B-PER"
    assert bioes_to_bio("O") == "O"
    assert bio_to_bioes("B-PER", "I-PER") == "B-PER"
    assert bio_to_bioes("B-PER", "O") == "S-PER"
    assert bio_to_bioes("B-PER", None) == "S-PER"
    assert bio_to_bioes("I-PER", "I-PER") == "I-PER"
    assert bio_to_bioes("I-PER", "B-PER") == "E-PER"
    assert bio_to_bioes("O", "B-PER") == "O"


def test_build_vocab_two_level_rank_matches_global_order(spark):
    """Distributed vocab ids must equal the dense global alphabetical
    rank, without an un-partitioned sort of the full vocabulary: the
    token-ranking window is hash-partitioned on the prefix bucket."""
    from pyspark.sql import Row

    from hebrew_ner_spark.operators.labels import build_vocab

    words = ["zebra", "apple", "ant", "a", "ab", "spark", "sp", "table", "שלום", "של"]
    docs = spark.createDataFrame(
        [Row(doc_id=i * 2, text=" ".join(words[i::3])) for i in range(3)]
    )
    out = build_vocab(docs).toPandas().sort_values("token_id")
    expected = sorted(set(w for i in range(3) for w in words[i::3]))
    assert out.token.tolist() == expected
    assert out.token_id.tolist() == list(range(1, len(expected) + 1))

    plan = build_vocab(docs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(bkt" in plan  # per-bucket sort, not global


def test_alphabet_encode_tiered_plan_and_identity(spark):
    """With a tiny hot tier the tail must shuffle-join (SortMergeJoin in
    the plan — the full vocab is never broadcast), and the tiered output
    must equal the all-hot output row for row."""
    from hebrew_ner_spark.operators import labels as lbl

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tiered = lbl.alphabet_encode(docs, hot_k=4)
    plan = tiered._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan          # the tail tier
    assert "BroadcastHashJoin" in plan      # the hot tier
    full = lbl.alphabet_encode(docs)
    key = ["doc_id", "word_index"]
    assert tiered.orderBy(*key).collect() == full.orderBy(*key).collect()


def test_validate_multi_udf_per_row_and_null(spark):
    from pyspark.errors import PythonException

    from hebrew_ner_spark.operators.labels import validate_multi_udf

    tags = ["B-PER^E-PER", "O^O", "B-PER^E-PER", "E-PER^I-PER", "O"]
    df = spark.createDataFrame([(t,) for t in tags], "multi_label string")
    got = [r[0] for r in df.select(validate_multi_udf("multi_label")).collect()]
    assert got == [validate_multi_to_single(t)[0] for t in tags]

    nulls = spark.createDataFrame([("O",), (None,)], "multi_label string")
    with pytest.raises(PythonException, match="null multi_label"):
        nulls.select(validate_multi_udf("multi_label")).collect()
