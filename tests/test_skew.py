"""Skew handling tests (SURVEY.md §5 item 5): a synthetic corpus where
one mega-entity owns ~25% of all mentions; the salted two-phase plans
must produce results identical to the plain plans."""

import pytest
from pyspark.sql import Row, functions as F

from hebrew_ner_spark.operators import kg
from hebrew_ner_spark.plans.skew import salted_agg, salted_count


@pytest.fixture(scope="module")
def skewed_docs(spark):
    # 'spark' appears in ~25% of all triples: the mega-entity
    rows = []
    for i in range(400):
        if i % 4 == 0:
            rows.append(Row(doc_id=i, text="spark join table the spark merge spark",
                            lang="en", source="s", n_chars=40))
        else:
            rows.append(Row(doc_id=i, text=f"key agg row part{i % 7} scan value",
                            lang="en", source="s", n_chars=30))
    return spark.createDataFrame(rows).cache()


def test_salted_triple_counts_equal_plain_under_skew(skewed_docs):
    plain = {
        (r.subj, r.pred, r.obj): r.n_evidence
        for r in kg.triple_counts(skewed_docs).collect()
    }
    salted = {
        (r.subj, r.pred, r.obj): r.n_evidence
        for r in kg.triple_counts(skewed_docs, salt_buckets=16).collect()
    }
    assert plain == salted
    # the hot key really is hot
    hot = sum(v for k, v in plain.items() if "spark" in k)
    assert hot >= 0.2 * sum(plain.values())


def test_salted_count_general(spark):
    df = spark.createDataFrame(
        [Row(k="hot", v=i) for i in range(900)] + [Row(k=f"k{i}", v=i) for i in range(100)]
    )
    plain = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    salted = {r.k: r.n for r in salted_count(df, ["k"], buckets=8, out_col="n").collect()}
    assert plain == salted


def test_mega_duplicate_cluster_is_capped_not_exploded(spark):
    """North-rule skew case for dedup: a 1,000-copy boilerplate cluster.

    With the bucket cap in force the LSH pair generator must not build
    the ~500k-entry quadratic pair array for the cluster; the cluster
    surfaces through the overflow counter and the exact-hash routing,
    and organic pairs elsewhere are unaffected.
    """
    from hebrew_ner_spark.operators import dedup

    boiler = "the same boilerplate page body repeated across mirror hosts"
    rows = [Row(doc_id=i, text=boiler) for i in range(1000)]
    rows += [
        Row(doc_id=10000 + i, text=f"organic page {i % 5} with shared tail words here")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows).cache()

    cap = 64
    pairs = dedup.lsh_candidate_pairs(docs, cap=cap).toPandas()
    # no pair touches the mega cluster...
    assert not ((pairs.doc_a < 1000) | (pairs.doc_b < 1000)).any()
    # ...but the organic near-dup pairs are all still found
    assert len(pairs) > 0

    over = dedup.lsh_overflow(docs, cap=cap).toPandas()
    assert len(over) == dedup.LSH_BANDS  # one overflowing bucket per band
    assert (over.n_docs == 1000).all()

    routed = dedup.giant_bucket_groups(docs, cap=cap).toPandas()
    assert len(routed) == dedup.LSH_BANDS  # one identical-text group per band
    assert (routed.n_docs == 1000).all()
    assert (routed.canonical_doc_id == 0).all()

    sh_pairs = dedup.simhash_near_pairs(docs, cap=cap).toPandas()
    assert not ((sh_pairs.doc_a < 1000) | (sh_pairs.doc_b < 1000)).any()
    sh_over = dedup.simhash_overflow(docs, cap=cap).toPandas()
    assert (sh_over.n_docs >= 1000).all() and len(sh_over) >= 1


def test_salted_agg_algebraic_measures(spark):
    df = spark.createDataFrame(
        [Row(k="hot", v=float(i)) for i in range(1000)]
        + [Row(k="cold", v=float(i)) for i in range(10)]
    )
    plain = {
        r.k: (r.s, r.mn, r.mx, r.c)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.min("v").alias("mn"),
             F.max("v").alias("mx"), F.count("*").alias("c"))
        .collect()
    }
    two_phase = salted_agg(
        df, ["k"], buckets=8,
        partial_aggs=[F.sum("v").alias("ps"), F.min("v").alias("pmn"),
                      F.max("v").alias("pmx"), F.count("*").alias("pc")],
        final_aggs=[F.sum("ps").alias("s"), F.min("pmn").alias("mn"),
                    F.max("pmx").alias("mx"), F.sum("pc").alias("c")],
    )
    salted = {r.k: (r.s, r.mn, r.mx, r.c) for r in two_phase.collect()}
    assert plain == salted


def test_capped_mega_cluster_still_unifies_in_components(spark):
    """The routing must be consumed, not just reported: with the cap in
    force, near_dup_pairs_all contributes hub edges for the giant
    cluster, and connected components still produce ONE cluster with the
    min doc_id as canonical."""
    from hebrew_ner_spark.operators import canonicalize, dedup

    boiler = "the same boilerplate page body repeated across mirror hosts"
    rows = [Row(doc_id=i, text=boiler) for i in range(300)]
    docs = spark.createDataFrame(rows).cache()

    pairs = dedup.near_dup_pairs_all(docs, cap=64).toPandas()
    # hub shape: every pair anchors at the canonical doc, O(n) not O(n^2)
    assert len(pairs) == 299
    assert (pairs.doc_a == 0).all()

    cc = canonicalize.dedup_components(
        dedup.near_dup_pairs_all(docs, cap=64)
    ).toPandas()
    assert len(cc) == 300
    assert (cc.component_id == 0).all()


def test_near_identical_giant_cluster_unifies_via_verified_hubs(spark):
    """Giants that are near- but not byte-identical (boilerplate with a
    per-page counter token) must still unify: hub edges are Jaccard-
    verified, not text-hash-matched."""
    from hebrew_ner_spark.operators import canonicalize, dedup

    base = "the same boilerplate page body repeated across mirror hosts with long tail"
    rows = [Row(doc_id=i, text=f"{base} v{i}") for i in range(300)]
    docs = spark.createDataFrame(rows).cache()

    # sanity: texts are unique, so exact-hash hub matching would find nothing
    assert docs.select("text").distinct().count() == 300

    pairs = dedup.near_dup_pairs_all(docs, cap=64).toPandas()
    # the hub star covers every member of the over-cap buckets...
    hub_edges = pairs[pairs.doc_a == 0]
    assert len(hub_edges) >= 290
    # ...and the total stays far below the quadratic 300*299/2 = 44,850
    # (under-cap band buckets may add organic verified pairs)
    assert len(pairs) < 2000

    cc = canonicalize.dedup_components(
        dedup.near_dup_pairs_all(docs, cap=64)
    ).toPandas()
    assert len(cc) == 300 and (cc.component_id == 0).all()


_BOUNDARY_TEXT = "one boilerplate page body copied onto every mirror host"


def _boundary_docs(spark, m):
    return spark.createDataFrame(
        [(i, _BOUNDARY_TEXT) for i in range(m)], "doc_id long, text string"
    )


def _lsh_case(spark, m, cap):
    from hebrew_ner_spark.operators import dedup

    docs = _boundary_docs(spark, m)
    pairs = dedup.lsh_candidate_pairs(docs, cap=cap).collect()
    over = dedup.lsh_overflow(docs, cap=cap).collect()
    return {(r.doc_a, r.doc_b) for r in pairs}, [r.n_docs for r in over]


def _simhash_case(spark, m, cap):
    from hebrew_ner_spark.operators import dedup

    docs = _boundary_docs(spark, m)
    pairs = dedup.simhash_near_pairs(docs, cap=cap).collect()
    over = dedup.simhash_overflow(docs, cap=cap).collect()
    return {(r.doc_a, r.doc_b) for r in pairs}, [r.n_docs for r in over]


def _metablocking_case(spark, m, cap):
    from hebrew_ner_spark.operators import metablocking

    docs = _boundary_docs(spark, m)
    pairs = metablocking.cbs_edges(docs, cap=cap).collect()
    over = metablocking.purged_block_report(docs, cap=cap).collect()
    return {(r.doc_a, r.doc_b) for r in pairs}, [r.n_docs for r in over]


def _editjoin_case(spark, m, cap):
    from hebrew_ner_spark.operators import editjoin

    # m two-char strings whose only shared deletion variant is "z"
    words = spark.createDataFrame([(chr(ord("a") + i) + "z",) for i in range(m)], ["s"])
    pairs = editjoin.edit_self_pairs(words, "s", k=1, cap=cap).collect()
    over = editjoin.edit_self_overflow(words, "s", k=1, cap=cap).collect()
    index = {chr(ord("a") + i) + "z": i for i in range(m)}
    return (
        {(index[r.str_a], index[r.str_b]) for r in pairs},
        [r.n_strings for r in over],
    )


def _kernel_case(spark, m, cap, cap_col=False):
    from hebrew_ner_spark.plans.buckets import bucket_overflow, bucket_pairs

    # every member appears twice: bucket size counts DISTINCT members
    keyed = spark.createDataFrame(
        [("k", i, cap) for i in range(m)] * 2, "bucket string, member long, cap long"
    )
    cols, c = (["bucket", "cap"], F.col("cap")) if cap_col else (["bucket"], cap)
    pairs = bucket_pairs(keyed, cols, "member", c).collect()
    over = bucket_overflow(keyed, cols, "member", c).collect()
    assert len(pairs) == len({(r.a, r.b) for r in pairs})
    return {(r.a, r.b) for r in pairs}, [r.n for r in over]


@pytest.mark.parametrize(
    "case",
    [
        _lsh_case,
        _simhash_case,
        _metablocking_case,
        _editjoin_case,
        _kernel_case,
        lambda spark, m, cap: _kernel_case(spark, m, cap, cap_col=True),
    ],
    ids=["lsh", "simhash", "metablocking", "editjoin", "buckets", "buckets_column_cap"],
)
def test_bucket_cap_boundary(spark, case):
    """A bucket of exactly ``cap`` members explodes into all C(cap, 2)
    pairs and reports no overflow; one more member suppresses every pair
    of the bucket and reports it count-only with n = cap + 1."""
    cap = 4
    pairs, over = case(spark, cap, cap)
    assert pairs == {(a, b) for a in range(cap) for b in range(a + 1, cap)}
    assert over == []
    pairs, over = case(spark, cap + 1, cap)
    assert pairs == set()
    assert over and all(n == cap + 1 for n in over)
