"""Canopy blocking: structural guarantees (center independence,
coverage, tight-pair co-canopy recall) + python replay of pair
weights."""

from hebrew_ner_spark.operators import canopy


def test_canopy_invariants(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pw = {(r.a, r.b): r.w for r in canopy.band_pair_weights(docs).collect()}
    rows = canopy.canopy_assign(docs).collect()
    all_docs = {r.doc_id for r in docs.select("doc_id").collect()}
    centers = {r.center for r in rows}
    member = {}
    for r in rows:
        member.setdefault(r.doc_id, set()).add(r.center)
        if r.is_center:
            assert r.doc_id in centers
    tight = {p for p, w in pw.items() if w >= canopy.CANOPY_T2_BANDS}
    loose = {p for p, w in pw.items() if w >= canopy.CANOPY_T1_BANDS}
    # 1. coverage: every document belongs to >= 1 canopy
    assert set(member) == all_docs
    # 2. center independence: no two centers share a tight edge
    for a, b in tight:
        assert not (a in centers and b in centers), (a, b)
    # 3. recall: every tight pair shares at least one canopy
    for a, b in tight:
        assert member[a] & member[b], (a, b)
    # 4. membership is exactly the loose relation against centers
    for r in rows:
        if r.doc_id != r.center:
            key = (min(r.doc_id, r.center), max(r.doc_id, r.center))
            assert key in loose
    # 5. centers cover themselves
    for c in centers:
        assert c in member[c]


def test_band_pair_weights_replay(spark):
    from hebrew_ner_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    keyed = [
        (r.doc_id, r.band, r.band_key)
        for r in dedup._band_keys(docs).collect()
    ]
    buckets = {}
    for d, b, k in keyed:
        buckets.setdefault((b, k), set()).add(d)
    want = {}
    for (_, _), ds in buckets.items():
        if len(ds) > dedup.MAX_BUCKET:
            continue
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b2 in ds[i + 1:]:
                want[(a, b2)] = want.get((a, b2), 0) + 1
    got = {(r.a, r.b): r.w for r in canopy.band_pair_weights(docs).collect()}
    assert got == want


def test_canopy_blocking_quality(spark):
    """PC = 1e6 on the planted exact-dup corpus (copies always
    co-canopy) and RR prices real reduction; brute-force pair parity."""
    from hebrew_ner_spark.operators import canopy, clustereval, dedup
    from hebrew_ner_spark.plans.buckets import bucket_pairs
    from hebrew_ner_spark.querydefs.dedup_q import _planted_docs
    from pyspark.sql import functions as F

    docs = _planted_docs(spark, "/root/testdata/sf0.001")
    cand = canopy.canopy_candidate_pairs(docs)
    gold = bucket_pairs(
        docs.select("doc_id", F.md5("text").alias("text_md5")),
        ["text_md5"],
        "doc_id",
        dedup.MAX_BUCKET,
    ).select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
    row = clustereval.blocking_quality(cand, gold, docs).collect()[0]
    assert row.n_gold > 0
    assert row.pair_completeness_1e6 == 1_000_000
    assert 0 < row.reduction_ratio_1e6 < 1_000_000
    # candidate set = union over canopies of within-canopy pairs
    asg = canopy.canopy_assign(docs).collect()
    by_center = {}
    for r in asg:
        by_center.setdefault(r.center, set()).add(r.doc_id)
    want = set()
    for ds in by_center.values():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                want.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert got == want


def test_distant_ids_get_distinct_priorities(spark):
    """Two identical docs whose ids differ by 100_003: a modulus that
    small gives both the same Luby priority and the MIS stalls on their
    tight edge. The pinned prime keeps priorities injective, so one of
    them becomes the center and both share its canopy."""
    text = "the same crawled page body with enough words for every band"
    docs = spark.createDataFrame(
        [(7, text), (100_010, text)], "doc_id long, text string"
    )
    rows = canopy.canopy_assign(docs).collect()
    member = {}
    for r in rows:
        member.setdefault(r.doc_id, set()).add(r.center)
    assert member[7] & member[100_010]
    assert sum(r.is_center for r in rows if r.doc_id == r.center) == 1
