"""Exact set-similarity join (prefix filter): losslessness vs brute
force, the LSH-superset invariant, closed-form fixtures, cap overflow."""

from itertools import combinations

import pytest

from hebrew_ner_spark.operators import dedup, ssjoin


def _brute_pairs(rows, num, den, k=dedup.SHINGLE_K):
    """All (doc_a < doc_b, n_inter, n_union) with Jaccard >= num/den over
    distinct word-k-shingle sets — independent pure-Python replay."""
    sets = {}
    for doc_id, text in rows:
        toks = text.split(" ")
        sets[doc_id] = {
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        }
    out = {}
    for a, b in combinations(sorted(sets), 2):
        if not sets[a] or not sets[b]:
            continue
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if den * inter >= num * union:
            out[(a, b)] = (inter, union)
    return out


class TestSsjoinExactness:
    def test_lossless_vs_brute_force(self, spark):
        # adversarial mix: identical docs, overlapping chains, disjoint
        # docs, shared boilerplate prefix/suffix, short docs (< k tokens)
        base = "the quick brown fox jumps over the lazy dog tonight"
        rows = [(0, base), (1, base)]  # identical
        words = base.split()
        for i in range(2, 12):  # sliding-window chain: neighbours overlap
            rows.append((i, " ".join(words[(i % 5):] + words[: (i % 5)])))
        rows += [
            (20, "alpha beta gamma delta epsilon zeta eta theta"),
            (21, "alpha beta gamma delta epsilon zeta eta iota"),
            (22, "one two"),  # shorter than k -> empty set, excluded
            (23, "completely different words appear in this document here"),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r.doc_a, r.doc_b): (r.n_inter, r.n_union)
            for r in ssjoin.ssjoin_pairs(docs).collect()
        }
        assert got == _brute_pairs(rows, ssjoin.SSJ_NUM, ssjoin.SSJ_DEN)
        # non-vacuous: the fixture must actually produce matches
        assert len(got) >= 3

    @pytest.mark.parametrize("num,den", [(3, 10), (8, 10)])
    def test_lossless_at_other_thresholds(self, spark, num, den):
        words = "w%d"
        rows = []
        for i in range(14):
            # doc i: tokens i..i+9 — Jaccard decays with distance
            rows.append((i, " ".join(words % j for j in range(i, i + 10))))
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r.doc_a, r.doc_b): (r.n_inter, r.n_union)
            for r in ssjoin.ssjoin_pairs(docs, num=num, den=den).collect()
        }
        assert got == _brute_pairs(rows, num, den)

    def test_superset_of_lsh_at_same_threshold(self, spark, sf_dir):
        # prefix filtering is lossless; MinHash-LSH may drop true pairs.
        # Same set definition + threshold => ssjoin ⊇ near_dup_jaccard.
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        exact = {
            (r.doc_a, r.doc_b) for r in ssjoin.ssjoin_pairs(docs).collect()
        }
        lsh = {
            (r.doc_a, r.doc_b)
            for r in dedup.near_dup_jaccard(docs, threshold=0.5).collect()
        }
        assert lsh <= exact

    def test_closed_form_jaccard(self, spark):
        # shingle sets (k=3): doc 0 "a b c d" -> {abc, bcd}; doc 1
        # "a b c e" -> {abc, bce}: inter 1, union 3, J = 1/3
        docs = spark.createDataFrame(
            [(0, "a b c d"), (1, "a b c e")], ["doc_id", "text"]
        )
        [r] = ssjoin.ssjoin_pairs(docs, num=3, den=10).collect()
        assert (r.doc_a, r.doc_b, r.n_inter, r.n_union) == (0, 1, 1, 3)
        assert r.jaccard_1e6 == 333_333
        # and at threshold 0.5 the pair must NOT survive
        assert ssjoin.ssjoin_pairs(docs, num=5, den=10).count() == 0


class TestSsjoinCap:
    def test_overcap_prefix_shingle_routes_to_lsh(self, spark):
        # 6 identical docs share every prefix shingle; cap=4 -> every
        # prefix shingle exceeds the effective cap. Round-5 default:
        # the over-cap docs ROUTE through the LSH tier (identical docs
        # share every band bucket) and all pairs come back exact-verified
        docs = spark.createDataFrame(
            [(i, "x y z w v u t s") for i in range(6)], ["doc_id", "text"]
        )
        assert ssjoin.ssjoin_pairs(docs, cap=4).count() == 15  # C(6,2)
        # the exactness suspension is loud either way
        over = ssjoin.ssjoin_overflow(docs, cap=4).collect()
        assert over and all(r.n_docs == 6 for r in over)
        [rep] = ssjoin.ssjoin_routing_report(docs, cap=4).collect()
        assert rep.eff_cap == 4 and rep.n_routed_docs == 6
        assert rep.n_over_shingles == len(over)

    def test_budget_derives_effective_cap(self, spark):
        # 8 identical docs, static cap generous, but a 1-pair/doc budget
        # admits nothing at occupancy 8 (28 pairs/bucket > 8 pairs total)
        # -> everything routes; output still complete via the LSH tier
        docs = spark.createDataFrame(
            [(i, "x y z w v u t s") for i in range(8)], ["doc_id", "text"]
        )
        [rep] = ssjoin.ssjoin_routing_report(docs, pairs_per_doc=1).collect()
        assert rep.eff_cap == 1 and rep.n_routed_docs == 8
        assert ssjoin.ssjoin_pairs(docs, pairs_per_doc=1).count() == 28

    def test_under_cap_unaffected(self, spark):
        docs = spark.createDataFrame(
            [(i, "x y z w v u t s") for i in range(6)], ["doc_id", "text"]
        )
        assert ssjoin.ssjoin_pairs(docs, cap=6).count() == 15  # C(6,2)
        assert ssjoin.ssjoin_overflow(docs, cap=6).count() == 0


class TestContainmentPairs:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    @staticmethod
    def _toks(n, off=0):
        return " ".join(f"w{i + off}" for i in range(n))

    def test_directed_subset_and_identical(self, spark):
        from hebrew_ner_spark.operators import ssjoin

        docs = self._docs(
            spark,
            [
                (0, self._toks(30)),        # container
                (1, self._toks(12)),        # prefix of 0: contained
                (2, self._toks(30, 100)),   # disjoint control
                (3, self._toks(30)),        # identical to 0
            ],
        )
        got = {
            (r.doc_a, r.doc_b): r.cont_1e6
            for r in ssjoin.containment_pairs(docs).collect()
        }
        assert got == {
            (1, 0): 1000000,
            (1, 3): 1000000,
            (0, 3): 1000000,
            (3, 0): 1000000,
        }

    def test_low_jaccard_high_containment_found(self, spark):
        # the pair ssjoin_pairs misses by design: J = 10/28 < 0.5 but
        # C(1->0) = 1.0
        from hebrew_ner_spark.operators import ssjoin

        docs = self._docs(spark, [(0, self._toks(30)), (1, self._toks(12))])
        jac = ssjoin.ssjoin_pairs(docs).collect()
        cont = ssjoin.containment_pairs(docs).collect()
        assert jac == []
        assert [(r.doc_a, r.doc_b) for r in cont] == [(1, 0)]

    def test_threshold_boundary_exact(self, spark):
        from hebrew_ner_spark.operators import ssjoin

        # A has 10 shingles (12 tokens, k=3), 9 shared with B -> C = 0.9
        # exactly at 9/10: kept. 8 shared -> 0.8: dropped.
        base = [f"w{i}" for i in range(12)]  # shingles w0w1w2..w9w10w11
        b_txt = " ".join(base[:11]) + " zz"  # shares first 9 shingles
        docs = self._docs(spark, [(0, " ".join(base)), (1, b_txt + " more pad tokens here")])
        got = ssjoin.containment_pairs(docs).collect()
        pairs = {(r.doc_a, r.doc_b): (r.n_inter, r.s_a) for r in got}
        assert pairs.get((0, 1)) == (9, 10)

    def test_cap_overflow_surfaced_not_silent(self, spark):
        from hebrew_ner_spark.operators import ssjoin

        # 5 docs sharing one shingle; cap=4 excludes it from the index
        shared = "a b c"
        docs = self._docs(
            spark, [(i, shared + f" t{i} u{i} v{i}") for i in range(5)]
        )
        ov = ssjoin.containment_overflow(docs, cap=4).collect()
        assert [(r.shingle, r.n_docs) for r in ov] == [("a b c", 5)]
