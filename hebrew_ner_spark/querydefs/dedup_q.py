"""Deduplication queries + DuckDB oracles.

Every signature bit is reproduced by the oracle via the portable 60-bit
md5 hash (functions/hashing.py), so the gate verifies MinHash, LSH
banding, Jaccard verification and SimHash exactly — not just row counts.
"""

from __future__ import annotations

from hebrew_ner_spark.functions.hashing import phash_duck, shingles_duck
from hebrew_ner_spark.operators import dedup
from hebrew_ner_spark.plans.buckets import bucket_pairs
from hebrew_ner_spark.registry import query
from hebrew_ner_spark.sources.catalog import load_table

K = dedup.SHINGLE_K
H = dedup.NUM_HASHES
ROWS = H // dedup.LSH_BANDS

from hebrew_ner_spark.functions.hashing import MINHASH_P, minhash_coeffs

_COEFFS = minhash_coeffs(H)
_SEEDS_VALUES = ", ".join(
    f"({s}, {a}, {b})" for s, (a, b) in enumerate(_COEFFS)
)

def _sh_cte(src: str = "documents") -> str:
    return f"""
sh AS (
  SELECT doc_id, unnest({shingles_duck('toks', K)}) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src})
)
"""


def _sig_cte(src: str = "documents") -> str:
    # one md5 per shingle + universal-hash family (a*x + b mod 2^31-1),
    # mirroring dedup._minhash_wide exactly in int64 arithmetic
    return f"""
{_sh_cte(src)},
hb AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle || ':0'), 1, 15)) AS BIGINT)
           % {MINHASH_P} AS b31
  FROM sh
),
seeds AS (SELECT * FROM (VALUES {_SEEDS_VALUES}) AS t(seed, a, b)),
sig AS (
  SELECT doc_id, CAST(seed AS BIGINT) AS seed,
         min((CAST(a AS BIGINT) * b31 + b) % {MINHASH_P}) AS mh
  FROM hb CROSS JOIN seeds GROUP BY doc_id, seed
)
"""


def _bands_cte(src: str = "documents") -> str:
    return f"""
{_sig_cte(src)},
bands AS (
  SELECT doc_id, CAST(seed // {ROWS} AS BIGINT) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), '_' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, seed // {ROWS}
)
"""


_SH_CTE = _sh_cte()
_SIG_CTE = _sig_cte()
_BANDS_CTE = _bands_cte()

# mirrors the operator exactly, including the MAX_BUCKET cap (vacuous at
# sf0.01 — no bucket is near 4096 — but the oracle must not silently
# diverge on the first corpus with an organic mega bucket)
_PAIRS_SQL = f"""
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM bands l
JOIN (SELECT band, band_key FROM bands
      GROUP BY band, band_key
      HAVING count(DISTINCT doc_id) <= {dedup.MAX_BUCKET}) ok
  ON ok.band = l.band AND ok.band_key = l.band_key
JOIN bands r
  ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
"""

def _simhash_cte(src: str = "documents") -> str:
    return f"""
tokh AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t.token || ':0'), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM {src}) t
),
bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c
  FROM tokh CROSS JOIN (SELECT unnest(range(0, {dedup.SIMHASH_BITS})) AS j)
  GROUP BY doc_id, j
),
sim AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
"""


_SIMHASH_CTE = _simhash_cte()


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


# The sf corpus plants near-duplicates but no byte-identical documents, so
# an exact-dedup gate over raw `documents` passes vacuously (0 = 0 rows).
# Every exact/giant-cluster gate therefore runs over `documents` UNION a
# deterministic planting — three docs copied several times each — declared
# identically on both engines.
_PLANT_COPIES = 4  # copies per planted doc (doc_ids 0,1,2)
_PLANT_CTE = f"""
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT 2000000 + doc_id * 100 + r AS doc_id, text
  FROM documents CROSS JOIN (SELECT unnest(range(0, {_PLANT_COPIES})) AS r)
  WHERE doc_id < 3
)
"""

# A mega duplicate cluster for the bucket-cap gates: many copies of one
# doc over a 250-doc base slice (the cap mechanics don't need the full
# corpus; the slice keeps the three planted gates from tripling the
# signature-chain cost in the bench).
_MEGA_COPIES = 30
_MEGA_BASE = 250
_MEGA_CTE = f"""
docs2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {_MEGA_BASE}
  UNION ALL
  SELECT 3000000 + r AS doc_id, text
  FROM documents CROSS JOIN (SELECT unnest(range(0, {_MEGA_COPIES})) AS r)
  WHERE doc_id = 0
)
"""


def _planted_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = (
        docs.where(F.col("doc_id") < 3)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(_PLANT_COPIES - 1))).alias("r"),
            "text",
        )
        .select(
            (F.lit(2000000) + F.col("doc_id") * 100 + F.col("r")).alias("doc_id"),
            "text",
        )
    )
    return docs.unionByName(copies)


def _mega_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    full = _docs(spark, sf_dir).select("doc_id", "text")
    docs = full.where(F.col("doc_id") < _MEGA_BASE)
    copies = (
        full.where(F.col("doc_id") == 0)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(_MEGA_COPIES - 1))).alias("r"),
            "text",
        )
        .select((F.lit(3000000) + F.col("r")).alias("doc_id"), "text")
    )
    return docs.unionByName(copies)


@query(
    "dedup_exact",
    oracle=f"""
    WITH {_PLANT_CTE}
    SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
    FROM docs2 GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup over the corpus + planted byte-identical copies —
    non-vacuous: the three planted groups MUST surface with their
    original doc_id as the canonical survivor."""
    return dedup.exact_dup_groups(_planted_docs(spark, sf_dir))


@query(
    "dedup_minhash_sig",
    oracle=f"WITH {_SIG_CTE} SELECT doc_id, seed, mh AS minhash FROM sig",
)
def dedup_minhash_sig(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir))


@query("dedup_lsh_pairs", oracle=f"WITH {_BANDS_CTE} {_PAIRS_SQL}")
def dedup_lsh_pairs(spark, sf_dir):
    return dedup.lsh_candidate_pairs(_docs(spark, sf_dir))


# Reusable verified-near-dup chain over `sh` + `pairs`: nd(doc_a, doc_b,
# jaccard_1e6) — shared by the gate below and by consumers composing
# near-dup pairs into larger oracles (training_q contamination audit).
# Threshold mirrors near_dup_jaccard's default (0.5 -> 500000 micro-units).
_J_EXPR = (
    "CAST((2 * (n_inter) * 1000000 + (sa.n_sh + sb.n_sh - n_inter))"
    " // (2 * (sa.n_sh + sb.n_sh - n_inter)) AS BIGINT)"
)
NEAR_JACCARD_CTES = f"""
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_inter
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    ),
    nd AS (
      SELECT i.doc_a, i.doc_b, {_J_EXPR} AS jaccard_1e6
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE {_J_EXPR} >= 500000
    )
"""


@query(
    "dedup_near_jaccard",
    oracle=f"""
    WITH {_BANDS_CTE},
    pairs AS ({_PAIRS_SQL}),
    {NEAR_JACCARD_CTES}
    SELECT doc_a, doc_b, jaccard_1e6 FROM nd
    """,
)
def dedup_near_jaccard(spark, sf_dir):
    return dedup.near_dup_jaccard(_docs(spark, sf_dir))


@query("dedup_simhash", oracle=f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sim")
def dedup_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


_CAP = 8  # forced under the planted cluster size for the cap gates


@query(
    "dedup_lsh_overflow",
    oracle=f"""
    WITH {_MEGA_CTE.strip()},
    {_bands_cte('docs2').strip()}
    SELECT band, band_key, count(DISTINCT doc_id) AS n_docs
    FROM bands GROUP BY band, band_key HAVING count(DISTINCT doc_id) > {_CAP}
    """,
)
def dedup_lsh_overflow(spark, sf_dir):
    """Non-silent mega-bucket counter: with the cap forced below the
    planted 31-copy cluster, all four of its band buckets must surface."""
    return dedup.lsh_overflow(_mega_docs(spark, sf_dir), cap=_CAP)


@query(
    "dedup_lsh_pairs_capped",
    oracle=f"""
    WITH {_MEGA_CTE.strip()},
    {_bands_cte('docs2').strip()},
    ok AS (
      SELECT band, band_key FROM bands
      GROUP BY band, band_key HAVING count(DISTINCT doc_id) <= {_CAP}
    )
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l
    JOIN ok USING (band, band_key)
    JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
    """,
)
def dedup_lsh_pairs_capped(spark, sf_dir):
    """Candidate pairs under the forced cap: the planted mega cluster's
    quadratic pair set is excluded; the corpus's organic near-dup pairs
    survive untouched."""
    return dedup.lsh_candidate_pairs(_mega_docs(spark, sf_dir), cap=_CAP)


@query(
    "dedup_giant_exact",
    oracle=f"""
    WITH {_MEGA_CTE.strip()},
    {_bands_cte('docs2').strip()},
    giant AS (
      SELECT band, band_key FROM bands
      GROUP BY band, band_key HAVING count(DISTINCT doc_id) > {_CAP}
    )
    SELECT b.band, b.band_key, md5(d.text) AS text_md5,
           count(*) AS n_docs, min(b.doc_id) AS canonical_doc_id
    FROM bands b
    JOIN giant USING (band, band_key)
    JOIN docs2 d ON d.doc_id = b.doc_id
    GROUP BY b.band, b.band_key, md5(d.text)
    """,
)
def dedup_giant_exact(spark, sf_dir):
    """The giant-bucket report: members of over-cap buckets grouped by
    exact text hash — the planted cluster collapses to one O(n) group
    per band instead of an O(n^2) pair array."""
    return dedup.giant_bucket_groups(_mega_docs(spark, sf_dir), cap=_CAP)


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    blocks AS (
      SELECT doc_id, simhash, b AS band, (simhash >> (b * 15)) & 32767 AS bval
      FROM sim CROSS JOIN (SELECT unnest(range(0, {dedup.SIMHASH_BANDS})) AS b)
    )
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
           CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
    FROM blocks l
    JOIN (SELECT band, bval FROM blocks
          GROUP BY band, bval
          HAVING count(DISTINCT doc_id) <= {dedup.MAX_BUCKET}) ok
      ON ok.band = l.band AND ok.bval = l.bval
    JOIN blocks r
      ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
    WHERE bit_count(xor(l.simhash, r.simhash)) <= {dedup.HAMMING_MAX}
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(_docs(spark, sf_dir))


@query(
    "dedup_simhash_overflow",
    oracle=f"""
    WITH {_MEGA_CTE.strip()},
    {_simhash_cte('docs2').strip()},
    blocks AS (
      SELECT doc_id, b AS band, (simhash >> (b * 15)) & 32767 AS bval
      FROM sim CROSS JOIN (SELECT unnest(range(0, {dedup.SIMHASH_BANDS})) AS b)
    )
    SELECT band, bval, count(DISTINCT doc_id) AS n_docs
    FROM blocks GROUP BY band, bval HAVING count(DISTINCT doc_id) > {_CAP}
    """,
)
def dedup_simhash_overflow(spark, sf_dir):
    """SimHash-side mega-block counter under the forced cap: the planted
    identical-text cluster shares all four 15-bit blocks, so each must
    surface (and is excluded from the pair explosion at the same cap)."""
    return dedup.simhash_overflow(_mega_docs(spark, sf_dir), cap=_CAP)


@query(
    "dedup_probe_delta",
    oracle=f"""
    WITH {_BANDS_CTE},
    pairs AS ({_PAIRS_SQL})
    SELECT doc_a, doc_b FROM pairs
    WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
    """,
)
def dedup_probe_delta(spark, sf_dir):
    """Incremental dedup-index maintenance: odd doc_ids are the crawl
    delta, even the stored base index; the probe must equal the full
    re-band restricted to delta-involving pairs (the gated contract —
    valid while no combined bucket exceeds the cap, asserted loudly by
    the shared overflow guard)."""
    from pyspark.sql import functions as F

    from hebrew_ner_spark.querydefs.graph_q import _assert_no_overflow

    d = _docs(spark, sf_dir)
    _assert_no_overflow(d, sf_dir)
    base = d.where(F.col("doc_id") % 2 == 0)
    delta = d.where(F.col("doc_id") % 2 == 1)
    return dedup.lsh_probe_delta(base, delta)


from hebrew_ner_spark.operators import ssjoin as _ssj

_SSJ_PREF_LEN = f"s - (({_ssj.SSJ_NUM} * s + {_ssj.SSJ_DEN} - 1) // {_ssj.SSJ_DEN}) + 1"


@query(
    "dedup_ssjoin_exact",
    oracle=f"""
    WITH ssj_tok AS (
      SELECT doc_id, unnest({shingles_duck('toks', K)}) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
    ssj_df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
               FROM ssj_tok GROUP BY shingle),
    ssj_sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s
               FROM ssj_tok GROUP BY doc_id),
    ssj_ord AS (
      SELECT t.doc_id, t.shingle, z.s,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df, t.shingle) AS rn
      FROM ssj_tok t JOIN ssj_df d USING (shingle)
      JOIN ssj_sz z USING (doc_id)),
    ssj_pref AS (
      SELECT doc_id, shingle, s FROM ssj_ord WHERE rn <= {_SSJ_PREF_LEN}),
    ssj_ok AS (
      SELECT shingle FROM ssj_pref GROUP BY shingle
      HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_ssj.SSJ_CAP}),
    ssj_cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ssj_pref a JOIN ssj_ok USING (shingle)
      JOIN ssj_pref b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
      WHERE {_ssj.SSJ_DEN} * least(a.s, b.s)
            >= {_ssj.SSJ_NUM} * greatest(a.s, b.s)),
    ssj_int AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM ssj_cand c
      JOIN ssj_tok ta ON ta.doc_id = c.doc_a
      JOIN ssj_tok tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b, n_inter,
           CAST(sa.s + sb.s - n_inter AS BIGINT) AS n_union,
           CAST((2 * n_inter * 1000000 + (sa.s + sb.s - n_inter))
                // (2 * (sa.s + sb.s - n_inter)) AS BIGINT) AS jaccard_1e6
    FROM ssj_int i
    JOIN ssj_sz sa ON sa.doc_id = i.doc_a
    JOIN ssj_sz sb ON sb.doc_id = i.doc_b
    WHERE {_ssj.SSJ_DEN} * n_inter
          >= {_ssj.SSJ_NUM} * (sa.s + sb.s - n_inter)
    """,
)
def dedup_ssjoin_exact(spark, sf_dir):
    """Exact set-similarity join (prefix filter, AllPairs/PPJoin family):
    ALL doc pairs with shingle-set Jaccard >= 0.5 — the lossless
    complement to probabilistic MinHash-LSH at the same threshold and
    set definition, so ssjoin_pairs ⊇ near_dup_jaccard is a pinned
    invariant (operators/ssjoin.py ssjoin_pairs); rarest-first ordering
    keeps boilerplate shingles out of the candidate index, cap overflow
    is surfaced not swallowed."""
    return _ssj.ssjoin_pairs(_docs(spark, sf_dir))


@query(
    "dedup_ssjoin_routing",
    oracle=f"""
    WITH ssr_tok AS (
      SELECT doc_id, unnest({shingles_duck('toks', K)}) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
    ssr_df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
               FROM ssr_tok GROUP BY shingle),
    ssr_sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s
               FROM ssr_tok GROUP BY doc_id),
    ssr_ord AS (
      SELECT t.doc_id, t.shingle, z.s,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df, t.shingle) AS rn
      FROM ssr_tok t JOIN ssr_df d USING (shingle)
      JOIN ssr_sz z USING (doc_id)),
    ssr_pref AS (
      SELECT doc_id, shingle FROM ssr_ord WHERE rn <= {_SSJ_PREF_LEN}),
    ssr_occ AS (
      SELECT shingle, CAST(count(*) AS BIGINT) AS n
      FROM ssr_pref GROUP BY shingle HAVING count(*) > 1),
    ssr_hist AS (
      SELECT n, CAST(count(*) AS BIGINT) AS cnt FROM ssr_occ GROUP BY n),
    ssr_nd AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM ssr_pref),
    ssr_cum AS (
      SELECT n, sum(cnt * (n * (n - 1) // 2)) OVER (ORDER BY n) AS cum_pairs
      FROM ssr_hist),
    ssr_eff AS (
      SELECT CAST(least(coalesce(max(c.n), 1), {_ssj.SSJ_CAP}) AS BIGINT)
               AS eff_cap
      FROM ssr_cum c, ssr_nd
      WHERE c.cum_pairs <= ssr_nd.nd * {_ssj.SSJ_PAIRS_PER_DOC}),
    ssr_over AS (
      SELECT o.shingle FROM ssr_occ o, ssr_eff e WHERE o.n > e.eff_cap),
    ssr_routed AS (
      SELECT DISTINCT p.doc_id FROM ssr_pref p JOIN ssr_over USING (shingle))
    SELECT e.eff_cap,
           (SELECT CAST(count(*) AS BIGINT) FROM ssr_over) AS n_over_shingles,
           (SELECT CAST(count(*) AS BIGINT) FROM ssr_routed) AS n_routed_docs
    FROM ssr_eff e
    """,
)
def dedup_ssjoin_routing(spark, sf_dir):
    """Occupancy-budget routing report for the exact set-similarity tier
    (round 5): the effective per-bucket cap derived from the prefix
    occupancy histogram under the pairs-per-doc budget, and how many
    shingles/docs were routed to the MinHash tier under it. The oracle
    replays the histogram -> running-sum -> cap derivation exactly
    (operators/ssjoin.py _effective_cap)."""
    return _ssj.ssjoin_routing_report(_docs(spark, sf_dir))


_CNT_PREF_LEN = f"s - (({_ssj.CONT_NUM} * s + {_ssj.CONT_DEN} - 1) // {_ssj.CONT_DEN}) + 1"


@query(
    "dedup_containment",
    oracle=f"""
    WITH cnt_tok AS (
      SELECT doc_id, unnest({shingles_duck('toks', K)}) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
    cnt_df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
               FROM cnt_tok GROUP BY shingle),
    cnt_sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s
               FROM cnt_tok GROUP BY doc_id),
    cnt_ord AS (
      SELECT t.doc_id, t.shingle, z.s,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df, t.shingle) AS rn
      FROM cnt_tok t JOIN cnt_df d USING (shingle)
      JOIN cnt_sz z USING (doc_id)),
    cnt_pref AS (
      SELECT doc_id, shingle, s FROM cnt_ord WHERE rn <= {_CNT_PREF_LEN}),
    cnt_safe AS (SELECT shingle FROM cnt_df WHERE df <= {_ssj.SSJ_CAP}),
    cnt_cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.s AS s_a, b.doc_id AS doc_b
      FROM cnt_pref a
      JOIN cnt_safe USING (shingle)
      JOIN cnt_tok b ON b.shingle = a.shingle AND a.doc_id <> b.doc_id),
    cnt_int AS (
      SELECT c.doc_a, c.doc_b, c.s_a, CAST(count(*) AS BIGINT) AS n_inter
      FROM cnt_cand c
      JOIN cnt_tok ta ON ta.doc_id = c.doc_a
      JOIN cnt_tok tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
      GROUP BY c.doc_a, c.doc_b, c.s_a)
    SELECT i.doc_a, i.doc_b, i.s_a, sb.s AS s_b, n_inter,
           CAST((2 * n_inter * 1000000 + i.s_a) // (2 * i.s_a) AS BIGINT)
             AS cont_1e6
    FROM cnt_int i JOIN cnt_sz sb ON sb.doc_id = i.doc_b
    WHERE {_ssj.CONT_DEN} * n_inter >= {_ssj.CONT_NUM} * i.s_a
    """,
)
def dedup_containment(spark, sf_dir):
    """Directed shingle-containment join (quotes / partial mirrors /
    subsumed pages at C(a->b) >= 0.9 — pairs the symmetric Jaccard
    joins miss BY DESIGN when sizes diverge): contained-side prefix
    filter + full container index, capped with a loud overflow channel,
    exact-integer keep decision (operators/ssjoin.py
    containment_pairs). The oracle replays the entire prefix + verify
    cascade."""
    return _ssj.containment_pairs(_docs(spark, sf_dir))


@query(
    "dedup_bucket_histogram",
    oracle=f"""
    WITH {_BANDS_CTE},
    bh_s AS (SELECT band, band_key, count(*) AS n
             FROM bands GROUP BY band, band_key),
    bh_b AS (SELECT CASE WHEN n <= 0 THEN 0
                         ELSE length(bin(n)) END AS bucket, n FROM bh_s)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n * (n - 1) // 2) AS BIGINT) AS pair_mass
    FROM bh_b GROUP BY bucket
    """,
)
def dedup_bucket_histogram(spark, sf_dir):
    """LSH bucket-size log2 histogram + candidate-pair mass — the
    metadata-first cost forecast for the pair join."""
    return dedup.lsh_bucket_histogram(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Blocking quality: pair completeness + reduction ratio of the LSH blocker
# ---------------------------------------------------------------------------

from hebrew_ner_spark.operators import clustereval as _clustereval  # noqa: E402


@query(
    "eval_blocking_quality",
    oracle=f"""
    WITH {_PLANT_CTE},
    {_bands_cte("docs2")},
    bq_cand AS ({_PAIRS_SQL}),
    bq_gold AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs2 a JOIN docs2 b
        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    bq_c AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM docs2) AS n_docs,
             (SELECT CAST(count(*) AS BIGINT) FROM bq_cand) AS n_cand,
             (SELECT CAST(count(*) AS BIGINT) FROM bq_gold) AS n_gold,
             (SELECT CAST(count(*) AS BIGINT) FROM bq_gold g
              WHERE EXISTS (SELECT 1 FROM bq_cand c
                            WHERE c.doc_a = g.doc_a AND c.doc_b = g.doc_b))
               AS n_hit
    )
    SELECT n_docs, n_cand, n_gold, n_hit,
           CAST(CASE WHEN n_gold = 0 THEN 1000000
                ELSE (2 * n_hit * 1000000 + n_gold) // (2 * n_gold)
                END AS BIGINT) AS pair_completeness_1e6,
           CAST(CASE WHEN n_docs < 2 THEN 1000000
                ELSE (2 * (n_docs * (n_docs - 1) // 2 - n_cand) * 1000000
                      + n_docs * (n_docs - 1) // 2)
                     // (2 * (n_docs * (n_docs - 1) // 2))
                END AS BIGINT) AS reduction_ratio_1e6
    FROM bq_c
    """,
)
def eval_blocking_quality(spark, sf_dir):
    """Pair completeness + reduction ratio of the LSH band blocker vs
    byte-identical gold pairs on the planted corpus: PC must hold 1e6
    (identical texts share every band) while RR prices the avoided
    C(n,2) mass — the two-sided check that catches both a blocker that
    drops duplicates and one that blocks nothing
    (operators/clustereval.py blocking_quality)."""
    from pyspark.sql import functions as F

    docs = _planted_docs(spark, sf_dir)
    cand = dedup.lsh_candidate_pairs(docs)
    gold = bucket_pairs(
        docs.select("doc_id", F.md5("text").alias("text_md5")),
        ["text_md5"],
        "doc_id",
        dedup.MAX_BUCKET,
    ).select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
    return _clustereval.blocking_quality(cand, gold, docs)
