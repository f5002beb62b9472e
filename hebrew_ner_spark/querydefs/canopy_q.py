"""Gate: MIS-centered canopy blocking over the shared-band cheap
metric. The oracle replays the capped band-bucket pair weights, every
Luby round over the tight graph (affine priorities mod a prime above
the doc-id domain), the isolated-vertex center rule, and the loose
membership join. CTE names cp-prefixed."""

from __future__ import annotations

from hebrew_ner_spark.operators import canopy, dedup
from hebrew_ner_spark.operators.symbreak import (
    MIS_MAX_ROUNDS,
    PRIO_ADD,
    PRIO_MUL,
)
from hebrew_ner_spark.plans.buckets import bucket_pairs
from hebrew_ner_spark.querydefs.dedup_q import _bands_cte
from hebrew_ner_spark.registry import query
from hebrew_ner_spark.sources.catalog import load_table

_T2 = canopy.CANOPY_T2_BANDS
_T1 = canopy.CANOPY_T1_BANDS
_PM = canopy.CANOPY_PRIO_MOD
_R = MIS_MAX_ROUNDS

_PAIRS_CTE = f"""
cpok AS (SELECT band, band_key FROM bands
         GROUP BY band, band_key
         HAVING count(DISTINCT doc_id) <= {dedup.MAX_BUCKET}),
cpk AS (SELECT b.doc_id, b.band, b.band_key
        FROM bands b JOIN cpok USING (band, band_key)),
cpw AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS w
  FROM cpk l
  JOIN cpk r ON l.band = r.band AND l.band_key = r.band_key
            AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
cpt AS (SELECT a, b FROM cpw WHERE w >= {_T2}),
cpl AS (SELECT a, b FROM cpw WHERE w >= {_T1}),
cptsym AS (SELECT a AS src, b AS dst FROM cpt
           UNION ALL SELECT b, a FROM cpt)
"""


def _mis_rounds() -> str:
    parts = [
        f"""cpact0 AS MATERIALIZED (
  SELECT v, CAST((v * {PRIO_MUL} + {PRIO_ADD}) % {_PM} AS BIGINT) AS p
  FROM (SELECT DISTINCT src AS v FROM cptsym)
),
cpmis0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS v WHERE FALSE)"""
    ]
    for i in range(1, _R + 1):
        parts.append(
            f"""cpnm{i} AS MATERIALIZED (
  SELECT e.src AS v, min(u2.p) AS nmin
  FROM cptsym e
  JOIN cpact{i - 1} u1 ON u1.v = e.src
  JOIN cpact{i - 1} u2 ON u2.v = e.dst
  GROUP BY e.src
),
cpent{i} AS MATERIALIZED (
  SELECT a.v FROM cpact{i - 1} a LEFT JOIN cpnm{i} m ON m.v = a.v
  WHERE m.nmin IS NULL OR a.p < m.nmin
),
cpmis{i} AS MATERIALIZED (
  SELECT v FROM cpmis{i - 1} UNION ALL SELECT v FROM cpent{i}
),
cpact{i} AS MATERIALIZED (
  SELECT a.v, a.p FROM cpact{i - 1} a
  WHERE a.v NOT IN (SELECT v FROM cpent{i})
    AND a.v NOT IN (SELECT e.dst FROM cptsym e JOIN cpent{i} x ON x.v = e.src)
)"""
        )
    return ",\n".join(parts)


@query(
    "er_canopies",
    oracle=f"""
    WITH {_bands_cte('documents')},
    {_PAIRS_CTE},
    {_mis_rounds()},
    cpcent AS (
      SELECT doc_id AS center FROM documents
      WHERE doc_id IN (SELECT v FROM cpmis{_R})
         OR doc_id NOT IN (SELECT v FROM cpact0)
    ),
    cpsym AS (SELECT a, b FROM cpl UNION ALL SELECT b, a FROM cpl),
    cpmem AS (
      SELECT s.a AS doc_id, s.b AS center
      FROM cpsym s JOIN cpcent c ON c.center = s.b
      UNION
      SELECT center, center FROM cpcent
    )
    SELECT m.doc_id, m.center,
           CAST(CASE WHEN c.center IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_center
    FROM cpmem m LEFT JOIN cpcent c ON c.center = m.doc_id
    """,
)
def er_canopies(spark, sf_dir):
    """Canopy blocking with MIS-chosen centers over the shared-band
    cheap metric: tight-graph independence, loose membership, isolated
    docs as their own canopy (operators/canopy.py canopy_assign)."""
    return canopy.canopy_assign(load_table(spark, sf_dir, "documents"))


# --- canopy blocking quality on the planted corpus --------------------

from hebrew_ner_spark.operators import clustereval as _clustereval  # noqa: E402
from hebrew_ner_spark.operators import dedup as _dedup  # noqa: E402
from hebrew_ner_spark.querydefs.dedup_q import (  # noqa: E402
    _PLANT_CTE,
    _planted_docs,
)
from pyspark.sql import functions as F  # noqa: E402


@query(
    "er_canopy_quality",
    oracle=f"""
    WITH {_PLANT_CTE},
    {_bands_cte('docs2')},
    {_PAIRS_CTE},
    {_mis_rounds()},
    cpcent AS (
      SELECT doc_id AS center FROM docs2
      WHERE doc_id IN (SELECT v FROM cpmis{_R})
         OR doc_id NOT IN (SELECT v FROM cpact0)
    ),
    cpsym AS (SELECT a, b FROM cpl UNION ALL SELECT b, a FROM cpl),
    cpmem AS (
      SELECT s.a AS doc_id, s.b AS center
      FROM cpsym s JOIN cpcent c ON c.center = s.b
      UNION
      SELECT center, center FROM cpcent
    ),
    cq_cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM cpmem x JOIN cpmem y
        ON x.center = y.center AND x.doc_id < y.doc_id
    ),
    cq_gold AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs2 a JOIN docs2 b
        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    cq_c AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM docs2) AS n_docs,
             (SELECT CAST(count(*) AS BIGINT) FROM cq_cand) AS n_cand,
             (SELECT CAST(count(*) AS BIGINT) FROM cq_gold) AS n_gold,
             (SELECT CAST(count(*) AS BIGINT) FROM cq_gold g
              WHERE EXISTS (SELECT 1 FROM cq_cand c
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
    FROM cq_c
    """,
)
def er_canopy_quality(spark, sf_dir):
    """Pair completeness + reduction ratio of CANOPY blocking on the
    planted corpus — PC must hold 1e6 (byte-identical copies share
    every band, so a tight edge or a common center always co-canopies
    them) while RR prices the avoided C(n,2) mass; the two-sided
    companion of eval_blocking_quality for the canopy tier
    (operators/canopy.py canopy_candidate_pairs +
    clustereval.blocking_quality)."""
    docs = _planted_docs(spark, sf_dir)
    cand = canopy.canopy_candidate_pairs(docs)
    gold = bucket_pairs(
        docs.select("doc_id", F.md5("text").alias("text_md5")),
        ["text_md5"],
        "doc_id",
        _dedup.MAX_BUCKET,
    ).select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
    return _clustereval.blocking_quality(cand, gold, docs)
