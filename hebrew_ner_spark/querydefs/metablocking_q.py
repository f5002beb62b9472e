"""Gates: meta-blocking over the shingle block collection.

Runs over documents + 30 byte-identical copies of doc 0 (the mega
cluster) so every stage is structurally non-vacuous at sf0.01:

* purging — doc 0's shingles jump to df >= 31 > BLOCK_CAP, so the
  whole mega cluster's block set lands in the purge report and
  contributes ZERO pairs (dedup.near_dup_pairs_all's verified hub
  edges connect it, per the operator contract);
* CBS — the organic near-dup corpus yields a wide weight spectrum
  (1 .. ~75 shared shingles at sf0.01);
* WNP — prunes ~90% of the edges (11.5k -> 1.0k at sf0.01), so the
  integer mean test is doing real work, not passing everything.

The oracle replays shingling (functions/hashing.py shingles_duck),
purging, CBS and WNP as plain SQL aggregations with the same
exact-integer mean comparison.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hebrew_ner_spark.functions.hashing import shingles_duck
from hebrew_ner_spark.operators import dedup, metablocking
from hebrew_ner_spark.registry import query
from hebrew_ner_spark.sources.catalog import load_table

_CAP = metablocking.BLOCK_CAP
_K = dedup.SHINGLE_K
_MEGA_COPIES = 30

_DOCS2 = f"""
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT 3000000 + r AS doc_id, text
  FROM documents CROSS JOIN (SELECT unnest(range(0, {_MEGA_COPIES})) AS r)
  WHERE doc_id = 0
)
"""

_BLOCKS_SQL = f"""
{_DOCS2},
blsh AS (
  SELECT doc_id, unnest({shingles_duck('toks', _K)}) AS block
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs2)
),
blmem AS (SELECT DISTINCT doc_id, block FROM blsh),
blsz AS (SELECT block, count(*) AS n_docs FROM blmem GROUP BY block)
"""

_CBS_SQL = f"""
keep AS (SELECT block FROM blsz WHERE n_docs > 1 AND n_docs <= {_CAP}),
mem AS (SELECT m.doc_id, m.block FROM blmem m JOIN keep k ON m.block = k.block),
pe AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS cbs
  FROM mem x JOIN mem y ON x.block = y.block AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
"""


def _mega_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (
        docs.where(F.col("doc_id") == 0)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(_MEGA_COPIES - 1))).alias("r"),
            "text",
        )
        .select((F.lit(3000000) + F.col("r")).alias("doc_id"), "text")
    )
    return docs.unionByName(copies)


@query(
    "er_metablock_purged",
    oracle=f"""
    WITH {_BLOCKS_SQL}
    SELECT block, CAST(n_docs AS BIGINT) AS n_docs
    FROM blsz WHERE n_docs > {_CAP}
    """,
)
def er_metablock_purged(spark, sf_dir):
    """The purge report: blocks above the cardinality cap, count-only
    (the non-silent-drop contract — the mega cluster's shingle blocks
    must all surface here) (operators/metablocking.py
    purged_block_report)."""
    return metablocking.purged_block_report(_mega_docs(spark, sf_dir))


@query(
    "er_metablocking",
    oracle=f"""
    WITH {_BLOCKS_SQL}, {_CBS_SQL},
    sym AS (SELECT doc_a AS v, cbs AS w FROM pe
            UNION ALL SELECT doc_b, cbs FROM pe),
    nw AS (SELECT v, CAST(sum(w) AS BIGINT) AS sw, CAST(count(*) AS BIGINT) AS dg
           FROM sym GROUP BY v)
    SELECT p.doc_a, p.doc_b, p.cbs
    FROM pe p
    JOIN nw a ON a.v = p.doc_a
    JOIN nw b ON b.v = p.doc_b
    WHERE p.cbs * a.dg >= a.sw AND p.cbs * b.dg >= b.sw
    """,
)
def er_metablocking(spark, sf_dir):
    """The meta-blocked comparison graph: block purge -> CBS weighting
    -> weighted node pruning, exact-integer mean test on both endpoints
    (operators/metablocking.py wnp_pruned)."""
    return metablocking.wnp_pruned(_mega_docs(spark, sf_dir))
