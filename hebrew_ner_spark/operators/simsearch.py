"""Approximate-nearest-neighbor search over an embedding column.

Three tiers, all JVM-side (zip_with/aggregate higher-order functions — no
Python, no UDFs):

* ``brute_topk`` — exact cosine top-k of every query against the corpus.
  The query side is a small deterministic subset, **broadcast** so the scan
  of the big side stays shuffle-free; ranking is one window per query key.
  This is the correctness baseline: at 10^12 rows you never run it on the
  full corpus, but it is exactly what runs *inside* each ANN bucket.
* ``rp_lsh_buckets`` — random-hyperplane LSH signatures. The hyperplane
  sign matrix is derived from the portable md5 hash (functions/hashing.py),
  so it is identical on executors, on the driver, and inside the DuckDB
  oracle — no floating-point RNG to ship.
* ``rp_lsh_topk`` — top-k restricted to bucket collisions: the scale path.
  Probing multiplies recall; each extra probe bit-flip doubles candidates.

Cosines are emitted as ``cos_1e6`` (bigint micro-units) so the correctness
hash is exact; ordering ties break on neighbor id, deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.buckets import bucket_overflow

DIM = 64
LSH_BITS = 8
DEFAULT_QUERIES = 32
DEFAULT_K = 10


def _sign(j: int, d: int) -> int:
    """Deterministic ±1 from the shared 60-bit md5 hash of 'j_d:0'
    (functions/hashing.py phash_py) — reproduced in the DuckDB oracle
    bit-for-bit."""
    from hebrew_ner_spark.functions.hashing import phash_py

    return 1 if (phash_py(f"{j}_{d}") & 1) == 1 else -1


def sign_matrix(bits: int = LSH_BITS, dim: int = DIM) -> list[list[int]]:
    return [[_sign(j, d) for d in range(dim)] for j in range(bits)]


def _with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Attach the L2 norm once (computed in DOUBLE, sequential sum)."""
    return df.withColumn(
        "_norm",
        F.expr(
            f"sqrt(aggregate({vec}, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        ),
    )


_DOT = (
    "aggregate(zip_with(q_emb, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0D, (a, v) -> a + v)"
)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.desc("cos_1e6"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cos_1e6")
    )


def brute_topk(
    emb: DataFrame,
    n_queries: int = DEFAULT_QUERIES,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Exact cosine top-k. Query side = vec_id < n_queries, broadcast.

    Plan shape: one scan of the corpus, a broadcast nested-loop-free hash
    join is impossible (no equi-key), so this is an explicit crossJoin with
    the *small* side broadcast — Q×N score rows, then a per-query window.
    """
    base = _with_norm(emb).select("vec_id", "embedding", "_norm")
    queries = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("_norm").alias("q_norm"),
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.expr(f"CAST(round({_DOT} / (_norm * q_norm) * 1000000.0) AS BIGINT)").alias(
                "cos_1e6"
            ),
        )
    )
    return _rank_topk(scored, k)


def rp_lsh_buckets(emb: DataFrame, bits: int = LSH_BITS) -> DataFrame:
    """(vec_id, bucket): pack sign(dot(v, h_j)) over `bits` hyperplanes.

    The sign matrix is inlined as an array<array<int>> literal — Catalyst
    constant-folds it; the whole signature is one codegen'd expression.
    """
    mat = sign_matrix(bits)
    mat_sql = "array(" + ", ".join(
        "array(" + ", ".join(str(v) for v in row) + ")" for row in mat
    ) + ")"
    bucket = F.expr(
        f"""
        aggregate(
          transform(sequence(0, {bits - 1}), j ->
            CASE WHEN aggregate(
                   zip_with(embedding, {mat_sql}[j], (x, s) -> CAST(x AS DOUBLE) * s),
                   0D, (a, v) -> a + v) > 0D
                 THEN shiftleft(1L, CAST(j AS INT)) ELSE 0L END),
          0L, (a, x) -> a + x)
        """
    )
    return emb.select("vec_id", bucket.alias("bucket"))


def rp_lsh_topk(
    emb: DataFrame,
    n_queries: int = DEFAULT_QUERIES,
    k: int = DEFAULT_K,
    bits: int = LSH_BITS,
) -> DataFrame:
    """Top-k among same-bucket candidates — the 10^12-scale plan.

    Join key is the bucket id (equi-join, shuffle bounded by bucket sizes;
    oversized buckets are AQE skew-join territory). Recall < 1 by design;
    the bench compares its wall-time against brute_topk at equal output
    schema.
    """
    base = _with_norm(emb)
    buckets = rp_lsh_buckets(emb, bits)
    side = base.join(buckets, "vec_id").select("vec_id", "embedding", "_norm", "bucket")
    queries = side.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("_norm").alias("q_norm"),
        "bucket",
    )
    scored = (
        side.join(F.broadcast(queries), "bucket")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.expr(f"CAST(round({_DOT} / (_norm * q_norm) * 1000000.0) AS BIGINT)").alias(
                "cos_1e6"
            ),
        )
    )
    return _rank_topk(scored, k)


IVF_CELLS = 16
IVF_PROBES = 2
KMEANS_ITERS = 2

# Embedding components in exact integer micro-units: every centroid/dot
# computation downstream is integer (order-independent, engine-exact);
# floor(x*1e6 + 0.5) is round-half-up in Spark, DuckDB and numpy alike.
_MICRO = (
    "transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
)


def _micro_vecs(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", F.expr(_MICRO).alias("mv"))


def _with_cnorm(cents: DataFrame) -> DataFrame:
    """Attach sqrt of the exact integer self-dot (one double at the end)."""
    return cents.withColumn(
        "cnorm",
        F.expr("sqrt(aggregate(transform(cent, x -> x * x), 0L, (a, v) -> a + v))"),
    )


def seed_centroids(emb: DataFrame, n_cells: int = IVF_CELLS) -> DataFrame:
    """(cell, cent array<bigint>, cnorm): the first ``n_cells`` vectors in
    micro-units — the deterministic, resume-stable k-means initialization."""
    return _with_cnorm(
        _micro_vecs(emb.where(F.col("vec_id") < n_cells)).select(
            F.col("vec_id").alias("cell"), F.col("mv").alias("cent")
        )
    )


def _assign_cells(mv: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest centroid by cosine. The integer dot is exact
    and order-independent; dividing by the centroid norm (the vector's own
    norm is constant per vec_id) gives the cosine ranking with ONE double
    op, identical in every engine. Centroids broadcast — the only join a
    10^12-row assignment needs.

    Zero-norm centroids are excluded from the candidate set: a Lloyd cell
    of near-antipodal members can integer-mean to the all-zero vector,
    and 0/0 would score NaN — which Spark sorts FIRST under DESC (the
    degenerate cell would silently capture every vector) while DuckDB
    yields NULL and sorts it last. Filtering is the one behavior both
    engines express identically, and "captures nothing" is the right
    semantics for a centroid with no direction."""
    scored = mv.crossJoin(F.broadcast(cents.where(F.col("cnorm") > 0))).select(
        "vec_id",
        "cell",
        F.expr(
            "CAST(aggregate(zip_with(mv, cent, (x, y) -> x * y), 0L, (a, v) -> a + v) AS DOUBLE)"
            " / cnorm"
        ).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("cell"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("vec_id", "cell")
    )


def _update_centroids(mv: DataFrame, assigned: DataFrame) -> DataFrame:
    """Lloyd update as joins/aggs: per-(cell, dim) integer sums (posexplode
    -> groupBy — map-side combinable, no float order dependence), then the
    mean via truncating integer division (identical in Spark and DuckDB)
    re-packed into an array ordered by dim. Dividing by the member count
    keeps components at micro scale, so the integer dot in the next assign
    cannot overflow int64 at any corpus size. Empty cells simply vanish."""
    return _with_cnorm(
        mv.join(assigned, "vec_id")
        .select("cell", F.posexplode("mv").alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, CAST(s DIV n AS BIGINT) AS cv))),"
                " p -> p.cv)"
            ).alias("cent")
        )
    )


def kmeans_centroids(
    emb: DataFrame, n_cells: int = IVF_CELLS, iters: int = KMEANS_ITERS
) -> DataFrame:
    """(cell, cent, cnorm): ``iters`` seeded Lloyd iterations, entirely
    joins/aggs in exact integer arithmetic — deterministic, resumable and
    oracle-checkable. Each iteration is one broadcast-assign plus one
    shuffle on (cell, dim); the centroid table never exceeds
    n_cells x dim rows, so it stays broadcast-sized at any corpus scale.

    The result is returned as a LOCAL relation: the final round is
    collected (n_cells rows — driver-sized by construction, the same
    class of action as the CC convergence count, not a data path) and
    re-created, so every downstream broadcast reads a tiny local table
    instead of re-executing or pinning the full-corpus Lloyd lineage.
    Nothing stays persisted after return. Callers issuing several
    queries over one index should still train once and pass ``cents=``
    to ivf_assign/ivf_topk (the gate layer memoizes per corpus in
    querydefs/simsearch_q.py) rather than retraining per call."""
    mv = _micro_vecs(emb)
    cents = seed_centroids(emb, n_cells)
    for i in range(iters):
        prev = cents
        # persist + materialize each round: cents is referenced by the next
        # assign AND (for the final round) by every downstream consumer —
        # ivf_assign + the probe join each broadcast it — so without this
        # the full-corpus Lloyd subplan re-executes once per reference,
        # and iteration k would replay iterations 0..k-1. The table is at
        # most n_cells rows; the count() is the eager materializer (the
        # same per-round pattern connected_components uses).
        cents = _update_centroids(mv, _assign_cells(mv, cents)).persist()
        cents.count()
        if i > 0:
            prev.unpersist()
    rows, schema = cents.collect(), cents.schema
    cents.unpersist()
    return cents.sparkSession.createDataFrame(rows, schema)


def ivf_assign(
    emb: DataFrame, n_cells: int = IVF_CELLS, cents: DataFrame | None = None
) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment against ``cents``
    (default: k-means-trained). Broadcast crossJoin + per-vector rank —
    exactly the plan used at 10^12 rows, where centroids are always a
    broadcast-sized table."""
    if cents is None:
        cents = kmeans_centroids(emb, n_cells)
    return _assign_cells(_micro_vecs(emb), cents)


def ivf_probes(
    emb: DataFrame,
    cents: DataFrame,
    n_queries: int = DEFAULT_QUERIES,
    n_probes: int = IVF_PROBES,
) -> DataFrame:
    """(qid, cell): each query's ``n_probes`` nearest cells — the same
    integer-dot/cnorm score as assignment (and the same zero-norm
    exclusion, see _assign_cells). Broadcast centroids; one window over
    Q x n_cells rows."""
    scored = (
        _micro_vecs(emb.where(F.col("vec_id") < n_queries))
        .crossJoin(F.broadcast(cents.where(F.col("cnorm") > 0)))
        .select(
            F.col("vec_id").alias("qid"),
            "cell",
            F.expr(
                "CAST(aggregate(zip_with(mv, cent, (x, y) -> x * y), 0L, (a, v) -> a + v) AS DOUBLE)"
                " / cnorm"
            ).alias("score"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cell"))
    return (
        scored.withColumn("r", F.row_number().over(wq))
        .where(F.col("r") <= n_probes)
        .select("qid", "cell")
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = DEFAULT_QUERIES,
    k: int = DEFAULT_K,
    n_cells: int = IVF_CELLS,
    n_probes: int = IVF_PROBES,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k: each query probes its ``n_probes`` nearest cells and
    ranks only candidates assigned there — the inverted-file scale path
    (search cost ~ probes/cells of brute force). Cells come from the
    seeded-k-means index by default; pass ``cents`` (e.g. seed_centroids)
    to search an untrained index."""
    if cents is None:
        cents = kmeans_centroids(emb, n_cells)
    cells = ivf_assign(emb, n_cells, cents)
    base = _with_norm(emb).join(cells, "vec_id")
    probes = ivf_probes(emb, cents, n_queries, n_probes)
    queries = _with_norm(emb).where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("_norm").alias("q_norm"),
    )
    scored = (
        base.join(F.broadcast(probes.join(queries, "qid")), "cell")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.expr(f"CAST(round({_DOT} / (_norm * q_norm) * 1000000.0) AS BIGINT)").alias(
                "cos_1e6"
            ),
        )
    )
    # no dedup needed: every neighbour lives in exactly one cell
    return _rank_topk(scored, k)


# Plane count at the TEST corpus scale (500-5k vectors -> 16 buckets of
# tens-to-hundreds each). Bucket count must grow with the corpus:
# 2^bits ≈ N / target_bucket, else every bucket exceeds the cap and the
# operator (correctly, but uselessly) scores nothing. Size it with
# near_dup_bits_for().
NEAR_DUP_BITS = 4


NEAR_DUP_MAX_BUCKET = 4096  # pairwise scoring ceiling per bucket


def near_dup_bits_for(n_vectors: int, target_bucket: int = 512) -> int:
    """Hyperplane count so the MEAN bucket is ~target_bucket vectors
    (well under the pairwise cap): bits = ceil(log2(n / target)).
    At 10^12 vectors and target 512 that is 31 bits — still one 64-bit
    bucket key, still a plain equi-join."""
    import math

    return max(1, math.ceil(math.log2(max(2, n_vectors) / target_bucket)))


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.35,
    bits: int = NEAR_DUP_BITS,
    max_bucket: int = NEAR_DUP_MAX_BUCKET,
) -> DataFrame:
    """(vec_a, vec_b, cos_1e6): same-LSH-bucket pairs with cosine >= threshold.

    The 10^12-row shape, with NOTHING on the driver: candidate generation
    is the rp_lsh bucket equi-key, and each bucket's exact cosine scoring
    runs as one vectorized float64 matmul inside
    ``groupBy("bucket").applyInPandas`` — the bucket-local BLAS win of a
    broadcast matrix without ever materializing the corpus outside
    executors. The plan is scan -> shuffle on bucket -> grouped-map; no
    Collect, no closure-captured data (asserted in
    tests/test_simsearch.py::test_near_dups_plan_is_distributed).

    Arithmetic is accumulated dimension-by-dimension (left-to-right fold)
    so every double matches the JVM ``aggregate`` fold and the DuckDB
    ``list_sum`` bit-for-bit — a blocked BLAS gemm would reorder the adds
    and perturb round() at the micro-unit boundary.

    Mega-buckets (a boilerplate page duplicated 10^6 times) are the same
    hazard as dedup's LSH bands; bound them with ``max_bucket``. The cap
    is enforced BEFORE the grouped-map — a count-only aggregate drops
    over-cap buckets at the shuffle, so a 10^7-member bucket never
    materializes as one Arrow group in a Python worker (the in-UDF guard
    remains as a second line of defence). Dropped buckets are surfaced by
    ``near_dup_overflow``; no pair from them is scored here (document
    giants are connected by dedup.near_dup_pairs_all's Jaccard-verified
    hub edges). ``bits`` must scale with the corpus (near_dup_bits_for)
    or every bucket overflows.
    """
    import numpy as np
    import pandas as pd

    thresh_micro = int(threshold * 1_000_000)
    buckets = rp_lsh_buckets(emb, bits)
    over = bucket_overflow(buckets, ["bucket"], "vec_id", max_bucket)
    side = (
        emb.join(buckets, "vec_id")
        .join(over.select("bucket"), "bucket", "left_anti")
        .select("vec_id", "embedding", "bucket")
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2 or len(ids) > max_bucket:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_1e6": []}).astype(
                {"vec_a": np.int64, "vec_b": np.int64, "cos_1e6": np.int64}
            )
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"].iloc[order]]
        )
        n, d = mat.shape
        # sequential-in-dimension accumulation == the oracle's fold order
        dots = np.zeros((n, n), dtype=np.float64)
        nrm2 = np.zeros(n, dtype=np.float64)
        for k_dim in range(d):
            col = mat[:, k_dim]
            dots += col[:, None] * col[None, :]
            nrm2 += col * col
        norms = np.sqrt(nrm2)
        cos = dots / (norms[:, None] * norms[None, :])
        # floor(x + 0.5): round-half-up, matching Spark/DuckDB round()
        micro = np.floor(cos * 1_000_000.0 + 0.5).astype(np.int64)
        ai, bj = np.triu_indices(n, k=1)
        keep = micro[ai, bj] >= thresh_micro
        return pd.DataFrame(
            {
                "vec_a": ids[ai[keep]],
                "vec_b": ids[bj[keep]],
                "cos_1e6": micro[ai[keep], bj[keep]],
            }
        )

    return side.groupBy("bucket").applyInPandas(
        per_bucket, "vec_a long, vec_b long, cos_1e6 long"
    )


def near_dup_overflow(
    emb: DataFrame,
    bits: int = NEAR_DUP_BITS,
    max_bucket: int = NEAR_DUP_MAX_BUCKET,
) -> DataFrame:
    """(bucket, n_vecs) for buckets embedding_near_dups declines to score
    pairwise — the non-silent counterpart of its ``max_bucket`` guard
    (``plans.buckets``). A bucket that large is a mega duplicate cluster,
    not a similarity neighbourhood; for documents,
    dedup.near_dup_pairs_all connects such giants through
    Jaccard-verified hub edges."""
    return bucket_overflow(
        rp_lsh_buckets(emb, bits), ["bucket"], "vec_id", max_bucket
    ).withColumnRenamed("n", "n_vecs")


# --- KG-embedding inference (TransE scoring) -------------------------------

TRANSE_K = 3
_TRANSE_SPAN = 200000  # relation components in [-0.2, 0.2] micro-units


def transe_relation_vectors() -> dict[str, list[int]]:
    """Hash-seeded integer relation vectors per predicate — the
    inference-side stand-in for trained TransE relation embeddings
    (Bordes et al. 2013), same contract as the seeded CRF weights
    (operators/crf.py): no torch in the sandbox, so the TRAINED artifact
    is replaced by a deterministic one while the distributed INFERENCE
    path stays real. Derived driver-side with phash_py (the documented
    single source of truth for constant derivation), embedded as
    literals in both engines."""
    from hebrew_ner_spark.functions.hashing import phash_py
    from hebrew_ner_spark.resources import PREDICATE_TERMS

    return {
        p: [
            phash_py(f"TRE|{p}|{j}") % (2 * _TRANSE_SPAN + 1) - _TRANSE_SPAN
            for j in range(DIM)
        ]
        for p in PREDICATE_TERMS
    }


def _transe_scored(edges: DataFrame, emb: DataFrame) -> DataFrame:
    """(subj_id, pred, tail_id, energy) for EVERY candidate tail of every
    observed (head, relation) — the TransE link-scoring pass shared by
    transe_topk (proposal) and transe_ranks (evaluation). Energy is the
    exact-integer L1 ``sum_j |h_j + r_j - t_j|`` over micro-unit
    quantized embeddings; the head itself is excluded as its own tail.

    Plan shape: heads dedup to (subj_id, pred) grain; entity vectors and
    the 6x64 relation table BROADCAST onto them; candidates arrive via a
    broadcast crossJoin of the entity-node vector set — sound here
    because candidates are the closed entity vocabulary of the graph; at
    a 10^8-entity web KG the candidate set comes from the IVF/LSH ANN
    buckets instead (ivf_topk / rp_lsh_topk above) and this operator
    reranks bucket candidates with the SAME energy expression. Energy is
    one codegen'd array fold (zero Python, zero shuffle); the top-k
    window is per-(head, relation) and WindowGroupLimit pushes the
    partial top-k map-side.
    """

    spark = edges.sparkSession
    rv = spark.createDataFrame(
        [(p, v) for p, v in transe_relation_vectors().items()],
        "pred string, rv array<bigint>",
    )
    vecs = _micro_vecs(emb)
    nodes = (
        edges.select(F.col("subj_id").alias("eid"))
        .unionAll(edges.select(F.col("obj_id").alias("eid")))
        .distinct()
        .join(vecs, F.col("eid") == F.col("vec_id"))
        .select("eid", "mv")
    )
    heads = (
        edges.select("subj_id", "pred")
        .distinct()
        .join(F.broadcast(nodes.select(F.col("eid"), F.col("mv").alias("hv"))),
              F.col("subj_id") == F.col("eid"))
        .drop("eid")
        .join(F.broadcast(rv), "pred")
    )
    cands = F.broadcast(
        nodes.select(F.col("eid").alias("tail_id"), F.col("mv").alias("tv"))
    )
    scored = (
        heads.crossJoin(cands)
        .where(F.col("tail_id") != F.col("subj_id"))
        .select(
            "subj_id",
            "pred",
            "tail_id",
            F.expr(
                "aggregate(transform(sequence(0, size(hv) - 1),"
                " j -> abs(hv[j] + rv[j] - tv[j])), 0L, (acc, x) -> acc + x)"
            ).alias("energy"),
        )
    )
    return scored


def transe_topk(edges: DataFrame, emb: DataFrame, k: int = TRANSE_K) -> DataFrame:
    """(subj_id, pred, tail_id, energy, rk): top-k minimum-energy
    candidate tails per observed (head, relation) — see _transe_scored
    for the plan shape."""
    from pyspark.sql import Window

    scored = _transe_scored(edges, emb)
    w = Window.partitionBy("subj_id", "pred").orderBy(
        F.asc("energy"), F.asc("tail_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("subj_id", "pred", "tail_id", "energy", F.col("rk").cast("long").alias("rk"))
    )


def transe_ranks(edges: DataFrame, emb: DataFrame) -> DataFrame:
    """(subj_id, pred, tail_id, energy, rank): the TransE EVALUATION pass
    — the filtered rank (Bordes et al. 2013) of every TRUE tail among
    its (head, relation) candidates by (energy ASC, tail ASC); candidate
    rows that are themselves true tails of the same (head, relation) are
    filtered out of the rank, exactly the protocol link_pred_ranks uses
    for the RA scorer. rank = 1 means the embedding model retrieves the
    observed edge first.

    Plan adds to _transe_scored: one left join against the distinct true
    (subj, pred, obj) set and ONE (head, relation)-keyed window
    (row_number + bounded-preceding positive count share a single
    Sort + Exchange).
    """
    from pyspark.sql import Window

    scored = _transe_scored(edges, emb)
    truth = edges.select(
        "subj_id", "pred", F.col("obj_id").alias("tail_id")
    ).distinct().withColumn("is_pos", F.lit(1))
    lab = scored.join(truth, ["subj_id", "pred", "tail_id"], "left").withColumn(
        "is_pos", F.coalesce(F.col("is_pos"), F.lit(0)).cast("long")
    )
    order = Window.partitionBy("subj_id", "pred").orderBy(
        F.asc("energy"), F.asc("tail_id")
    )
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    rk = lab.withColumn("rn", F.row_number().over(order)).withColumn(
        "prev_pos", F.coalesce(F.sum("is_pos").over(prev), F.lit(0))
    )
    return rk.where(F.col("is_pos") == 1).select(
        "subj_id", "pred", "tail_id", "energy",
        (F.col("rn") - F.col("prev_pos")).cast("long").alias("rank"),
    )


# --- SemDeDup: semantic deduplication inside trained k-means cells ----

SEMDEDUP_TAU_1E6 = 950_000   # drop threshold (corpus-calibrated in practice)
SEMDEDUP_MAX_CELL = 4096     # pairwise-scoring ceiling per cell


def semantic_dedup(
    emb: DataFrame,
    cents: DataFrame | None = None,
    tau_1e6: int = SEMDEDUP_TAU_1E6,
    max_cell: int = SEMDEDUP_MAX_CELL,
) -> DataFrame:
    """(vec_id, cell, keep) — SemDeDup (Abbas et al. 2023): assign every
    embedding to its trained k-means cell, score exact cosines ONLY
    within a cell, and drop any vector that has a higher-priority
    (lower-id) neighbor at cosine >= tau — keep = 0 marks the dropped
    duplicates, one representative (the minimum id of each near-dup
    clique's reachable set... precisely: a vector survives iff NO
    lower-id same-cell vector clears tau against it, the deterministic
    keep-lowest rule).

    This is the embedding-space complement of the MinHash/SimHash text
    dedup plane: near-duplicate SEMANTICS (paraphrases, template
    rewrites) that share no shingles. The clustering makes the
    quadratic step local — k cells cut candidate pairs by ~k vs brute
    force; cells beyond ``max_cell`` would be excluded and surfaced
    (the emb_near_dups cap contract; at the gate corpus no cell
    approaches it). Cosines ride the same sequential-fold micro-unit
    path as every ANN gate, so scores hash identically cross-engine.

    Shape at 10^12 vectors: cell assignment is the IVF index build
    (one broadcast-centroid scoring pass); per-cell pairing shuffles
    on cell id with AQE handling size skew, and the pairwise kernel is
    the grouped-map matmul of embedding_near_dups for hot cells.
    Cites Abbas-Tirumala-Simig-Ganguli-Morcos (arXiv:2303.09540)."""
    if cents is None:
        cents = kmeans_centroids(emb)
    cells = ivf_assign(emb, cents=cents).select("vec_id", "cell")
    side = (
        _with_norm(emb.select("vec_id", "embedding"))
        .withColumnRenamed("_norm", "nrm")
        .join(cells, "vec_id")
    )
    a = side.select(
        F.col("cell"),
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = side.select(
        F.col("cell"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dot = (
        f"aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("va") < F.col("vb"))
        .select(
            "vb",
            F.expr(
                f"CAST(floor({dot} / (na * nb) * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("cos_1e6"),
        )
        .where(F.col("cos_1e6") >= tau_1e6)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("_d", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.when(F.col("_d").isNull(), 1).otherwise(0).cast("long").alias("keep"),
        )
    )


# --- approximate DBSCAN over the LSH eps-neighbor graph ---------------

DBSCAN_EPS_1E6 = 300_000  # cosine epsilon (micro-units)
DBSCAN_MIN_PTS = 3        # core iff |N_eps(p)| >= min_pts (self included)


def dbscan_approx(
    emb: DataFrame,
    eps_1e6: int = DBSCAN_EPS_1E6,
    min_pts: int = DBSCAN_MIN_PTS,
) -> DataFrame:
    """(vec_id, role, cluster) — density-based clustering (DBSCAN,
    Ester-Kriegel-Sander-Xu KDD'96) with the eps-neighborhood graph
    approximated by the gated LSH near-dup machinery — the standard
    scale concession (exact eps-range queries at 10^12 vectors are the
    ANN problem itself; production distributed DBSCAN uses exactly a
    bucketed candidate graph).

    Composition of already-gated primitives, nothing new at the
    physical layer: embedding_near_dups (bucketed grouped-map cosine
    pairs at threshold eps) -> degree aggregate (core = self + deg >=
    min_pts) -> connected_components over CORE-CORE edges (cluster id
    = min core id, the CC contract) -> border assignment by one join
    (min neighboring-core cluster, deterministic) -> everything else
    noise (cluster = -1). Roles are the DBSCAN taxonomy: 'core',
    'border', 'noise'.

    Shape at scale: the pair graph is bucket-capped (loud overflow),
    degree/role are vertex-grain aggregates, CC is the pointer-doubling
    operator (O(log n) rounds), border assignment one equi-join. The
    approximation is one-sided — missed cross-bucket eps-pairs can
    only split or shrink clusters, never merge them."""
    pairs = embedding_near_dups(emb, threshold=eps_1e6 / 1_000_000)
    sym = pairs.select(F.col("vec_a").alias("v"), F.col("vec_b").alias("u")).unionAll(
        pairs.select(F.col("vec_b").alias("v"), F.col("vec_a").alias("u"))
    )
    deg = sym.groupBy("v").agg(F.count("*").cast("long").alias("deg"))
    allv = emb.select("vec_id").distinct()
    roles = (
        allv.join(deg.withColumnRenamed("v", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            (F.coalesce("deg", F.lit(0)) + 1 >= min_pts).alias("is_core"),
        )
    )
    core = roles.where("is_core").select("vec_id")
    cc_edges = (
        sym.join(core.withColumnRenamed("vec_id", "v"), "v")
        .join(core.withColumnRenamed("vec_id", "u"), "u")
        .select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    from hebrew_ner_spark.operators.canonicalize import connected_components

    comp = connected_components(cc_edges)
    core_cluster = (
        core.join(comp.withColumnRenamed("vertex", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).cast("long").alias("cluster"),
        )
    )
    border = (
        sym.join(core_cluster.withColumnRenamed("vec_id", "u"), "u")
        .groupBy("v")
        .agg(F.min("cluster").cast("long").alias("bcluster"))
        .withColumnRenamed("v", "vec_id")
    )
    return (
        roles.join(core_cluster, "vec_id", "left")
        .join(border, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("bcluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(
                F.col("cluster"),
                F.col("bcluster"),
                F.lit(-1),
            )
            .cast("long")
            .alias("cluster"),
        )
    )
