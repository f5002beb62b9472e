"""Unsupervised Fellegi-Sunter parameter estimation by EM (the
Winkler 1988 latent-class formulation — the estimator behind Splink
and every modern probabilistic linker): learn lambda = P(match) and
per-field m = P(agree | match), u = P(agree | non-match) from the
UNLABELED agreement-vector histogram of the blocking candidates.

erscore.py computes m/u in closed form from planted gold groups; this
module is the production-shaped complement for corpora with NO gold:
the two-class mixture over 2^F agreement patterns, fitted by EM.

Exact-integer formulation (milli-unit probabilities, the PSI/DP-release
discipline):

  E-step per pattern a:  wm = lam * prod_f (a_f ? m_f : 1000 - m_f)
                         wu = (1000 - lam) * prod_f (a_f ? u_f : 1000 - u_f)
                         gamma = wm * 1000 DIV (wm + wu)
  M-step:  lam'  = sum n*gamma DIV sum n
           m_f'  = sum(n*gamma*a_f)        * 1000 DIV sum(n*gamma)
           u_f'  = sum(n*(1000-gamma)*a_f) * 1000 DIV sum(n*(1000-gamma))
  with every parameter clamped to [1, 999] (degenerate 0/1000 would
  zero a product and stall the mixture — Winkler's boundary guard).

Every quantity is int64-bounded (wm <= 1000^4; the M-step sums are
candidate-count * 1000-scale), every division truncates identically on
both engines, so the full 12-round TRAJECTORY hashes bit-exactly — the
gate certifies the deterministic schedule, not a float fixpoint.

Shape at 10^12 docs: the ONLY data-sized work is the agreement-pattern
histogram — one join of the capped LSH candidate table against the
field vectors, grouped to at most 2^F rows. EM itself runs on that
histogram (a broadcast-sized relation) as 12 rounds of one crossJoin +
one aggregate each; per-round state is a ONE-ROW parameter table,
lineage-broken each round. Nothing iterates over data.

Cites Fellegi-Sunter (JASA 1969), Winkler (1988, ASA Proc. Survey
Research Methods) and Dempster-Laird-Rubin (1977) for what is
computed. No reference counterpart; completes the ER plane per
SURVEY.md's extension plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.plans.rounds import lineage_breaker

EM_ROUNDS = 12
EM_FIELDS = ("fp", "lang", "lb")
EM_INIT_LAM = 100  # milli-units: P(match) starts at 0.1
EM_INIT_M = 900    # P(agree | match) starts at 0.9
EM_INIT_U = 100    # P(agree | non-match) starts at 0.1


def agreement_patterns(docs: DataFrame) -> DataFrame:
    """(a_fp, a_lang, a_lb, n) — the agreement-vector histogram of the
    capped-LSH blocking candidates: at most 2^3 rows, the sufficient
    statistic the whole EM runs on."""
    from hebrew_ner_spark.operators import dedup, erscore

    fields = erscore.doc_fields(docs)
    cand = dedup.lsh_candidate_pairs(docs)
    fa = fields.select(
        F.col("doc_id").alias("doc_a"),
        F.col("fp").alias("fp_a"),
        F.col("lang").alias("lang_a"),
        F.col("lb").alias("lb_a"),
    )
    fb = fields.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fp").alias("fp_b"),
        F.col("lang").alias("lang_b"),
        F.col("lb").alias("lb_b"),
    )
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            (F.col("fp_a") == F.col("fp_b")).cast("long").alias("a_fp"),
            (F.col("lang_a") == F.col("lang_b")).cast("long").alias("a_lang"),
            (F.col("lb_a") == F.col("lb_b")).cast("long").alias("a_lb"),
        )
        .groupBy("a_fp", "a_lang", "a_lb")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _with_posteriors(patterns: DataFrame, params: DataFrame) -> DataFrame:
    """Patterns x broadcast params, with wm/wu/gamma columns added."""
    prod_m = " * ".join(
        f"(CASE WHEN a_{f} = 1 THEN m_{f} ELSE 1000 - m_{f} END)"
        for f in EM_FIELDS
    )
    prod_u = " * ".join(
        f"(CASE WHEN a_{f} = 1 THEN u_{f} ELSE 1000 - u_{f} END)"
        for f in EM_FIELDS
    )
    return (
        patterns.crossJoin(F.broadcast(params))
        .withColumn("wm", F.expr(f"lam * {prod_m}"))
        .withColumn("wu", F.expr(f"(1000 - lam) * {prod_u}"))
        .withColumn("gamma", F.expr("wm * 1000 DIV (wm + wu)"))
    )


def _m_step(g: DataFrame) -> DataFrame:
    """One-row updated parameters from the posterior-weighted sums."""
    clamp = "CAST(least(greatest({x}, 1), 999) AS BIGINT)"
    exprs = [
        F.expr(clamp.format(x="sum(n * gamma) DIV sum(n)")).alias("lam")
    ]
    for f in EM_FIELDS:
        exprs.append(
            F.expr(
                clamp.format(x=f"sum(n * gamma * a_{f}) * 1000 DIV sum(n * gamma)")
            ).alias(f"m_{f}")
        )
        exprs.append(
            F.expr(
                clamp.format(
                    x=f"sum(n * (1000 - gamma) * a_{f}) * 1000 "
                    f"DIV sum(n * (1000 - gamma))"
                )
            ).alias(f"u_{f}")
        )
    return g.agg(*exprs)


_PARAM_COLS = ["lam"] + [c for f in EM_FIELDS for c in (f"m_{f}", f"u_{f}")]


def em_trajectory(docs: DataFrame, rounds: int = EM_ROUNDS) -> DataFrame:
    """(round, lam, m_fp, u_fp, m_lang, u_lang, m_lb, u_lb) — the full
    EM parameter trajectory (round r = parameters AFTER r+1 updates),
    every value a clamped milli-unit integer."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("emlink")
    pats = _persist("emlink", agreement_patterns(docs))
    brk = lineage_breaker(docs)

    spark = docs.sparkSession
    init = [EM_INIT_LAM] + [
        v for _ in EM_FIELDS for v in (EM_INIT_M, EM_INIT_U)
    ]
    params = brk(
        spark.createDataFrame(
            [tuple(init)], ", ".join(f"{c} long" for c in _PARAM_COLS)
        )
    )
    traj: list[DataFrame] = []
    for t in range(rounds):
        params = brk(_m_step(_with_posteriors(pats, params)))
        traj.append(
            params.select(F.lit(t).cast("long").alias("round"), *_PARAM_COLS)
        )
    out = traj[0]
    for r in traj[1:]:
        out = out.unionByName(r)
    return out


def em_posteriors(docs: DataFrame, rounds: int = EM_ROUNDS) -> DataFrame:
    """(a_fp, a_lang, a_lb, n, gamma_1e3) — per-pattern match
    posterior under the FINAL fitted parameters: the decision table a
    linker thresholds (every candidate pair inherits its pattern's
    gamma by a broadcast join — no per-pair EM state)."""
    from hebrew_ner_spark.operators.graphstats import _evict, _persist

    _evict("emlink")
    pats = _persist("emlink", agreement_patterns(docs))
    brk = lineage_breaker(docs)

    spark = docs.sparkSession
    init = [EM_INIT_LAM] + [
        v for _ in EM_FIELDS for v in (EM_INIT_M, EM_INIT_U)
    ]
    params = brk(
        spark.createDataFrame(
            [tuple(init)], ", ".join(f"{c} long" for c in _PARAM_COLS)
        )
    )
    for _ in range(rounds):
        params = brk(_m_step(_with_posteriors(pats, params)))
    return _with_posteriors(pats, params).select(
        "a_fp",
        "a_lang",
        "a_lb",
        "n",
        F.col("gamma").cast("long").alias("gamma_1e3"),
    )
