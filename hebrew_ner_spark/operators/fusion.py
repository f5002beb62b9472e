"""Knowledge fusion: source-reliability weighted truth finding.

The reference emits labeled spans per request (ner_app.py:125-194) and
never has to reconcile CONFLICTING extractions, because one model sees
one document at a time. A corpus-scale KG build does: the same (subj,
pred, obj) fact arrives from thousands of pages across hosts of very
different quality, and the canonical answer (TruthFinder, Yin et al.
KDD'07; the Knowledge Vault fusion layer, Dong et al. KDD'14) is the
mutual-reinforcement fixpoint between fact confidence and source
reliability:

    conf(fact)  = sum of reliability over hosts asserting it
    rel(host)   = mean confidence over facts the host asserts

This is the HITS recurrence on the bipartite host/fact assertion graph,
so it takes the exact same engineering the KG centrality operators
already pin down (pagerank.py:119-198): a fixed small iteration count,
EXACT integer micro-unit arithmetic so a DuckDB oracle replays every
round bit-for-bit with the iterations unrolled as MATERIALIZED CTEs,
per-round max-rescale ((v * SCALE) DIV max) instead of float L1/L2
normalization, scalar maxes folded back via broadcast (never a driver
collect), and a per-round lineage break through the shared
``plans/rounds.py`` breaker because broadcast-of-aggregate plans
nest super-linearly across rounds otherwise.

Scale shape per iteration: two keyed join+agg shuffles (one keyed by
the fact, one by the host) over the DISTINCT assertion table, plus two
scalar max aggregates. The assertion table is built once, persisted,
and reused by both directions every round. A mega-fact (asserted by
half the web) or mega-host (asserting billions of facts) is ordinary
aggregation skew on those keys and takes the salted_agg plug-in; the
joins carry no broadcast hints so AQE picks broadcast only while the
reliability/confidence vectors are genuinely small.

Exactness bound: each raw confidence is <= SCALE * n_hosts(fact) and
each raw reliability sum is <= SCALE * n_facts(host); BIGINT holds
through ~9e12 assertions per key — beyond that drop SCALE (the oracle
scales with it, same rule as HITS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hebrew_ner_spark.plans.rounds import lineage_breaker

FUSION_ITERS = 2
FUSION_SCALE = 1_000_000

_FACT_KEY = ["subj", "pred", "obj"]


def _max_rescaled(raw: DataFrame, key: list[str], carry: str) -> DataFrame:
    """raw (key..., r, carry) -> (key..., v, carry): integer-rescale so
    max(v) == SCALE, carrying the count column through in the same pass
    (no self-join — the aggregate subplan runs once).

    The max is folded back via broadcast (one scalar row), never
    collected; GREATEST(max, 1) guards the empty/all-zero edge exactly
    like HITS ``_rescaled``. Unlike HITS there is no nodes left-join:
    every host asserts >= 1 fact and every fact has >= 1 asserting
    host, so neither side can go missing mid-iteration.
    """
    mx = raw.agg(F.greatest(F.max("r"), F.lit(1)).cast("long").alias("mx"))
    return raw.crossJoin(F.broadcast(mx)).select(
        *key,
        F.expr(f"CAST((r * {FUSION_SCALE}) DIV mx AS BIGINT)").alias("v"),
        carry,
    )


def _fusion(assertions: DataFrame, iters: int) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` rounds; returns (fact_conf, host_rel) as of the end.

    ``assertions`` must be DISTINCT (host, subj, pred, obj) rows — the
    caller's extraction dedups per host so a host spamming one fact on
    a million pages still votes once (the TruthFinder independence
    assumption, and what keeps the per-key sums evidence-bounded).
    """
    brk = lineage_breaker(assertions)
    a = assertions.select("host", *_FACT_KEY).distinct().persist(
        StorageLevel.MEMORY_AND_DISK_DESER
    )
    rel = a.select("host").distinct().select(
        "host", F.lit(FUSION_SCALE).cast("long").alias("v")
    )
    conf = None
    for _ in range(iters):
        c_raw = (
            a.join(rel.select("host", "v"), "host")
            .groupBy(*_FACT_KEY)
            .agg(F.sum("v").cast("long").alias("r"), F.count("*").alias("n_hosts"))
        )
        conf = brk(_max_rescaled(c_raw, _FACT_KEY, "n_hosts"))
        r_raw = (
            a.join(conf.select(*_FACT_KEY, "v"), _FACT_KEY)
            .groupBy("host")
            .agg(F.sum("v").cast("long").alias("s"), F.count("*").alias("n_facts"))
            .select(
                "host",
                F.expr("CAST(s DIV n_facts AS BIGINT)").alias("r"),
                "n_facts",
            )
        )
        rel = brk(_max_rescaled(r_raw, ["host"], "n_facts"))
    a.unpersist()
    return conf, rel


def fact_confidences(assertions: DataFrame, iters: int = FUSION_ITERS) -> DataFrame:
    """(subj, pred, obj, n_hosts, conf_1e6) — fused fact confidence.

    conf_1e6 == FUSION_SCALE marks the round's most-corroborated fact;
    singleton facts from low-reliability hosts land near the bottom.
    """
    conf, _ = _fusion(assertions, iters)
    return conf.select(*_FACT_KEY, "n_hosts", F.col("v").alias("conf_1e6"))


def source_reliability(
    assertions: DataFrame, iters: int = FUSION_ITERS
) -> DataFrame:
    """(host, n_facts, rel_1e6) — fused per-host source reliability."""
    _, rel = _fusion(assertions, iters)
    return rel.select("host", "n_facts", F.col("v").alias("rel_1e6"))


def fact_source_diversity(assertions: DataFrame) -> DataFrame:
    """(subj, pred, obj, n_pages, n_hosts, n_tlds, herf_1e6): source
    diversity per fact — the independence signal fact fusion's
    vote-dedup only approximates: a claim on 40 pages of ONE host is
    one voice, the same claim across 40 hosts and 5 TLDs is forty.
    herf_1e6 is the exact Herfindahl concentration of the fact's
    host-evidence shares (sum over hosts of (n_h/n)^2, micro-units,
    round-half-up): 1e6 = single-source, ->0 = maximally dispersed.

    ``assertions`` is evidence-grain (host, subj, pred, obj). Engine
    shape: one (fact, host) pre-aggregate (map-side combinable — the
    same two-level move that bounds mega-fact skew everywhere else),
    then one fact-keyed aggregate; no joins, no windows. The squared
    terms go through DECIMAL(38,0) (DuckDB HUGEINT on the oracle side)
    so a mega-fact's sum(nh^2) cannot overflow int64 — exact at any
    evidence count a 10^12-page corpus can produce."""
    per_host = (
        assertions.groupBy("subj", "pred", "obj", "host")
        .agg(F.count("*").cast("long").alias("nh"))
        .withColumn("_tld", F.expr("element_at(split(host, '\\\\.'), -1)"))
    )
    return per_host.groupBy("subj", "pred", "obj").agg(
        F.sum("nh").cast("long").alias("n_pages"),
        F.count("*").cast("long").alias("n_hosts"),
        F.count_distinct("_tld").cast("long").alias("n_tlds"),
        F.expr(
            "CAST((2 * 1000000 * sum(CAST(nh AS DECIMAL(38,0)) * nh)"
            " + CAST(sum(nh) AS DECIMAL(38,0)) * sum(nh))"
            " DIV (2 * CAST(sum(nh) AS DECIMAL(38,0)) * sum(nh)) AS BIGINT)"
        ).alias("herf_1e6"),
    )


def resolve_facts(assertions: DataFrame, iters: int = FUSION_ITERS) -> DataFrame:
    """(subj, pred, obj, conf_1e6, n_alternatives) — truth discovery's
    last step: ONE winning object per (subject, predicate) slot, chosen
    by fused confidence with a total deterministic tie order
    (conf desc, n_hosts desc, obj desc).

    The web asserts contradictory values for functional slots (different
    birthplaces, capitals, parents); fusion scores each candidate, and
    resolution picks the argmax per slot — the row the serving KG
    actually stores. One slot-keyed aggregate over the fact-grain
    confidence table: max(struct(conf, n_hosts, obj)) is a map-side-
    combinable argmax (no window sort, no per-slot row explosion —
    mega-slots with thousands of candidate objects fold partially on
    every partition). ``n_alternatives`` keeps the contradiction mass
    visible for the review queue.
    """
    conf = fact_confidences(assertions, iters)
    return (
        conf.groupBy("subj", "pred")
        .agg(
            F.max(
                F.struct(
                    F.col("conf_1e6").alias("c"),
                    F.col("n_hosts").alias("h"),
                    F.col("obj").alias("o"),
                )
            ).alias("_w"),
            F.count("*").cast("long").alias("n_alternatives"),
        )
        .select(
            "subj",
            "pred",
            F.col("_w.o").alias("obj"),
            F.col("_w.c").cast("long").alias("conf_1e6"),
            "n_alternatives",
        )
    )


N_CALIBRATION_BINS = 10


def fusion_calibration(
    assertions: DataFrame, iters: int = FUSION_ITERS
) -> DataFrame:
    """(bin, n_facts, sum_conf_1e6, n_correct, mean_conf_1e6, acc_1e6,
    gap_1e6) — the reliability diagram for the fused confidences: does a
    fact scored 0.9 actually win its slot ~90% of the time?

    "Correct" = the fact is its (subj, pred) slot's truth-discovery
    winner (the same total tie order resolve_facts uses), so the
    calibration target is self-contained — no external gold needed.
    Downstream consumers threshold on conf_1e6 when loading the serving
    KG; an uncalibrated score makes that threshold meaningless, which is
    why Knowledge Vault reports exactly this curve (Dong et al. 2014).

    Scale shape: the winner table is ONE slot-keyed map-side-combinable
    argmax over the fact-grain confidences (no window), the label join
    is fact-keyed, and the final rollup has <= N_CALIBRATION_BINS groups
    — partial aggregation makes the tiny key space a non-issue. gap_1e6
    is computed on the exact rationals (|n_correct*1e6 - sum_conf| / n,
    half-up) so no double rounding; ECE = sum(n_facts * gap_1e6) /
    sum(n_facts) is one more fold the caller can do on the 10 rows.
    """
    conf = fact_confidences(assertions, iters)
    winners = (
        conf.groupBy("subj", "pred")
        .agg(
            F.max(
                F.struct(
                    F.col("conf_1e6").alias("c"),
                    F.col("n_hosts").alias("h"),
                    F.col("obj").alias("o"),
                )
            ).alias("_w")
        )
        .select("subj", "pred", F.col("_w.o").alias("obj"), F.lit(1).alias("_win"))
    )
    # conf_1e6 is non-negative so the DIV-based bin is floor == trunc.
    labeled = conf.join(winners, ["subj", "pred", "obj"], "left").select(
        F.least(
            F.expr(f"conf_1e6 DIV {FUSION_SCALE // N_CALIBRATION_BINS}"),
            F.lit(N_CALIBRATION_BINS - 1).cast("long"),
        ).alias("bin"),
        F.col("conf_1e6"),
        F.coalesce(F.col("_win"), F.lit(0)).cast("long").alias("correct"),
    )
    agg = labeled.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_facts"),
        F.sum("conf_1e6").cast("long").alias("sum_conf_1e6"),
        F.sum("correct").cast("long").alias("n_correct"),
    )
    return agg.select(
        "bin",
        "n_facts",
        "sum_conf_1e6",
        "n_correct",
        F.expr("(2 * sum_conf_1e6 + n_facts) DIV (2 * n_facts)").alias(
            "mean_conf_1e6"
        ),
        F.expr("(2 * n_correct * 1000000 + n_facts) DIV (2 * n_facts)").alias(
            "acc_1e6"
        ),
        F.expr(
            "(2 * abs(n_correct * 1000000 - sum_conf_1e6) + n_facts)"
            " DIV (2 * n_facts)"
        ).alias("gap_1e6"),
    )
