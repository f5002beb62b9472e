"""Data-proportionality bench: sf0.1 vs sf1 (10x) on one exclusive
session (VERDICT r3 #1).

Runs the 4 headline chains (at 100k- and 1M-doc amortized corpora) and
the 15 slowest r3 gates at BOTH scale factors with the bench.py
protocol (force() full-column hash materialization, REPS median, slow
queries single-sampled), then prints one JSON line and writes
BENCH_SF1.json. Ratios ~<= 12x for data-grain queries certify linear
growth; streaming drains are fixed-cost and should sit near 1x.

Prereq: python scripts/make_sf1.py   (builds .benchdata/sf1)
Run exclusively — no concurrent Spark jobs on the host.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine from PYTHONPATH, not from sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

SF01 = "/root/testdata/sf0.1"
SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(ROOT, ".benchdata", "sf1"))
REPS = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
# override for targeted re-measurement of slow rows: a first sample above
# this bound is recorded as a single COLD sample (not comparable with a
# warm median — exactly the artifact-noise class VERDICT r4 flagged on
# the linkgraph headline)
REP_SKIP_SEC = float(os.environ.get("SPARK_GRAFT_REP_SKIP_SEC", "8.0"))

# the 15 slowest gates of BENCH_r03.json plus the hybrid chain
SLOWEST = [
    "stream_click_attribution",
    "web_host_msf",
    "stream_dedup_bounded",
    "cc_single_linkage",
    "web_bowtie",
    "er_resolution",
    "stream_stateful_sessions",
    "web_host_scc",
    "ann_ivfpq_topk",
    "eval_bcubed_dedup",
    "stream_mv_incremental",
    "cur_dedup_quality",
    "stream_stateful_totals",
    "dedup_ssjoin_exact",
    "kg_rdfs_types",
    "hybrid_pipeline",
    # r5 (VERDICT r4 #8): the whole exact set-similarity family rides the
    # committed artifact so the occupancy-budget fix is measurable
    # round-over-round
    "dedup_containment",
    "dedup_ssjoin_routing",
    "web_stable_matching",
]

HEADLINES = [
    ("kg", "kg_triple_counts"),
    ("hybrid", "hybrid_pipeline"),
    ("deppat", "kg_edges_typed"),
    ("linkgraph", "web_link_graph"),
]


def main() -> None:
    from bench import force
    from hebrew_ner_spark.bench_corpus import build_replicated
    from hebrew_ner_spark.queries import QUERIES
    from hebrew_ner_spark.session import get_spark
    from hebrew_ner_spark.sources.catalog import load_table

    spark = get_spark("bench-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    for d in (SF01, SF1):
        for t in ("documents", "lineitem", "orders", "embeddings", "events"):
            spark.read.parquet(os.path.join(d, f"{t}.parquet")).count()

    def timed(name, sf_dir):
        fn = QUERIES[name]
        samples = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            try:
                force(fn(spark, sf_dir))
            except Exception as e:  # loud-guard trips are findings, not crashes
                return {"error": f"{type(e).__name__}: {str(e)[:200]}"}
            samples.append(time.perf_counter() - t0)
            if samples[0] > REP_SKIP_SEC:
                break
        samples.sort()
        return {"median": round(samples[(len(samples) - 1) // 2], 3),
                "n_samples": len(samples)}

    queries = {}
    for name in SLOWEST:
        a = timed(name, SF01)
        b = timed(name, SF1)
        row = {"sf01": a, "sf1": b}
        if "median" in a and "median" in b:
            row["ratio"] = round(b["median"] / a["median"], 2)
        queries[name] = row
        print(f"{name}: {json.dumps(row)}", flush=True)

    # headline chains at amortized corpora: 100k docs (from sf0.1) and
    # 1M docs (from sf1) — per-doc rates must agree within ~2x
    import tempfile

    h100k = os.path.join(tempfile.gettempdir(), "sf1bench_h100k")
    h1m = os.path.join(tempfile.gettempdir(), "sf1bench_h1m")
    n01 = load_table(spark, SF01, "documents").count()
    n1 = load_table(spark, SF1, "documents").count()
    nd100k = build_replicated(spark, SF01, h100k, max(1, -(-100_000 // n01)), n_src=n01)
    nd1m = build_replicated(spark, SF1, h1m, max(1, -(-1_000_000 // n1)), n_src=n1)

    headlines = {}
    for label, qname in HEADLINES:
        row = {}
        for tag, hdir, nd in (("100k", h100k, nd100k), ("1m", h1m, nd1m)):
            force(QUERIES[qname](spark, hdir))  # warm
            t0 = time.perf_counter()
            force(QUERIES[qname](spark, hdir))
            wall = time.perf_counter() - t0
            row[f"docs_per_sec_{tag}"] = round(nd / wall, 1)
            row[f"wall_{tag}"] = round(wall, 3)
        row["rate_ratio_1m_vs_100k"] = round(
            row["docs_per_sec_1m"] / row["docs_per_sec_100k"], 3
        )
        headlines[label] = row
        print(f"headline {label}: {json.dumps(row)}", flush=True)

    out = {
        "queries": queries,
        "headlines": headlines,
        "headline_docs": {"100k": nd100k, "1m": nd1m},
        "reps": REPS,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)),
        "sf_pair": [0.1, 1.0],
    }
    # carry forward artifact sections a plain re-run does not regenerate
    # (the r4 occupancy diagnostics and the 30-gate extended sweep), so
    # round-over-round deltas stay comparable in one file
    try:
        with open(os.path.join(ROOT, "BENCH_SF1.json")) as f:
            prev = json.load(f)
        for k in ("ssjoin_diag", "queries_extended"):
            if k in prev and k not in out:
                out[k] = prev[k]
    except (OSError, json.JSONDecodeError):
        pass
    out["note"] = (
        "r5 re-run after the fused hybrid plan and the occupancy-budgeted "
        "exact similarity joins; ssjoin_diag/queries_extended carried from "
        "the r4 artifact for comparison"
    )
    with open(os.path.join(ROOT, "BENCH_SF1.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
