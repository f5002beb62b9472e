"""Resumable stage checkpointing with per-partition lineage + metrics.

North-rule requirement (SURVEY.md §2.10): incremental here means
*resumability*, not streaming. Every stage:

1. assigns each row a deterministic bucket ``part_id = pmod(xxhash64(key),
   n_buckets)`` — stable across reruns and cluster sizes, so stage
   boundaries never reshuffle when consecutive stages share the key
   (the Iceberg bucket-transform contract; parquet directory partitions
   in the sandbox);
2. consults the stage's lineage ledger and processes **only buckets
   without a committed lineage row** (the ledger left-anti join made
   driver-side — bucket counts are tiny);
3. writes each bucket's rows under ``part_id=<b>/`` and then appends one
   lineage row ``(stage, part_id, n_rows, wall_ms, run_id)`` — output
   first, ledger second, so a crash between the two re-processes the
   bucket (idempotent: dynamic partition overwrite replaces it).

A rerun after a mid-job kill therefore recomputes exactly the missing
buckets and byte-identical output (all stage kernels are deterministic).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"


def with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """Deterministic bucket column (never random; resume-stable)."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("long")
    )


def _lineage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, LINEAGE_DIR, f"{stage}.jsonl")


def read_lineage(out_dir: str, stage: str) -> list[dict]:
    p = _lineage_path(out_dir, stage)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        lines = f.read().split("\n")
    # the last piece is "" after a complete append; anything else is a
    # row torn by a crash mid-append, which never committed its bucket
    return [json.loads(line) for line in lines[:-1] if line.strip()]


def _append_lineage(out_dir: str, stage: str, rows: list[dict]) -> None:
    p = _lineage_path(out_dir, stage)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "a+b") as f:
        # cut a torn row (see read_lineage) so the new rows start a line
        f.seek(0)
        f.truncate(f.read().rfind(b"\n") + 1)
        f.write("".join(json.dumps(r) + "\n" for r in rows).encode())


def run_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    key: str,
    n_buckets: int = 8,
    run_id: str = "run",
) -> dict:
    """Execute one checkpointed stage; returns a summary dict.

    On a cluster this is one write with dynamic partition overwrite for
    the todo-bucket subset. Lineage commits per completed bucket group.
    The overwrite mode is a per-write option, so the caller's session
    keeps its own ``spark.sql.sources.partitionOverwriteMode``.
    """
    done = {r["part_id"] for r in read_lineage(out_dir, stage)}
    bucketed = with_bucket(df, key, n_buckets)
    todo = sorted(set(range(n_buckets)) - done)
    if not todo:
        return {"stage": stage, "skipped": True, "processed": [], "done": sorted(done)}

    t0 = time.perf_counter()
    in_todo = F.col("part_id").isin([int(b) for b in todo])
    subset = bucketed.where(in_todo)
    stage_dir = os.path.join(out_dir, stage)
    (
        subset.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id")
        .parquet(stage_dir)
    )
    wall_ms = int((time.perf_counter() - t0) * 1000)

    # the ledger describes the files just written: count them back
    # (a partition-pruned scan) instead of re-running the input plan
    counts = {
        int(r["part_id"]): int(r["n"])
        for r in df.sparkSession.read.schema(subset.schema)
        .parquet(stage_dir)
        .where(in_todo)
        .groupBy("part_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    _append_lineage(
        out_dir,
        stage,
        [
            {
                "stage": stage,
                "part_id": int(b),
                "n_rows": counts.get(int(b), 0),
                "wall_ms": wall_ms,
                "run_id": run_id,
            }
            for b in todo
        ],
    )
    return {"stage": stage, "skipped": False, "processed": todo, "done": sorted(done | set(todo))}


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, stage))


def stage_metrics(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """The lineage/metrics ledger as a DataFrame (per-partition rows)."""
    rows = read_lineage(out_dir, stage)
    if not rows:
        return spark.createDataFrame(
            [], "stage string, part_id long, n_rows long, wall_ms long, run_id string"
        )
    return spark.createDataFrame(rows).select(
        "stage",
        F.col("part_id").cast("long"),
        F.col("n_rows").cast("long"),
        F.col("wall_ms").cast("long"),
        "run_id",
    )
