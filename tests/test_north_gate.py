"""The north-rule gates, asserted explicitly:

1. emitted (subj, pred, obj) triples match the reference-derived oracle
   at P/R >= 0.95 (they match exactly — the whole Spark chain is
   value-verified against DuckDB);
2. the end-to-end pipeline job runs and resumes through its checkpoints.
"""

import json
import os
import shutil
import subprocess
import sys

import duckdb

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_triples_pr_vs_oracle_at_least_095(spark):
    import __spark_entry__ as ent

    qs, oras = ent.queries(), ent.oracle_sql()
    pred = {
        (r.doc_id, r.word_index, r.subj, r.pred, r.obj)
        for r in qs["kg_triples"](spark, SF).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    gold = {tuple(t) for t in con.execute(oras["kg_triples"]).fetchall()}

    inter = len(pred & gold)
    p = inter / len(pred)
    r = inter / len(gold)
    assert p >= 0.95 and r >= 0.95
    assert p == 1.0 and r == 1.0  # exact, in fact


def test_pipeline_job_runs_and_resumes(tmp_path):
    out = str(tmp_path / "kg")
    cmd = [sys.executable, "scripts/run_pipeline.py", "--sf-dir", SF, "--out", out]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, cwd=ROOT)
    line = [l for l in r1.stdout.splitlines() if l.startswith("PIPELINE_SUMMARY ")]
    assert line, r1.stdout[-2000:] + r1.stderr[-2000:]
    s1 = json.loads(line[0].split(" ", 1)[1])
    assert all(not st["skipped"] for st in s1["stages"].values())
    assert s1["stages"]["triples"]["rows"] > 0
    assert s1["graph_snapshot_version"] == 1

    # crash simulation: lose one bucket of the triples stage
    shutil.rmtree(f"{out}/triples/part_id=3")
    ledger = f"{out}/_lineage/triples.jsonl"
    rows = [json.loads(l) for l in open(ledger)]
    with open(ledger, "w") as f:
        for row in rows:
            if row["part_id"] != 3:
                f.write(json.dumps(row) + "\n")

    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, cwd=ROOT)
    line = [l for l in r2.stdout.splitlines() if l.startswith("PIPELINE_SUMMARY ")]
    s2 = json.loads(line[0].split(" ", 1)[1])
    assert s2["stages"]["triples"]["processed"] == [3]       # only the lost bucket
    assert s2["stages"]["tokens"]["skipped"] is True         # everything else skips
    assert s2["stages"]["triples"]["rows"] == s1["stages"]["triples"]["rows"]
    # the graph stages all skipped, so the repaired rerun publishes
    # NOTHING new — v1 still describes the (identical) graph
    assert s2["graph_snapshot_version"] == 1

    # crash-during-publish recovery: stages are all checkpointed but no
    # snapshot version exists — the rerun must publish even though every
    # stage skips
    shutil.rmtree(f"{out}/graph")
    r3 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, cwd=ROOT)
    line = [l for l in r3.stdout.splitlines() if l.startswith("PIPELINE_SUMMARY ")]
    s3 = json.loads(line[0].split(" ", 1)[1])
    assert all(st["skipped"] for st in s3["stages"].values())
    assert s3["graph_snapshot_version"] == 1


def test_spark_submit_py_files_ship_path(tmp_path):
    """The literal north-rule ship path: zip the package, run a job via
    the real spark-submit binary with --py-files, import the registry
    from the zip and execute queries that cross every runtime surface
    (codegen chain + Arrow UDF + grouped decode + the hybrid chain's
    mapInArrow kernel)."""
    import zipfile

    import pyspark

    zip_path = str(tmp_path / "engine.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _, files in os.walk(os.path.join(ROOT, "hebrew_ner_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, ROOT))

    job = tmp_path / "job.py"
    job.write_text(
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.getOrCreate()\n"
        "from hebrew_ner_spark.queries import QUERIES\n"
        f"n1 = QUERIES['kg_web_triples'](spark, '{SF}').count()\n"
        f"n2 = QUERIES['mention_model_nbest'](spark, '{SF}').count()\n"
        f"n3 = QUERIES['hybrid_pipeline'](spark, '{SF}').count()\n"
        "print('SHIP', n1, n2, n3)\n"
    )
    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    r = subprocess.run(
        [spark_submit, "--master", "local[4]", "--py-files", zip_path, str(job)],
        capture_output=True, text=True, timeout=420,
    )
    ship = [l for l in r.stdout.splitlines() if l.startswith("SHIP ")]
    assert ship, r.stdout[-1500:] + r.stderr[-1500:]
    _, n1, n2, n3 = ship[0].split()
    assert int(n1) > 0 and int(n2) > 0 and int(n3) > 0
