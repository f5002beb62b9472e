"""Resumability tests (SURVEY.md §5 item 4): kill-after-stage-k semantics
simulated by deleting lineage rows + partition dirs, then asserting that a
rerun recomputes only the missing buckets and the final table is
identical to a from-scratch run."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from hebrew_ner_spark.operators import kg
from hebrew_ner_spark.plans import checkpoint

SF = "/root/testdata/sf0.001"


def _tokens(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return kg.doc_tokens(docs)


def test_stage_runs_then_skips(spark, tmp_path):
    out = str(tmp_path / "wh")
    df = _tokens(spark)
    mode_conf = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_conf)
    r1 = checkpoint.run_stage(df, out, "tokens", key="doc_id", n_buckets=4)
    assert r1["processed"] == [0, 1, 2, 3]
    # dynamic overwrite is a per-write option, not a session side effect
    assert spark.conf.get(mode_conf) == mode_before
    r2 = checkpoint.run_stage(df, out, "tokens", key="doc_id", n_buckets=4)
    assert r2["skipped"] is True

    written = checkpoint.read_stage(spark, out, "tokens")
    assert written.count() == df.count()


def test_resume_recomputes_only_missing_buckets(spark, tmp_path):
    out = str(tmp_path / "wh")
    df = _tokens(spark)
    checkpoint.run_stage(df, out, "tokens", key="doc_id", n_buckets=4, run_id="r1")
    full = checkpoint.read_stage(spark, out, "tokens").toPandas()

    # simulate a crash that lost buckets 1 and 3
    ledger = checkpoint._lineage_path(out, "tokens")
    rows = [json.loads(l) for l in open(ledger)]
    keep = [r for r in rows if r["part_id"] not in (1, 3)]
    with open(ledger, "w") as f:
        for r in keep:
            f.write(json.dumps(r) + "\n")
    for b in (1, 3):
        shutil.rmtree(os.path.join(out, "tokens", f"part_id={b}"))

    r = checkpoint.run_stage(df, out, "tokens", key="doc_id", n_buckets=4, run_id="r2")
    assert r["processed"] == [1, 3]

    resumed = checkpoint.read_stage(spark, out, "tokens").toPandas()
    key = ["doc_id", "word_index"]
    assert (
        resumed.sort_values(key).reset_index(drop=True)[["doc_id", "word_index", "token"]]
        .equals(full.sort_values(key).reset_index(drop=True)[["doc_id", "word_index", "token"]])
    )

    # lineage records which run recomputed what
    m = checkpoint.stage_metrics(spark, out, "tokens").toPandas()
    assert set(m[m.run_id == "r2"].part_id) == {1, 3}
    assert set(m.part_id) == {0, 1, 2, 3}


def test_bucket_assignment_deterministic(spark):
    df = _tokens(spark)
    a = checkpoint.with_bucket(df, "doc_id", 8).groupBy("part_id").count().toPandas()
    b = checkpoint.with_bucket(df, "doc_id", 8).groupBy("part_id").count().toPandas()
    assert a.sort_values("part_id").equals(b.sort_values("part_id"))


def test_stage_evaluates_input_once(spark, tmp_path):
    # the ledger's n_rows come from the written files, so an expensive
    # upstream plan (dedup, the mentions model) runs once per stage
    out = str(tmp_path / "wh")
    calls = spark.sparkContext.accumulator(0)

    def bump(x):
        calls.add(1)
        return x

    # nondeterministic: the bucket filter must not be pushed below the
    # UDF, which would call it twice within the one write
    bump_udf = F.udf(bump, "long").asNondeterministic()
    df = spark.range(200).select(bump_udf("id").alias("doc_id"))
    checkpoint.run_stage(df, out, "ids", key="doc_id", n_buckets=4)
    assert calls.value == 200
    m = checkpoint.stage_metrics(spark, out, "ids").toPandas()
    assert sorted(m.part_id) == [0, 1, 2, 3]
    assert m.n_rows.sum() == 200
    written = checkpoint.read_stage(spark, out, "ids").groupBy("part_id").count()
    assert dict(zip(m.part_id, m.n_rows)) == {
        r.part_id: r["count"] for r in written.collect()
    }


def test_empty_stage_records_zero_rows(spark, tmp_path):
    out = str(tmp_path / "wh")
    df = spark.range(0).select(F.col("id").alias("doc_id"))
    r = checkpoint.run_stage(df, out, "ids", key="doc_id", n_buckets=2)
    assert r["processed"] == [0, 1]
    m = checkpoint.stage_metrics(spark, out, "ids").toPandas()
    assert list(m.n_rows) == [0, 0]


def test_torn_ledger_row_is_redone(spark, tmp_path):
    """A crash mid-append leaves an unterminated last ledger row: its
    bucket never committed, so the rerun redoes it instead of raising,
    and the ledger stays one row per line."""
    out = str(tmp_path / "wh")
    df = _tokens(spark)
    checkpoint.run_stage(df, out, "tokens", key="doc_id", n_buckets=2)
    ledger = checkpoint._lineage_path(out, "tokens")
    rows = {json.loads(l)["part_id"]: l for l in open(ledger)}
    with open(ledger, "w") as f:
        f.write(rows[0] + rows[1][: len(rows[1]) // 2])

    r = checkpoint.run_stage(df, out, "tokens", key="doc_id", n_buckets=2)
    assert r["processed"] == [1]
    assert [row["part_id"] for row in checkpoint.read_lineage(out, "tokens")] == [0, 1]
    assert len(open(ledger).read().splitlines()) == 2

    # a malformed row that did end its line is corruption, not a torn append
    with open(ledger, "a") as f:
        f.write('{"part_id": \n')
    with pytest.raises(json.JSONDecodeError):
        checkpoint.read_lineage(out, "tokens")
