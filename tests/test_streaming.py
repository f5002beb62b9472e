"""Structured-Streaming incremental tests: exactly-once file ingestion
through the batch stage kernels, and watermarked event-time windows."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hebrew_ner_spark.operators import kg, relational
from hebrew_ner_spark.streaming import incremental

SF = "/root/testdata/sf0.001"


def test_incremental_triples_processes_only_new_files(spark, tmp_path):
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    half1 = docs.where("doc_id % 2 = 0")
    half2 = docs.where("doc_id % 2 = 1")
    half1.coalesce(1).write.parquet(str(tmp_path / "h1"))
    half2.coalesce(1).write.parquet(str(tmp_path / "h2"))

    def land(tmp_dir, name):
        part = [f for f in os.listdir(tmp_dir) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(tmp_dir, part), os.path.join(src, name))

    # first drain: only half1 has landed
    land(str(tmp_path / "h1"), "f1.parquet")
    n1 = incremental.run_incremental_triples(spark, src, out, ckpt)
    assert n1 >= 1
    got1 = spark.read.parquet(f"{out}/triples").count()
    assert got1 == kg.doc_triples(half1).count()

    # second drain: half2 lands; the file-source checkpoint must skip f1
    land(str(tmp_path / "h2"), "f2.parquet")
    incremental.run_incremental_triples(spark, src, out, ckpt)
    got2 = spark.read.parquet(f"{out}/triples").count()
    assert got2 == kg.doc_triples(docs).count()

    # third drain with nothing new: no additional rows
    incremental.run_incremental_triples(spark, src, out, ckpt)
    assert spark.read.parquet(f"{out}/triples").count() == got2


def test_incremental_sink_is_idempotent_under_replay(spark, tmp_path):
    """Exactly-once: replaying the same micro-batches (checkpoint lost,
    files re-read in the same order) must overwrite the per-batch
    directories, not duplicate rows — a plain append sink would double
    the output here."""
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    docs = spark.read.parquet(f"{SF}/documents.parquet").where("doc_id < 40")
    docs.coalesce(1).write.parquet(str(tmp_path / "h"))
    part = [f for f in os.listdir(str(tmp_path / "h")) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(str(tmp_path / "h"), part), os.path.join(src, "f.parquet"))

    incremental.run_incremental_triples(spark, src, out, ckpt)
    first = spark.read.parquet(f"{out}/triples").count()
    assert first == kg.doc_triples(docs).count()

    # simulate a crash that lost the streaming checkpoint: full replay
    shutil.rmtree(ckpt)
    incremental.run_incremental_triples(spark, src, out, ckpt)
    assert spark.read.parquet(f"{out}/triples").count() == first

    # harder replay: a second file had landed (two batches written), then
    # the checkpoint is lost — the restarted numbering must not leave the
    # old batch_id=1 directory double-counting rows
    docs2 = spark.read.parquet(f"{SF}/documents.parquet").where(
        "doc_id >= 40 AND doc_id < 60"
    )
    docs2.coalesce(1).write.parquet(str(tmp_path / "h2"))
    part2 = [f for f in os.listdir(str(tmp_path / "h2")) if f.endswith(".parquet")][0]
    shutil.copy(
        os.path.join(str(tmp_path / "h2"), part2), os.path.join(src, "g.parquet")
    )
    incremental.run_incremental_triples(spark, src, out, ckpt)
    both = kg.doc_triples(docs.unionByName(docs2)).count()
    assert spark.read.parquet(f"{out}/triples").count() == both
    shutil.rmtree(ckpt)
    incremental.run_incremental_triples(spark, src, out, ckpt)
    assert spark.read.parquet(f"{out}/triples").count() == both


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
def test_lost_checkpoint_resets_output(spark, tmp_path, uri):
    """A lost checkpoint starts a new output lifetime: after a shorter
    replay only the replayed batches may remain, whether the paths are
    plain or URIs (the reset goes through the Hadoop FileSystem)."""
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = docs.where("doc_id < 40")
    b = docs.where("doc_id >= 40 AND doc_id < 60")
    _stage_wave(spark, src, "a.parquet", a, 1_700_000_000)
    _stage_wave(spark, src, "b.parquet", b, 1_700_000_010)

    def path(name):
        p = str(tmp_path / name)
        return "file://" + p if uri else p

    def drain():
        return incremental.run_incremental_triples(
            spark, path("incoming"), path("out"), path("ckpt")
        )

    assert drain() == 2
    shutil.rmtree(str(tmp_path / "ckpt"))
    os.remove(os.path.join(src, "b.parquet"))
    assert drain() == 1

    triples = str(tmp_path / "out" / "triples")
    batches = [d for d in os.listdir(triples) if d.startswith("batch_id=")]
    assert batches == ["batch_id=0"]
    want = kg.doc_triples(a)
    got = spark.read.parquet(path("out") + "/triples").select(*want.columns)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_bounded_dedup_lost_checkpoint_keeps_new_rows(spark, tmp_path):
    """The file sink skips batch ids its metadata log already committed:
    a drain restarted on a lost checkpoint must reset its output, or the
    rows landed since are silently dropped."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def wave(name, ids, mtime):
        df = spark.createDataFrame(
            [(k, "t", "en", "s", 1) for k in ids],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).withColumn("ts", F.expr("TIMESTAMP '2024-01-01 00:00:00'"))
        _stage_wave(spark, src, name, df, mtime)

    wave("a.parquet", [1, 2, 3], 1_700_000_000)
    incremental.run_bounded_stream_dedup(spark, src, out, ckpt)
    shutil.rmtree(ckpt)
    wave("b.parquet", [4, 5], 1_700_000_010)
    incremental.run_bounded_stream_dedup(spark, src, out, ckpt)
    ids = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 3, 4, 5]


def test_windowed_event_counts_match_batch_up_to_watermark(spark, tmp_path):
    src = str(tmp_path / "events_in")
    out = str(tmp_path / "agg_out")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(src)
    shutil.copy(f"{SF}/events.parquet", os.path.join(src, "e1.parquet"))

    incremental.run_windowed_event_counts(spark, src, out, ckpt)
    got = {
        (r.hour_ms, r.event_type): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    assert got, "no windows emitted"

    batch = {
        (r.hour_ms, r.event_type): r.n_events
        for r in relational.hourly_event_counts(
            spark.read.parquet(f"{SF}/events.parquet")
        ).collect()
    }
    # append mode emits only watermark-closed windows: emitted subset must
    # match batch exactly, and cover everything older than the last ~3h
    for k, v in got.items():
        assert batch[k] == v
    assert len(got) >= 0.5 * len(batch)


def test_streaming_dedup_state_survives_across_runs(spark, tmp_path):
    """dropDuplicates keyed state lives in the checkpoint: a text that
    arrived in run 1 is dropped when a mirror re-lands it in run 2."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(src)

    docs = spark.read.parquet(f"{SF}/documents.parquet").where("doc_id < 30")

    def land(df, name):
        d = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(d, part), os.path.join(src, name))

    land(docs, "f1.parquet")
    incremental.run_incremental_unique_docs(spark, src, out, ckpt)
    first = spark.read.parquet(f"{out}/unique").count()
    assert first == 30  # corpus texts are unique

    # run 2: the same 30 texts under new doc_ids, plus 10 genuinely new
    from pyspark.sql import functions as F

    mirrors = docs.select((F.col("doc_id") + 50000).alias("doc_id"), "text",
                          "lang", "source", "n_chars")
    fresh = spark.read.parquet(f"{SF}/documents.parquet").where(
        "doc_id >= 30 AND doc_id < 40"
    )
    land(mirrors.unionByName(fresh), "f2.parquet")
    incremental.run_incremental_unique_docs(spark, src, out, ckpt)
    got = spark.read.parquet(f"{out}/unique")
    assert got.count() == 40  # 30 originals + 10 fresh; 30 mirrors dropped
    assert got.where("doc_id >= 50000").count() == 0


def test_stateful_entity_totals_accumulate_across_runs(spark, tmp_path):
    """applyInPandasWithState: per-entity running totals restore from the
    checkpointed state store and keep accumulating in later drains."""
    src = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ck2")
    os.makedirs(src)

    half1 = spark.read.parquet(f"{SF}/documents.parquet").where("doc_id < 25")
    half2 = spark.read.parquet(f"{SF}/documents.parquet").where(
        "doc_id >= 25 AND doc_id < 50"
    )

    def land(df, name):
        d = str(tmp_path / ("st_" + name))
        df.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(d, part), os.path.join(src, name))

    def latest_totals():
        df = spark.read.parquet(f"{out}/entity_totals").toPandas()
        return df.sort_values("total").groupby("entity")["total"].max().to_dict()

    def batch_counts(df):
        from pyspark.sql import functions as F

        return {
            r.entity: r.n
            for r in kg.doc_token_labels(df)
            .where("label <> 'O'")
            .groupBy(F.col("token").alias("entity"))
            .agg(F.count("*").alias("n"))
            .collect()
        }

    land(half1, "g1.parquet")
    incremental.run_stateful_entity_totals(spark, src, out, ckpt)
    c1 = batch_counts(half1)
    t1 = latest_totals()
    assert t1 == c1

    land(half2, "g2.parquet")
    incremental.run_stateful_entity_totals(spark, src, out, ckpt)
    c2 = batch_counts(half2)
    expected = {e: c1.get(e, 0) + c2.get(e, 0) for e in set(c1) | set(c2)}
    t2 = latest_totals()
    for e, n in expected.items():
        assert t2[e] == n, (e, t2.get(e), n)


def test_incremental_link_graph_fold_equals_batch(spark, tmp_path):
    from hebrew_ner_spark.operators import weblinks
    from hebrew_ner_spark.sources.catalog import load_table

    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    docs = load_table(spark, SF, "documents").limit(60)
    pages = weblinks.synth_linked_pages(docs)
    wave1 = pages.where(F.element_at(F.split("url", "/"), -1).cast("long") < 30)
    wave2 = pages.where(F.element_at(F.split("url", "/"), -1).cast("long") >= 30)

    wave1.coalesce(1).write.mode("append").parquet(src)
    n1 = incremental.run_incremental_link_graph(spark, src, out, ckpt)
    assert n1 >= 1
    g1 = {tuple(r) for r in incremental.read_link_graph(spark, out).collect()}
    want1 = {tuple(r) for r in weblinks.link_edges(wave1).collect()}
    assert g1 == want1

    # second wave: only the new files process, and the fold now equals
    # the batch build over EVERYTHING
    wave2.coalesce(1).write.mode("append").parquet(src)
    n2 = incremental.run_incremental_link_graph(spark, src, out, ckpt)
    assert n2 >= 1
    folded = {tuple(r) for r in incremental.read_link_graph(spark, out).collect()}
    want = {tuple(r) for r in weblinks.link_edges(pages).collect()}
    assert folded == want


def test_read_link_graph_empty_drain(spark, tmp_path):
    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # drain an empty source: zero batches, nothing written
    n = incremental.run_incremental_link_graph(spark, src, out, ckpt)
    assert n == 0
    assert incremental.read_link_graph(spark, out).count() == 0


def test_incremental_postings_fold_equals_batch(spark, tmp_path):
    from hebrew_ner_spark.operators import search, weblinks
    from hebrew_ner_spark.sources.catalog import load_table

    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    docs = load_table(spark, SF, "documents").limit(40)
    pages = weblinks.synth_linked_pages(docs)
    wave1 = pages.where(F.element_at(F.split("url", "/"), -1).cast("long") < 20)
    wave2 = pages.where(F.element_at(F.split("url", "/"), -1).cast("long") >= 20)

    def batch_postings(p):
        return search.term_postings(
            p.select(F.xxhash64("url").alias("doc_id"), "text")
        )

    wave1.coalesce(1).write.mode("append").parquet(src)
    n1 = incremental.run_incremental_postings(spark, src, out, ckpt)
    assert n1 >= 1
    got1 = {tuple(r) for r in incremental.read_postings(spark, out).collect()}
    assert got1 == {tuple(r) for r in batch_postings(wave1).collect()}

    wave2.coalesce(1).write.mode("append").parquet(src)
    n2 = incremental.run_incremental_postings(spark, src, out, ckpt)
    assert n2 >= 1
    folded = {tuple(r) for r in incremental.read_postings(spark, out).collect()}
    assert folded == {tuple(r) for r in batch_postings(pages).collect()}


def test_read_postings_empty_drain(spark, tmp_path):
    out = str(tmp_path / "out")
    assert incremental.read_postings(spark, out).count() == 0


def test_stream_stream_attribution_join(spark, tmp_path):
    """Stream-stream interval join == the batch join, across micro-batch
    boundaries: time-ordered landings, clicks in the second batch must
    still find first-batch views inside the watermark horizon."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    clicks_dir = str(tmp_path / "clicks")
    views_dir = str(tmp_path / "views")
    os.makedirs(clicks_dir)
    os.makedirs(views_dir)

    mid = ev.selectExpr(
        "timestamp_micros(CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY unix_micros(CAST(ts AS TIMESTAMP))) AS BIGINT)) AS m"
    ).collect()[0][0]

    def land(df, tmp_dir, dest_dir, name):
        df.coalesce(1).write.parquet(tmp_dir)
        part = [f for f in os.listdir(tmp_dir) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(tmp_dir, part), os.path.join(dest_dir, name))

    # chronological two-file landings per side (the ingest reality)
    for side, d in (("click", clicks_dir), ("view", views_dir)):
        sub = ev.where(F.col("event_type") == side)
        land(sub.where(F.col("ts") <= mid), str(tmp_path / f"{side}1"), d, "f1.parquet")
        land(sub.where(F.col("ts") > mid), str(tmp_path / f"{side}2"), d, "f2.parquet")

    out = str(tmp_path / "out")
    incremental.run_attribution_join(
        spark, clicks_dir, views_dir, out, str(tmp_path / "ckpt")
    )
    got = {
        (r.click_id, r.view_id)
        for r in spark.read.parquet(out).collect()
    }
    c = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").cast("timestamp").alias("cts"),
    )
    v = ev.where("event_type = 'view'").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("vu"),
        F.col("ts").cast("timestamp").alias("vts"),
    )
    want = {
        (r.click_id, r.view_id)
        for r in c.join(
            v,
            (F.col("cu") == F.col("vu"))
            & (F.col("vts") <= F.col("cts"))
            & (F.col("vts") >= F.col("cts") - F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    }
    assert want, "the batch join must be non-empty for the test to bite"
    assert got == want


def test_streaming_mv_fold_equals_batch_ivm(spark, tmp_path):
    """Streaming IVM: per-batch delta folds across BOTH micro-batches
    and drains (state = the batch-versioned MV snapshot) must equal the
    one-shot batch IVM over the full change set."""
    from hebrew_ner_spark.operators import maintenance as mnt
    from hebrew_ner_spark.streaming.incremental import run_streaming_mv

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    base_path = str(tmp_path / "base")
    orders.write.parquet(base_path)
    changes = mnt.synth_order_changes(orders)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def land(df, tmp_dir, name):
        df.coalesce(1).write.parquet(tmp_dir)
        part = [f for f in os.listdir(tmp_dir) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(tmp_dir, part), os.path.join(src, name))

    # first drain: half the CDC batch
    land(changes.where("o_orderkey % 2 = 0"), str(tmp_path / "c1"), "f1.parquet")
    last1 = run_streaming_mv(spark, base_path, src, out, ckpt)
    assert last1 == 0

    # second drain: the rest lands; the fold must CONTINUE from the
    # checkpointed version, not restart from the base MV
    land(changes.where("o_orderkey % 2 = 1"), str(tmp_path / "c2"), "f2.parquet")
    last2 = run_streaming_mv(spark, base_path, src, out, ckpt)
    assert last2 == 1

    got = {
        (r.o_orderstatus, r.bucket): (r.revenue_cents, r.n_orders)
        for r in spark.read.parquet(f"{out}/mv/batch_id={last2}").collect()
    }
    want = {
        (r.o_orderstatus, r.bucket): (r.revenue_cents, r.n_orders)
        for r in mnt.mv_incremental(orders, changes).collect()
    }
    assert got == want and want


def test_bounded_dedup_eviction_lag(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a batch runs under the PREVIOUS
    batch's watermark and evicts state only after its dedup check, so a
    re-landing one batch after the clock advances is still suppressed,
    while a re-landing two batches after re-emits."""
    from hebrew_ner_spark.streaming.incremental import (
        run_bounded_stream_dedup,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)

    def wave(i, rows):
        df = spark.createDataFrame(
            [(k, "t", "en", "s", 1, ts) for k, ts in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long, t string",
        ).withColumn("ts", F.col("t").cast("timestamp")).drop("t")
        d = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (1_700_000_000 + 10 * i,) * 2)

    wave(0, [(1, "2024-01-01 00:00:00")])
    wave(1, [(7, "2024-01-02 00:00:00")])   # tick: advances event clock
    wave(2, [(1, "2024-01-02 00:30:00"),    # runs under tick watermark,
             (8, "2024-01-03 00:00:00")])   # state evicted AFTER check
    wave(3, [(1, "2024-01-04 00:00:00")])   # two batches later: re-emit
    out = str(tmp_path / "out")
    run_bounded_stream_dedup(spark, src, out, str(tmp_path / "ckpt"))
    got = sorted(
        (r.doc_id, r.ts_ms) for r in spark.read.parquet(out).collect()
    )
    ids = [d for d, _ in got]
    assert ids == [1, 1, 7, 8]              # wave-2 re-landing suppressed
    assert (1, 1704326400000) in got        # day-4 copy re-emitted


def test_stateful_sessions_gap_timeout_trailing_boundary(spark, tmp_path):
    """The four emission classes of stateful sessionization: gap-closed
    (emitted with full count), timeout-closed (idle key, watermark
    advanced by other users), trailing (never emitted), and the exact
    == watermark boundary (must NOT fire — strict inequality)."""
    from hebrew_ner_spark.streaming.incremental import (
        run_stateful_sessions,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)

    def wave(i, rows):
        df = spark.createDataFrame(
            [(j, ts, u, "click", 0.0, "{}")
             for j, (u, ts) in enumerate(rows)],
            "event_id long, t string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.col("t").cast("timestamp")).drop("t")
        d = str(tmp_path / f"w{i}")
        df.select("event_id", "ts", "user_id", "event_type", "value",
                  "props").coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (1_700_000_000 + 10 * i,) * 2)

    # user 1: two events 10 min apart, then a 2h-later event ->
    #   session A gap-closes with n=2; session B times out
    # user 2: single early event -> times out
    # user 3: event at 13:29:59.999 -> timeout 13:59:59.999, final wm
    #   14:00:00.000 (14:10 - 10min) STRICTLY above -> fires
    # user 4: event at 13:30:00 -> timeout 14:00:00.000 == wm -> must
    #   NOT fire (and stays unemitted: the boundary class)
    # user 5: last event at 14:10 -> trailing, unemitted
    wave(0, [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),
             (2, "2024-01-01 10:05:00")])
    wave(1, [(1, "2024-01-01 12:00:00")])
    wave(2, [(3, "2024-01-01 13:29:59.999"), (4, "2024-01-01 13:30:00")])
    wave(3, [(5, "2024-01-01 14:10:00")])
    out = str(tmp_path / "out")
    run_stateful_sessions(spark, src, out, str(tmp_path / "ckpt"))
    spark.catalog.refreshByPath(out)
    got = sorted(
        (r.user_id, r.sess_start_ms, r.sess_end_ms, r.n_events)
        for r in spark.read.parquet(out).collect()
    )
    h = 3_600_000
    t0 = 1704103200000  # 2024-01-01 10:00:00 UTC in ms
    assert got == [
        (1, t0, t0 + 10 * 60_000 + 30 * 60_000, 2),       # gap-closed
        (1, t0 + 2 * h, t0 + 2 * h + 30 * 60_000, 1),     # timeout
        (2, t0 + 5 * 60_000, t0 + 35 * 60_000, 1),        # timeout
        (3, t0 + 3 * h + 29 * 60_000 + 59_999,
         t0 + 3 * h + 59 * 60_000 + 59_999, 1),           # just below wm
    ]


def _stage_wave(spark, src, name, df, mtime):
    """Write df as one parquet file into src with a pinned mtime
    (arrival order = staging order; repartitionByRange files share one
    mtime otherwise)."""
    import tempfile

    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(d)
    part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
    dst = os.path.join(src, name)
    shutil.copy(os.path.join(d, part), dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(d, ignore_errors=True)


def test_bounded_dedup_state_plateaus_under_long_drain(spark, tmp_path):
    """VERDICT r3 #8 soak: 55 micro-batches, event time advancing 2h per
    batch against a 1h dedup horizon. Keyed state must PLATEAU once the
    watermark moves (numRowsTotal stays within a few batches' key count)
    instead of accumulating all 1100 keys — the 100x-scale failure mode
    a 3-batch gate cannot see."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "in"); out = str(tmp_path / "out"); ck = str(tmp_path / "ck")
    os.makedirs(src)
    base = spark.range(20).select(
        F.col("id").alias("k"), F.lit("t").alias("text"),
        F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.lit(1).cast("long").alias("n_chars"),
    )
    n_batches, keys_per_batch = 55, 20
    for i in range(n_batches):
        wave = base.select(
            (F.col("k") + i * 1000).alias("doc_id"), "text", "lang", "source",
            "n_chars",
            F.expr(
                f"TIMESTAMP '2024-01-01 00:00:00' + make_interval(0,0,0,0,{2*i},0,k)"
            ).alias("ts"),
        )
        _stage_wave(spark, src, f"w{i:03d}.parquet", wave, 1_700_000_000 + 10 * i)
    progress = incremental.run_bounded_stream_dedup(spark, src, out, ck)
    totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    assert len(totals) >= 50, f"expected >=50 micro-batches, got {len(totals)}"
    # steady state: at most ~2 batches of keys alive (current + not-yet-
    # evicted previous); far below the 1100-key no-eviction trajectory
    steady = totals[5:]
    assert max(steady) <= 3 * keys_per_batch, (max(steady), totals)
    # and the drain emitted every first landing exactly once
    assert spark.read.parquet(out).count() == n_batches * keys_per_batch


def test_stateful_sessions_state_plateaus_under_long_drain(spark, tmp_path):
    """Soak twin for applyInPandasWithState sessionization: 55 batches of
    the same 10 users, 2h apart (gap 30min, watermark 10min). Event-time
    timeouts must close and EVICT each batch's sessions as the watermark
    advances — open-session state stays ~|users|, not |users| x batches."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "in2"); out = str(tmp_path / "out2"); ck = str(tmp_path / "ck2")
    os.makedirs(src)
    n_batches, n_users = 55, 10
    base = spark.range(n_users).select(F.col("id").alias("u"))
    for i in range(n_batches):
        wave = base.select(
            (F.col("u") + i * 100).alias("event_id"),
            F.expr(
                f"TIMESTAMP '2024-01-01 00:00:00' + make_interval(0,0,0,0,{2*i},0,u)"
            ).alias("ts"),
            F.col("u").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        _stage_wave(spark, src, f"e{i:03d}.parquet", wave, 1_700_000_000 + 10 * i)
    progress = incremental.run_stateful_sessions(spark, src, out, ck)
    totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    assert len(totals) >= 50, f"expected >=50 micro-batches, got {len(totals)}"
    steady = totals[5:]
    assert max(steady) <= 2 * n_users, (max(steady), totals)
    # every batch's 10 sessions except the final batch's close and emit
    emitted = spark.read.parquet(out).count()
    assert emitted == (n_batches - 1) * n_users, emitted
