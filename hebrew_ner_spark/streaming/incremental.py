"""Structured-Streaming ingestion: the same stage kernels, incrementally.

The reference has no streaming semantics (SURVEY.md §2.10) and the
north-rule's "incremental" is satisfied by the checkpoint/lineage
contract (plans/checkpoint.py). This module is the forward path the
survey reserves: the batch stage operators drop unchanged into
``foreachBatch``, with the file source's exactly-once offset tracking
(checkpointLocation) replacing the bucket ledger for arrival-driven
processing.

One exactly-once rule covers every drain, and ``_drain`` is the only
place that applies it: **a drain's output lives only as long as its
checkpoint.**

* A missing checkpoint starts a new lifetime, so the drain deletes its
  output directory before it starts. Batch numbering restarts at 0 with
  the checkpoint; surviving output would pair a replayed batch 0 with
  stale higher-numbered batch directories (double counts), or make the
  parquet file sink skip batch ids its ``_spark_metadata`` log already
  committed (newly landed rows lost).
* A batch-keyed drain overwrites ``<out>/batch_id=<N>`` for micro-batch
  N, so a crash between the sink write and the checkpoint commit
  replays the batch into the same directory instead of duplicating rows
  (a plain append would be at-least-once). A file-sink drain gets the
  same guarantee from the file sink's metadata log.
* Existence checks and deletes go through the Hadoop FileSystem
  (``plans/fs.py``), so local paths, ``file://``, HDFS and S3 alike.

Every drain runs with Trigger.availableNow and returns once everything
that has landed is processed; re-running after new files arrive
processes only the new files. Sources read one file per micro-batch
(``_files``), except the windowed aggregate.

Batch-keyed drains, output under ``<out_dir>/<name>/batch_id=<N>``:

* ``run_incremental_triples`` (``triples``) — triple extraction through
  the *identical* batch operator.
* ``run_incremental_unique_docs`` (``unique``) — exact dedup at
  ingestion; dropDuplicates keyed state persists in the checkpoint.
* ``run_stateful_entity_totals`` (``entity_totals``) — cumulative
  per-entity mention totals via ``applyInPandasWithState``.
* ``run_incremental_link_graph`` (``link_edges``) and
  ``run_incremental_postings`` (``postings``) — algebraic per-batch
  partials, folded by ``read_link_graph`` / ``read_postings``.
* ``run_streaming_mv`` (``mv``) — incremental view maintenance over a
  CDC change stream, one full MV version per batch.

File-sink drains, append-mode parquet at ``out_dir`` itself:

* ``run_windowed_event_counts`` — event-time tumbling windows with a
  watermark.
* ``run_attribution_join`` — watermarked stream-stream interval join.
* ``run_bounded_stream_dedup`` — bounded-state
  ``dropDuplicatesWithinWatermark``.
* ``run_stateful_sessions`` — sessionization with event-time timeouts.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hebrew_ner_spark.operators import kg
from hebrew_ner_spark.plans import fs

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _files(spark: SparkSession, schema: str, src_dir: str) -> DataFrame:
    """The parquet files landing in ``src_dir``, one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def _drain(
    stream: DataFrame,
    out: str,
    checkpoint_dir: str,
    write_batch: Callable[[DataFrame, int], DataFrame] | None = None,
    output_mode: str = "append",
) -> tuple[StreamingQuery, list[int]]:
    """Drain ``stream`` under the module's exactly-once rule.

    ``out`` is the directory tied to ``checkpoint_dir``: it is deleted
    when the checkpoint is missing. With ``write_batch``, micro-batch N
    overwrites ``out/batch_id=<N>`` with ``write_batch(batch_df, N)``;
    without it, the parquet file sink writes at ``out``.
    ``output_mode`` is "append" or "update". Returns the finished query
    (``recentProgress`` stays readable) and the ids of the batches
    written in this drain."""
    spark = stream.sparkSession
    if not fs.exists(spark, checkpoint_dir):
        fs.delete(spark, out)
    writer = stream.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint_dir
    )
    written: list[int] = []
    if write_batch is None:
        writer = writer.format("parquet").option("path", out)
    else:

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            write_batch(batch_df, batch_id).write.mode("overwrite").parquet(
                os.path.join(out, f"batch_id={batch_id}")
            )
            written.append(batch_id)

        writer = writer.foreachBatch(sink)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q, written


def run_incremental_triples(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
) -> int:
    """Drain new document files -> extracted triples under
    ``<out_dir>/triples`` (module rule). Returns the number of
    micro-batches processed in this drain."""
    _, written = _drain(
        _files(spark, DOCS_SCHEMA, src_dir),
        os.path.join(out_dir, "triples"),
        checkpoint_dir,
        lambda batch_df, _: kg.doc_triples(batch_df),
    )
    return len(written)


def run_windowed_event_counts(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Event-time tumbling 1h windows with a 2h watermark, availableNow.
    Every new file lands in one micro-batch: the batch boundaries decide
    which late rows the watermark drops."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_millis(F.col("w.start")).alias("hour_ms"),
            "event_type",
            "n_events",
        )
    )
    _drain(agg, out_dir, checkpoint_dir)


def run_incremental_unique_docs(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Streaming exact dedup at ingestion: documents whose text hash was
    seen in ANY earlier micro-batch (or an earlier run of the same
    checkpoint) are dropped by Structured Streaming's keyed state store —
    ``dropDuplicates`` state survives restarts via the checkpoint, so a
    re-landed mirror page never re-enters the corpus.

    availableNow-drained here; a 24/7 ingest would bound the state with
    ``dropDuplicatesWithinWatermark`` instead of keeping every hash
    forever. Output under ``<out_dir>/unique`` (module rule).
    """
    uniq = (
        _files(spark, DOCS_SCHEMA, src_dir)
        .withColumn("text_md5", F.md5("text"))
        .dropDuplicates(["text_md5"])
    )
    _drain(
        uniq,
        os.path.join(out_dir, "unique"),
        checkpoint_dir,
        lambda batch_df, _: batch_df,
    )


def run_stateful_entity_totals(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Custom stateful streaming operator (applyInPandasWithState):
    cumulative mention totals per entity across ALL micro-batches and
    runs — the state (one long per entity) lives in the streaming state
    store and restores from the checkpoint on restart.

    Emits (entity, total) rows with the updated running total whenever an
    entity appears in a batch, under ``<out_dir>/entity_totals``
    (module rule).
    """
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    mentions = (
        kg.doc_token_labels(_files(spark, DOCS_SCHEMA, src_dir))
        .where(F.col("label") != "O")
        .select(F.col("token").alias("entity"))
    )

    def update(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n_new = sum(len(pdf) for pdf in pdfs)
        (prev,) = state.get if state.exists else (0,)
        total = prev + n_new
        state.update((total,))
        yield pd.DataFrame({"entity": [key[0]], "total": [total]})

    totals = mentions.groupBy("entity").applyInPandasWithState(
        update,
        outputStructType="entity string, total long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _drain(
        totals,
        os.path.join(out_dir, "entity_totals"),
        checkpoint_dir,
        lambda batch_df, _: batch_df,
        output_mode="update",
    )


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def run_incremental_link_graph(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
) -> int:
    """Drain newly-landed page files -> per-batch PARTIAL host-graph
    counts under ``<out_dir>/link_edges`` (module rule). Each
    micro-batch runs the identical batch extractor
    (weblinks.link_edges) over just its files; ``read_link_graph`` folds
    the partials with one aggregate — counts are algebraic, so
    fold(partials) == batch build, which the pytest pins. Returns the
    number of micro-batches processed in this drain."""
    from hebrew_ner_spark.operators import weblinks

    _, written = _drain(
        _files(spark, PAGES_SCHEMA, src_dir),
        os.path.join(out_dir, "link_edges"),
        checkpoint_dir,
        lambda batch_df, _: weblinks.link_edges(batch_df),
    )
    return len(written)


def read_link_graph(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fold the per-batch partial counts into the host graph (one
    aggregation — the partials are already host-pair-keyed and tiny).
    A drain that processed zero batches wrote nothing and folds to an
    empty graph."""
    edges_dir = os.path.join(out_dir, "link_edges")
    if not fs.exists(spark, edges_dir):
        return spark.createDataFrame(
            [], "src_host string, dst_host string, n_links long"
        )
    return (
        spark.read.parquet(edges_dir)
        .groupBy("src_host", "dst_host")
        .agg(F.sum("n_links").cast("long").alias("n_links"))
    )


def run_incremental_postings(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
) -> int:
    """Drain newly-landed page files -> per-batch PARTIAL postings
    statistics (term, df, cf) under ``<out_dir>/postings`` (module
    rule). Each micro-batch runs the identical batch operator
    (search.term_postings) over only its files; the postings summary is
    algebraic (both counts are sums), so fold(partials) == one-shot
    build over everything drained — the retrieval index never
    re-tokenizes the base corpus as the crawl grows. Returns the number
    of micro-batches processed in this drain."""
    from hebrew_ner_spark.operators import search

    _, written = _drain(
        _files(spark, PAGES_SCHEMA, src_dir),
        os.path.join(out_dir, "postings"),
        checkpoint_dir,
        lambda batch_df, _: search.term_postings(
            batch_df.select(F.xxhash64("url").alias("doc_id"), "text")
        ),
    )
    return len(written)


def read_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fold the per-batch partial postings into the index (one term-keyed
    aggregate — the merge_postings algebra applied across all partials).
    Empty drains fold to an empty index, as in read_link_graph."""
    postings_dir = os.path.join(out_dir, "postings")
    if not fs.exists(spark, postings_dir):
        return spark.createDataFrame([], "term string, df long, cf long")
    return (
        spark.read.parquet(postings_dir)
        .groupBy("term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("cf").cast("long").alias("cf"),
        )
    )


def run_attribution_join(
    spark: SparkSession,
    clicks_dir: str,
    views_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_min: int = 10,
) -> None:
    """Stream-STREAM interval join (the ad-attribution canonical form):
    each click joins the same user's views from the preceding
    ``window_min`` minutes. Both sides carry 1-hour event-time
    watermarks, so Spark bounds the view-side join state — views older
    than watermark - window are evicted instead of buffered forever,
    which is the entire point of watermarked stream-stream joins at
    10^12-event scale (unbounded state is the naive join's failure
    mode). Append output at ``out_dir`` (module rule).

    Cross-batch correctness contract (pytest-pinned): a click arriving
    in a later micro-batch still finds views from earlier batches while
    they are inside the watermark horizon — state lives across
    triggers, and time-ordered file landings (the ingest reality) keep
    every in-window pair alive until matched.
    """
    clicks = (
        _files(spark, EVENTS_SCHEMA, clicks_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    views = (
        _files(spark, EVENTS_SCHEMA, views_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    joined = clicks.join(
        views,
        (clicks.user_id == views.user_id)
        & (F.col("view_ts") <= F.col("click_ts"))
        & (
            F.col("view_ts")
            >= F.col("click_ts") - F.expr(f"INTERVAL {window_min} MINUTES")
        ),
    ).select(
        "click_id",
        "view_id",
        clicks.user_id.alias("user_id"),
        F.unix_millis("click_ts").alias("click_ms"),
        F.unix_millis("view_ts").alias("view_ms"),
    )
    _drain(joined, out_dir, checkpoint_dir)


CHANGES_SCHEMA = (
    "o_orderkey long, op string, o_custkey long, o_totalprice double, "
    "o_orderstatus string"
)


def run_streaming_mv(
    spark: SparkSession, base_path: str, src_dir: str, out_dir: str,
    checkpoint_dir: str
) -> int:
    """Streaming INCREMENTAL VIEW MAINTENANCE: drain CDC change files
    and fold each micro-batch's additive delta onto the materialized
    orders summary — the lakehouse pattern where the MV is maintained
    by the change stream, never by rescanning the fact table.

    Per batch N the sink reads the MV as of batch N-1 (an immutable
    batch-versioned snapshot — exactly the Iceberg snapshot discipline),
    applies ``maintenance.mv_delta(base, batch)`` via
    ``apply_mv_delta``, and writes the FULL post-batch MV as
    ``<out_dir>/mv/batch_id=N`` (module rule): a replayed batch rewrites
    its own version from its immutable predecessor. Retraction
    pre-images come from the original base under the CDC batch's
    one-change-per-key contract (each key appears in at most one batch),
    so no base-table versioning is needed in the fold.

    Returns the last batch id written in this drain (the current MV
    version), or -1 if no batch was.
    """
    from hebrew_ner_spark.operators.maintenance import (
        apply_mv_delta,
        mv_delta,
        orders_mv,
    )

    mv_dir = os.path.join(out_dir, "mv")

    def fold(batch_df: DataFrame, batch_id: int) -> DataFrame:
        base = spark.read.parquet(base_path)
        if batch_id == 0:
            prev = orders_mv(base)
        else:
            prev = spark.read.parquet(
                os.path.join(mv_dir, f"batch_id={batch_id - 1}")
            )
        return apply_mv_delta(prev, mv_delta(base, batch_df))

    _, written = _drain(
        _files(spark, CHANGES_SCHEMA, src_dir), mv_dir, checkpoint_dir, fold
    )
    return written[-1] if written else -1


DEDUP_WM_DELAY = "1 hour"


def run_bounded_stream_dedup(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
) -> list:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    keyed on doc_id with a 1-hour event-time watermark — the 24/7
    counterpart of ``run_incremental_unique_docs`` (whose keyed state
    grows forever). State for a key is evicted once the watermark
    passes its event time + delay, so memory is O(traffic in the
    horizon) at any stream length; the price is that a re-landing
    BEYOND the horizon re-emits — which is not a bug but the documented
    contract, and exactly what the gate pins: near re-landings (within
    the delay) are dropped, far ones (days later) re-emit, both
    deterministically under in-order arrival. Append output at
    ``out_dir`` (module rule)."""
    stream = (
        _files(spark, DOCS_SCHEMA + ", ts timestamp", src_dir)
        .withWatermark("ts", DEDUP_WM_DELAY)
        .dropDuplicatesWithinWatermark(["doc_id"])
        .select("doc_id", F.unix_millis("ts").alias("ts_ms"))
    )
    q, _ = _drain(stream, out_dir, checkpoint_dir)
    # recentProgress carries per-micro-batch stateOperators metrics
    # (numRowsTotal etc.) — the soak test asserts bounded-state growth
    # from these; gates ignore the return value
    return list(q.recentProgress)


SESS_GAP_MIN = 30      # session gap (matches the batch operator)
SESS_WM_DELAY = "10 minutes"


def run_stateful_sessions(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
) -> list:
    """Custom stateful SESSIONIZATION via ``applyInPandasWithState`` +
    EVENT-TIME TIMEOUT — the flagship custom-operator pattern: the
    state store carries each user's open session (start, last, count);
    new batches fold their rows into it (splitting on in-batch and
    cross-batch gaps — closed sessions emit immediately), and an IDLE
    key's open session is closed by the state timeout when the
    watermark (advanced by OTHER users' traffic) passes last + gap —
    no per-key poll, which is what makes the operator viable over
    10^9 concurrent sessions.

    Emitted rows: (user_id, sess_start_ms, sess_end_ms, n_events) with
    sess_end_ms = last event + gap (the session-window convention the
    batch operator uses), appended at ``out_dir`` (module rule).
    Trailing sessions whose timeout the final watermark never reaches
    stay in state, unemitted — part of the gated semantics, exactly
    like the append-mode window gate.
    """
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = SESS_GAP_MIN * 60_000

    stream = (
        _files(spark, EVENTS_SCHEMA, src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", SESS_WM_DELAY)
        .select("user_id", "ts")
    )

    def update(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        closed = []
        if state.hasTimedOut:
            start, last, n = state.get
            closed.append((key[0], start, last + gap_ms, n))
            state.remove()
        else:
            ts = pd.concat(list(pdfs))["ts"].sort_values()
            ms = (ts.astype("int64") // 1_000_000).tolist()
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = ms[0], ms[0] - 1, 0  # sentinel: no row yet
            for t in ms:
                if n and t - last > gap_ms:
                    closed.append((key[0], start, last + gap_ms, n))
                    start, n = t, 0
                last = t
                n += 1
            state.update((start, last, n))
            state.setTimeoutTimestamp(last + gap_ms)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "sess_start_ms", "sess_end_ms",
                         "n_events"],
            )

    sessions = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, sess_start_ms long, sess_end_ms long, "
            "n_events long"
        ),
        stateStructType="start long, last long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    q, _ = _drain(sessions, out_dir, checkpoint_dir)
    return list(q.recentProgress)
