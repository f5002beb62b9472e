"""Structured-Streaming drain gate + DuckDB oracle.

The streaming surface (streaming/incremental.py) was previously
pytest-only; this gate gives it a HARD driver row: stage the sf corpus
as a 3-file directory, drain it through the availableNow incremental
triple-extraction pipeline (maxFilesPerTrigger=1 -> 3 micro-batches,
exactly-once idempotent per-batch sink, fresh checkpoint per run), read
the parquet sink back and hand the ROWS to the driver's value-hash
compare against the BATCH SQL oracle — streaming == batch, bit for bit.
That is the strongest statement available for a streaming path: the
oracle never mentions streaming at all.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from hebrew_ner_spark.querydefs.kg_chain import _TRIPLES_ORACLE
from hebrew_ner_spark.registry import query
from hebrew_ner_spark.sources.catalog import load_table


def _gate_dir(spark, sf_dir: str, tag: str) -> str:
    """A fresh scratch dir for one gate run, wiped first so every run is
    a new checkpoint lifetime. Keyed by applicationId so concurrent
    processes (driver + a local check) can never wipe each other's
    staging mid-drain."""
    work = os.path.join(
        tempfile.gettempdir(),
        f"{tag}_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(work, ignore_errors=True)
    return work


@query("stream_triples_drain", oracle=_TRIPLES_ORACLE)
def stream_triples_drain(spark, sf_dir):
    """Stage -> stream-drain -> read back, in a fresh gate dir (a new
    checkpoint lifetime, so batch numbering starts at 0)."""
    from hebrew_ner_spark.streaming.incremental import run_incremental_triples

    work = _gate_dir(spark, sf_dir, "stream_gate")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    load_table(spark, sf_dir, "documents").repartitionByRange(
        3, "doc_id"
    ).write.parquet(src)
    n_batches = run_incremental_triples(spark, src, out, ckpt)
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    return spark.read.parquet(os.path.join(out, "triples")).select(
        "doc_id", "word_index", "subj", "pred", "obj"
    )


@query(
    "stream_event_windows",
    oracle="""
    WITH ev AS (SELECT ts, event_type FROM events),
    mx AS (SELECT max(ts) AS m FROM ev),
    win AS (
      SELECT date_trunc('hour', ts) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM ev GROUP BY 1, 2
    )
    SELECT CAST(epoch_ms(ws) AS BIGINT) AS hour_ms, event_type, n_events
    FROM win, mx
    WHERE ws + INTERVAL 1 HOUR <= m - INTERVAL 2 HOUR
    """,
)
def stream_event_windows(spark, sf_dir):
    """Event-time tumbling windows through the WATERMARK path: drain the
    events table with the shipped availableNow windowed aggregate
    (1h windows, 2h watermark, append mode) and hand the emitted rows to
    the value-hash compare. Append mode only FINALIZES a window once the
    watermark passes its end, so the oracle is the batch aggregate
    RESTRICTED to window_end <= max(ts) - 2h — the trailing unemitted
    windows are part of the gated semantics, not a fudge: a <= / <
    boundary mixup or a watermark-delay drift flips the row set.
    (Session timezone is pinned UTC in session.py, so unix_millis on the
    Spark side and epoch_ms on naive timestamps in DuckDB agree.)"""
    from hebrew_ner_spark.streaming.incremental import (
        run_windowed_event_counts,
    )

    work = _gate_dir(spark, sf_dir, "stream_win")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    load_table(spark, sf_dir, "events").repartitionByRange(
        3, "event_id"
    ).write.parquet(src)
    run_windowed_event_counts(spark, src, out, ckpt)
    return spark.read.parquet(out).select("hour_ms", "event_type", "n_events")


from hebrew_ner_spark.resources import ENTITY_TERMS  # noqa: E402

_ENTS_SQL = "(" + ", ".join(f"'{t}'" for t in ENTITY_TERMS) + ")"


@query(
    "stream_stateful_totals",
    oracle=f"""
    WITH toks AS (
      SELECT t.token FROM documents,
      LATERAL (SELECT unnest(string_split(text, ' ')) AS token) t
    )
    SELECT token AS entity, CAST(count(*) AS BIGINT) AS total
    FROM toks WHERE token IN {_ENTS_SQL}
    GROUP BY token
    """,
)
def stream_stateful_totals(spark, sf_dir):
    """The custom stateful operator's hard gate: drain the corpus
    through applyInPandasWithState cumulative per-entity totals
    (update mode, 3 micro-batches), then reduce the per-batch update
    rows with max(total) — running totals are nondecreasing, so the max
    IS the final state — and value-hash against the plain batch count.
    Certifies the state-store arithmetic end to end: a dropped batch,
    a state reset, or double-counted replay all flip the totals."""
    from hebrew_ner_spark.streaming.incremental import (
        run_stateful_entity_totals,
    )

    work = _gate_dir(spark, sf_dir, "stream_state")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    load_table(spark, sf_dir, "documents").repartitionByRange(
        3, "doc_id"
    ).write.parquet(src)
    run_stateful_entity_totals(spark, src, out, ckpt)
    return (
        spark.read.parquet(os.path.join(out, "entity_totals"))
        .groupBy("entity")
        .agg(F.max("total").cast("long").alias("total"))
    )


def _stage_time_ordered(df, src: str) -> None:
    """Stage a table as 3 event-time-range files whose MOD TIMES ascend
    in range order. The file source orders micro-batches by mod time,
    and a single write stamps every part identically — listing ties then
    break nondeterministically, and a latest-range file draining first
    makes the watermark jump, evicting join state before its matches
    arrive. repartitionByRange names parts in range order, so stamping
    strictly increasing mtimes pins arrival = event-time order (the
    replayed-log ingest reality the streaming jobs assume)."""
    df.repartitionByRange(3, "ts").write.parquet(src)
    parts = sorted(p for p in os.listdir(src) if p.startswith("part-"))
    base = int(os.path.getmtime(src))
    for i, p in enumerate(parts):
        os.utime(os.path.join(src, p), (base + 10 * i, base + 10 * i))


@query(
    "stream_click_attribution",
    oracle="""
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           CAST(epoch_ms(c.ts) AS BIGINT) AS click_ms,
           CAST(epoch_ms(v.ts) AS BIGINT) AS view_ms
    FROM events c JOIN events v ON c.user_id = v.user_id
    WHERE c.event_type = 'click' AND v.event_type = 'view'
      AND v.ts <= c.ts
      AND v.ts >= c.ts - INTERVAL 10 MINUTE
    """,
)
def stream_click_attribution(spark, sf_dir):
    """HARD driver gate for the stream-STREAM interval join (previously
    pytest-only): stage clicks and views as separate time-ordered
    3-file streams, drain the watermarked attribution join
    (streaming/incremental.py run_attribution_join), and value-hash the
    emitted rows against the plain batch join. Inner stream-stream
    joins emit on match, and the watermark delay (1 h) exceeds the join
    window (10 min), so with in-order arrival nothing is evicted before
    its last possible match — streaming == batch exactly; a
    watermark/eviction bug or a boundary (<= vs <) drift flips the
    row set."""
    from hebrew_ner_spark.streaming.incremental import run_attribution_join

    work = _gate_dir(spark, sf_dir, "stream_attr")
    ev = load_table(spark, sf_dir, "events")
    clicks_dir = os.path.join(work, "clicks")
    views_dir = os.path.join(work, "views")
    _stage_time_ordered(ev.where(F.col("event_type") == "click"), clicks_dir)
    _stage_time_ordered(ev.where(F.col("event_type") == "view"), views_dir)
    out = os.path.join(work, "out")
    run_attribution_join(
        spark, clicks_dir, views_dir, out, os.path.join(work, "ckpt")
    )
    return spark.read.parquet(out).select(
        "click_id", "view_id", "user_id", "click_ms", "view_ms"
    )


from hebrew_ner_spark.querydefs.maint_q import _MRG_CHANGES  # noqa: E402


@query(
    "stream_mv_incremental",
    oracle=f"""
    WITH {_MRG_CHANGES},
    smrg AS (
      SELECT coalesce(t.o_orderkey, c.o_orderkey) AS o_orderkey,
             CASE WHEN c.op IS NOT NULL THEN c.o_totalprice
                  ELSE t.o_totalprice END AS price,
             CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus
                  ELSE t.o_orderstatus END AS o_orderstatus
      FROM orders t FULL OUTER JOIN mgc c ON t.o_orderkey = c.o_orderkey
      WHERE NOT coalesce(c.op = 'D', FALSE)
    )
    SELECT o_orderstatus, CAST(o_orderkey % {8} AS BIGINT) AS bucket,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM smrg GROUP BY 1, 2
    """,
)
def stream_mv_incremental(spark, sf_dir):
    """Streaming IVM hard gate: the CDC change stream drains in 3
    micro-batches, each folding its additive delta onto the
    batch-versioned MV snapshot; the FINAL snapshot must equal the
    batch recompute over the fully merged base — the oracle never
    mentions streaming, deltas, or folding at all. A dropped batch, a
    double-applied replay, a retraction against the wrong pre-image,
    or a zeroed group that fails to vanish all flip the row set
    (streaming/incremental.py run_streaming_mv)."""
    from hebrew_ner_spark.operators.maintenance import synth_order_changes
    from hebrew_ner_spark.streaming.incremental import run_streaming_mv

    work = _gate_dir(spark, sf_dir, "stream_mv")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    changes = synth_order_changes(load_table(spark, sf_dir, "orders"))
    changes.repartitionByRange(3, "o_orderkey").write.parquet(src)
    last = run_streaming_mv(
        spark, os.path.join(sf_dir, "orders.parquet"), src, out, ckpt
    )
    assert last >= 2, f"expected >=3 micro-batches, got {last + 1}"
    return spark.read.parquet(
        os.path.join(out, "mv", f"batch_id={last}")
    ).select("o_orderstatus", "bucket", "revenue_cents", "n_orders")


@query(
    "stream_dedup_bounded",
    oracle="""
    SELECT doc_id,
           CAST(epoch_ms(TIMESTAMP '2024-01-01 00:00:00'
                         + doc_id * INTERVAL 1 SECOND) AS BIGINT) AS ts_ms
    FROM documents
    UNION ALL
    SELECT doc_id,
           CAST(epoch_ms(TIMESTAMP '2024-01-04 00:00:00'
                         + doc_id * INTERVAL 1 SECOND) AS BIGINT) AS ts_ms
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT CAST(-1 AS BIGINT),
           CAST(epoch_ms(TIMESTAMP '2024-01-02 00:00:00') AS BIGINT)
    UNION ALL
    SELECT CAST(-2 AS BIGINT),
           CAST(epoch_ms(TIMESTAMP '2024-01-03 00:00:00') AS BIGINT)
    """,
)
def stream_dedup_bounded(spark, sf_dir):
    """The eviction semantics of bounded-state streaming dedup, pinned
    end to end: every doc lands at day 0, re-lands 30 min later
    (INSIDE the 1-hour horizon: suppressed — by dedup state for recent
    doc_ids, and for early doc_ids — whose event times trail the
    corpus-max watermark by more than the lag — by the engine's
    late-record filter; either mechanism, same emitted rows), and
    every 5th doc re-lands at day 3 (2024-01-04; the horizon long
    evicted -> deterministic re-emission). Expected rows = first
    landings + far re-landings, stated closed-form; a state leak (far
    dup suppressed) or an early eviction (near dup emitted) flips the
    row set. Files are staged with ascending mtimes so arrival order =
    event-time order (streaming/incremental.py
    run_bounded_stream_dedup)."""
    from hebrew_ner_spark.streaming.incremental import (
        run_bounded_stream_dedup,
    )

    work = _gate_dir(spark, sf_dir, "stream_bdd")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    os.makedirs(src)
    docs = load_table(spark, sf_dir, "documents")
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ts0 = F.expr(
        "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
    )
    def tick(key, day):
        return spark.createDataFrame(
            [(key, "tick", "en", "tick", 4)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).withColumn("ts", F.expr(f"TIMESTAMP '2024-01-0{day} 00:00:00'"))

    waves = [
        docs.withColumn("ts", ts0),
        docs.withColumn(
            "ts", F.expr("TIMESTAMP '2024-01-01 00:30:00'"
                         " + make_interval(0,0,0,0,0,0,doc_id)")
        ),
        tick(-1, 2),
        tick(-2, 3),
        docs.where("doc_id % 5 = 0").withColumn(
            "ts", F.expr("TIMESTAMP '2024-01-04 00:00:00'"
                         " + make_interval(0,0,0,0,0,0,doc_id)")
        ),
    ]
    del base
    mt = int(os.path.getmtime(work))
    for i, w in enumerate(waves):
        d = os.path.join(work, f"w{i}")
        w.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (mt + 10 * i, mt + 10 * i))
    run_bounded_stream_dedup(spark, src, out, os.path.join(work, "ckpt"))
    return spark.read.parquet(out).select("doc_id", "ts_ms")


from hebrew_ner_spark.streaming.incremental import (  # noqa: E402
    SESS_GAP_MIN as _SG,
)

_SESS_GAP_MS = _SG * 60_000
_SESS_DELAY_MS = 600_000  # SESS_WM_DELAY


@query(
    "stream_stateful_sessions",
    oracle=f"""
    WITH sse AS (
      SELECT user_id, ts, event_id, epoch_us(ts) // 1000 AS tm
      FROM events
    ),
    ssmx AS (SELECT max(epoch_us(ts)) // 1000 AS mms FROM events),
    ssg AS (
      SELECT *, CASE WHEN tm - lag(tm) OVER w > {_SESS_GAP_MS}
                     THEN 1 ELSE 0 END AS brk
      FROM sse WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sss AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS sid
      FROM ssg
    ),
    sssess AS (
      SELECT user_id, sid,
             CAST(min(tm) AS BIGINT) AS sess_start_ms,
             CAST(max(tm) + {_SESS_GAP_MS} AS BIGINT) AS sess_end_ms,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(tm) AS BIGINT) AS last_ms
      FROM sss GROUP BY user_id, sid
    ),
    sslast AS (SELECT user_id, max(sid) AS max_sid
               FROM sssess GROUP BY user_id)
    SELECT user_id, sess_start_ms, sess_end_ms, n_events
    FROM sssess JOIN sslast USING (user_id), ssmx
    WHERE sid < max_sid
       OR last_ms + {_SESS_GAP_MS} < mms - {_SESS_DELAY_MS}
    """,
)
def stream_stateful_sessions(spark, sf_dir):
    """The applyInPandasWithState + EVENT-TIME-TIMEOUT flagship:
    streaming sessionization where the state store holds each user's
    open session and IDLE keys are closed by the state timeout when the
    watermark passes last + gap (no per-key polling — the property that
    makes the operator viable over 10^9 concurrent sessions). The
    oracle is the batch gaps-and-islands sessionization on
    millisecond-truncated event times, restricted by the exact emission
    rule: every non-final session of a user emits (gap-closed by a
    later event), and a user's FINAL session emits iff its timeout
    timestamp is STRICTLY below the final watermark (max event ms -
    delay; strictness probe-pinned — an == boundary does NOT fire).
    Gap strictness (>), ms truncation (floor of epoch-us), and the
    trailing-flush batch semantics all flip the row set if drifted
    (streaming/incremental.py run_stateful_sessions)."""
    from hebrew_ner_spark.streaming.incremental import (
        run_stateful_sessions,
    )

    work = _gate_dir(spark, sf_dir, "stream_sess")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    _stage_time_ordered(load_table(spark, sf_dir, "events"), src)
    run_stateful_sessions(spark, src, out, os.path.join(work, "ckpt"))
    spark.catalog.refreshByPath(out)
    return spark.read.parquet(out).select(
        "user_id", "sess_start_ms", "sess_end_ms", "n_events"
    )
