"""The benchmark workloads: inputs, measured operations, traced layer
measurements and output checks.

A run of a workload calls ``prepare`` and ``warmup`` (both part of
``setup_s``), then ``run`` repeatedly (each call is one measured operation:
a job, or one delta), then ``resume`` (crash recovery, ``resume_s``) and
``check`` (output checks, outside the timed region). The traced run calls
``traced_metrics`` after its traced operations and then ``layers``, which
times calls into each layer on materialized inputs.

Only the generated files reach the program, through
``sources.catalog.load_table``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import time

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from hebrew_ner_spark.operators import canonicalize, dedup, extract, kg, linking, mentions
from hebrew_ner_spark.plans import checkpoint, snapshots
from hebrew_ner_spark.queries import ORACLES
from hebrew_ner_spark.querydefs.hybrid_q import hybrid_pipeline
from hebrew_ner_spark.sources.catalog import load_table
from hebrew_ner_spark.streaming.incremental import run_incremental_triples

from perfbench.gen import Traffic


@dataclasses.dataclass
class Op:
    """One completed operation: its wall time and the documents it finished."""

    wall_s: float
    docs: int


class Ctx:
    """Per-run state shared by the workload code: session, tracer, dirs."""

    def __init__(self, spark, tracer, work: str, data: str):
        self.spark, self.tracer, self.work, self.data = spark, tracer, work, data
        self.jobs: dict[str, int] = {}
        self._groups = 0

    @contextlib.contextmanager
    def layer(self, name: str):
        """Span plus Spark job group around one layer call; job counts
        accumulate per layer name."""
        if not self.tracer.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"perfbench-{self._groups}"
        sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            self.jobs[name] = self.jobs.get(name, 0) + len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup("perfbench-idle", "between layers")

    def settle(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` when tracing, so the layer that built it is
        timed by its own span; untraced runs leave it lazy."""
        return materialize(df) if self.tracer.enabled else df

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def force(df: DataFrame) -> None:
    """Run ``df`` to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def materialize(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def table_hash(df: DataFrame) -> tuple[int, str]:
    """(rows, order-insensitive content hash) of a DataFrame."""
    cols = sorted(c for c in df.columns if c != "part_id")
    r = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), str(r["h"])


def oracle_mismatches(df: DataFrame, sql: str, views: dict[str, str], scratch: str) -> int:
    """Rows in ``df`` and not in the DuckDB oracle, plus the reverse
    (multiset difference), with the oracle evaluated over ``views``
    (view name -> parquet glob)."""
    cols = sorted(df.columns)
    shutil.rmtree(scratch, ignore_errors=True)
    df.select(*cols).write.parquet(scratch)
    con = duckdb.connect()
    try:
        for name, glob in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        sel = ", ".join(cols)
        got = f"SELECT {sel} FROM read_parquet('{scratch}/*.parquet')"
        want = f"SELECT {sel} FROM ({sql})"
        a = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
        b = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
        return int(a) + int(b)
    finally:
        con.close()
        shutil.rmtree(scratch, ignore_errors=True)


def parquet_glob(data: str, table: str) -> str:
    path = os.path.join(data, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


class Workload:
    """One workload. A run repeats ``run`` ``min_ops`` times at least, then
    until ``--seconds`` pass or ``max_ops`` is reached. ``check`` names its
    checks ``<layer>:<what>``."""

    name = ""
    traffic: Traffic
    as_pages = False
    min_ops = 3
    max_ops = 1000
    warmup_ops = 1
    trace_ops = 1  # traced operations in the traced run

    def prepare(self, ctx: Ctx) -> None:
        pass

    def warmup(self, ctx: Ctx) -> None:
        for _ in range(self.warmup_ops):
            self.run(ctx)

    def run(self, ctx: Ctx) -> Op:
        raise NotImplementedError

    def resume(self, ctx: Ctx, ops: list[Op]) -> float:
        """Nothing is checkpointed, so recovering from a crash is a full
        rerun: the median job wall."""
        return statistics.median(o.wall_s for o in ops)

    def traced_metrics(self, ctx: Ctx) -> dict[str, float]:
        """Per-layer metrics read off the traced operations."""
        return {}

    def layers(self, ctx: Ctx) -> dict[str, float]:
        """Per-layer metrics from calls on materialized inputs."""
        return {}

    def check(self, ctx: Ctx) -> dict[str, bool]:
        raise NotImplementedError


# --------------------------------------------------------------------------
# crawl_to_kg: the production job, every stage checkpointed
# --------------------------------------------------------------------------

N_BUCKETS = 8
RESUME_STAGES = ("dup_pairs", "components")  # the last stages, half of whose buckets a crash loses
LOST_BUCKETS = list(range(1, N_BUCKETS, 2))
GRAPH_TABLES = ("nodes", "edges", "components")


def doc_id_from_url(col: str = "url"):
    return F.element_at(F.split(F.col(col), "/"), -1).cast("long").alias("doc_id")


class CrawlToKg(Workload):
    name = "crawl_to_kg"
    as_pages = True
    # a job takes ~17 s on 4 cores, so a run measures one job and one
    # resume pass, after a warm-up job
    min_ops = max_ops = 1
    traffic = Traffic(
        n_docs=500, len_median=140, len_sigma=0.5, len_max=800,
        entity_share=0.2, pred_share=0.08, adj_share=0.03, morph_share=0.04,
        zipf_s=0.8, mirror_share=0.08, filler_vocab=8000,
    )

    def job(self, ctx: Ctx, out: str, run_id: str, split: bool = False) -> list[dict]:
        """The checkpointed job; returns the run_stage summaries. With
        ``split`` each operator's output is materialized in its layer's span
        before the checkpoint write, so the traced job's wall divides into
        layers."""
        spark = ctx.spark
        summaries = []

        def stage(name: str, layer: str, build, key: str) -> DataFrame:
            with ctx.layer(layer):
                df = build()
                if split:
                    df = materialize(df)
            with ctx.layer("checkpoint"):
                summaries.append(checkpoint.run_stage(df, out, name, key, N_BUCKETS, run_id))
            df.unpersist()
            return checkpoint.read_stage(spark, out, name).drop("part_id")

        pages = load_table(spark, ctx.data, "pages")
        docs = stage(
            "extract", "extract",
            lambda: extract.extract_webpages(pages).select(
                doc_id_from_url(), F.col("extracted").alias("text")
            ),
            "doc_id",
        )
        stage("mentions", "mentions", lambda: mentions.detect_mentions(docs), "doc_id")
        stage("triples", "kg.extract", lambda: kg.doc_triples(docs), "doc_id")
        stage("nodes", "linking", lambda: linking.kg_nodes(docs), "entity_id")
        stage("edges", "linking", lambda: linking.kg_edges(docs), "subj_id")
        pairs = stage("dup_pairs", "dedup", lambda: dedup.near_dup_pairs_all(docs), "doc_a")
        stage("components", "canonicalize", lambda: canonicalize.dedup_components(pairs), "doc_id")
        with ctx.layer("snapshots"):
            snapshots.commit_snapshot(
                os.path.join(out, "graph"),
                {t: checkpoint.read_stage(spark, out, t).drop("part_id") for t in GRAPH_TABLES},
            )
        return summaries

    def warmup(self, ctx: Ctx) -> None:
        self.job(ctx, ctx.fresh("crawl"), "warmup")

    def run(self, ctx: Ctx) -> Op:
        """Resume the previous job's output after a simulated crash, then
        run the job again from scratch. Both come after a cold warm-up job,
        so the JIT is past its steepest part."""
        with ctx.tracer.span("resume"):
            self.resume_s = self.resume_pass(ctx)
        out = ctx.fresh("crawl-job")
        t0 = time.perf_counter()
        with ctx.tracer.span("job"):
            self.job(ctx, out, "run", split=ctx.tracer.enabled)
        return Op(time.perf_counter() - t0, self.traffic.n_docs)

    def stage_hashes(self, ctx: Ctx, out: str) -> dict[str, tuple[int, str]]:
        return {st: table_hash(checkpoint.read_stage(ctx.spark, out, st)) for st in RESUME_STAGES}

    def crash(self, out: str) -> None:
        """Lose half the buckets of the last stages, as a crash during their
        write would: their files and their lineage rows are gone."""
        for st in RESUME_STAGES:
            rows = [r for r in checkpoint.read_lineage(out, st) if r["part_id"] not in LOST_BUCKETS]
            with open(os.path.join(out, checkpoint.LINEAGE_DIR, f"{st}.jsonl"), "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
            for b in LOST_BUCKETS:
                shutil.rmtree(os.path.join(out, st, f"part_id={b}"), ignore_errors=True)

    def resume_pass(self, ctx: Ctx) -> float:
        """Time the resume of the warm-up job's output; the output is hashed
        before, and after for ``check``."""
        out = os.path.join(ctx.work, "crawl")
        self.before = self.stage_hashes(ctx, out)
        self.crash(out)
        t0 = time.perf_counter()
        self.summaries = self.job(ctx, out, "resume")
        wall = time.perf_counter() - t0
        self.after = self.stage_hashes(ctx, out)
        return wall

    def resume(self, ctx: Ctx, ops: list[Op]) -> float:
        return self.resume_s

    def traced_metrics(self, ctx: Ctx) -> dict[str, float]:
        processed = sum(len(s["processed"]) for s in self.summaries)
        total = N_BUCKETS * len(self.summaries)
        return {"checkpoint.buckets_skipped_ratio": (total - processed) / total}

    def layers(self, ctx: Ctx) -> dict[str, float]:
        spark, tr = ctx.spark, ctx.tracer
        m: dict[str, float] = {}
        pages = materialize(load_table(spark, ctx.data, "pages"))
        n_pages = self.traffic.n_docs
        with ctx.layer("extract"):
            ext = materialize(extract.extract_webpages(pages))
        m["extract.busy_s"] = tr.busy("extract")
        m["extract.pages_per_s"] = n_pages / m["extract.busy_s"]
        m["extract.identical_ratio"] = (
            ext.join(pages, "url").where(F.col("extracted") == F.col("text")).count() / n_pages
        )
        docs = materialize(ext.select(doc_id_from_url(), F.col("extracted").alias("text")))
        pages.unpersist()
        m.update(tokenize_layer(ctx, docs))
        m.update(mentions_layer(ctx, docs, m["tokenize.tokens"]))
        m.update(kg_extract_layer(ctx, docs, kg.doc_triples, m["tokenize.tokens"]))
        m.update(linking_layer(ctx, docs))
        with ctx.layer("dedup"):
            pairs = materialize(dedup.near_dup_pairs_all(docs))
        cand = dedup.lsh_candidate_pairs(docs).count()
        m["dedup.busy_s"] = tr.busy("dedup")
        m["dedup.candidate_pairs"] = cand
        m["dedup.verified_ratio"] = pairs.count() / cand if cand else 0.0
        with ctx.layer("canonicalize"):
            comps = materialize(canonicalize.dedup_components(pairs))
        m["canonicalize.busy_s"] = tr.busy("canonicalize")
        m["canonicalize.spark_jobs"] = ctx.jobs["canonicalize"]
        m["canonicalize.components"] = comps.select("component_id").distinct().count()

        # checkpoint: run_stage of the triples frame vs. forcing that frame
        frame = kg.doc_triples(docs)
        t0 = time.perf_counter()
        force(frame)
        forced = time.perf_counter() - t0
        out = ctx.fresh("layer-ckpt")
        with ctx.layer("checkpoint"):
            checkpoint.run_stage(frame, out, "triples", "doc_id", N_BUCKETS, "layer")
        m["checkpoint.busy_s"] = tr.busy("checkpoint")
        m["checkpoint.overhead_ratio"] = m["checkpoint.busy_s"] / forced
        m["checkpoint.written_mb"] = dir_mb(out)

        # snapshots: one commit of the three graph tables, inputs materialized
        graph = {
            "nodes": materialize(linking.kg_nodes(docs)),
            "edges": materialize(linking.kg_edges(docs)),
            "components": comps,
        }
        with ctx.layer("snapshots"):
            snapshots.commit_snapshot(ctx.fresh("layer-snap"), graph)
        m["snapshots.commit_busy_s"] = tr.busy("snapshots")
        m["snapshots.tables_rewritten"] = len(graph)
        for df in (docs, ext, pairs, *graph.values()):
            df.unpersist()
        return m

    def check(self, ctx: Ctx) -> dict[str, bool]:
        """Checks the last job's output and the last resume pass."""
        spark = ctx.spark
        out = os.path.join(ctx.work, "crawl-job")
        pages = load_table(spark, ctx.data, "pages").select(doc_id_from_url(), "text")
        got = checkpoint.read_stage(spark, out, "extract").select("doc_id", F.col("text").alias("got"))
        text_bad = (
            pages.join(got, "doc_id", "left")
            .where(F.col("got").isNull() | (F.col("got") != F.col("text")))
            .count()
        )
        docs_dir = ctx.fresh("check-docs")
        pages.write.parquet(docs_dir)
        edges = snapshots.read_snapshot(spark, os.path.join(out, "graph"), "edges")
        bad_edges = oracle_mismatches(
            edges, ORACLES["kg_edges"], {"documents": os.path.join(docs_dir, "*.parquet")},
            os.path.join(ctx.work, "check-edges"),
        )
        redone = all(
            s["processed"] == LOST_BUCKETS if s["stage"] in RESUME_STAGES else s["skipped"]
            for s in self.summaries
        )
        return {
            "extract:text_identical": text_bad == 0,
            "linking:kg_edges_oracle": bad_edges == 0,
            "checkpoint:resume_redid_only_lost_buckets": redone,
            "checkpoint:resumed_hashes_equal": self.after == self.before,
        }


# --------------------------------------------------------------------------
# hybrid_morph: the fused hybrid lifecycle over long morpheme-rich docs
# --------------------------------------------------------------------------


class HybridMorph(Workload):
    name = "hybrid_morph"
    min_ops = 8  # p80 interpolates between the 6th and 7th of 8
    warmup_ops = 3  # the first jobs in a JVM run up to 1.5x slower; p80 would time them
    traffic = Traffic(
        n_docs=200, len_median=900, len_sigma=0.3, len_max=2500,
        entity_share=0.15, pred_share=0.05, adj_share=0.03, morph_share=0.3,
        zipf_s=0.8, mirror_share=0.0, filler_vocab=3000,
    )

    def run(self, ctx: Ctx) -> Op:
        t0 = time.perf_counter()
        force(hybrid_pipeline(ctx.spark, ctx.data))
        return Op(time.perf_counter() - t0, self.traffic.n_docs)

    split_hash = None  # output of the split plan, set by the traced run

    def split_pipeline(self, ctx: Ctx, docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        """The fused plan of ``hybrid_pipeline`` (querydefs/hybrid_q.py),
        materialized at the kernel's input and output so each layer is
        timed in its own span. ``check`` compares its output with
        ``hybrid_pipeline``'s, so a change there that this copy misses
        fails the run."""
        from hebrew_ner_spark.operators import labels, lattice

        with ctx.layer("labels"):
            tok = kg.doc_token_labels(docs).withColumn(
                "l_arr", F.expr(labels.refined_label_array_expr())
            )
            edges = materialize(
                tok.select(
                    "doc_id", "word_index",
                    F.size("l_arr").cast("long").alias("splitting"), "l_arr",
                    F.explode(F.expr(lattice._lattice_case_expr())).alias("e"),
                ).select(
                    "doc_id", "word_index", F.col("e.edge_order").alias("edge_order"),
                    F.col("e.from_v").alias("from_v"), F.col("e.to_v").alias("to_v"),
                    F.expr("CASE WHEN e.edge_order < size(l_arr) THEN l_arr[e.edge_order] END").alias("mlabel"),
                    "splitting",
                )
            )
        with ctx.layer("lattice"):
            merged = materialize(lattice.prune_merge_labels(edges))
        with ctx.layer("labels"):
            out = materialize(
                merged.select(
                    "doc_id", "word_index", labels.validate_multi_udf("multi_label").alias("label")
                )
            )
        return edges, merged, out

    def layers(self, ctx: Ctx) -> dict[str, float]:
        tr = ctx.tracer
        docs = materialize(load_table(ctx.spark, ctx.data, "documents"))
        with tr.span("job"):
            edges, merged, out = self.split_pipeline(ctx, docs)
        self.split_hash = table_hash(out)
        edges_in = edges.count()
        tokens = docs.select(F.sum(F.size(F.split("text", " ")))).first()[0]
        m = {
            "labels.busy_s": tr.busy("labels"),
            "lattice.busy_s": tr.busy("lattice"),
            "lattice.edges_in": edges_in,
            "lattice.tokens_out_ratio": merged.count() / edges_in,
            "tokenize.tokens": tokens,
        }
        for df in (docs, edges, merged, out):
            df.unpersist()
        return m

    def check(self, ctx: Ctx) -> dict[str, bool]:
        got = hybrid_pipeline(ctx.spark, ctx.data)
        bad = oracle_mismatches(
            got, ORACLES["hybrid_pipeline"],
            {"documents": parquet_glob(ctx.data, "documents")},
            os.path.join(ctx.work, "check-hybrid"),
        )
        checks = {"lattice:hybrid_pipeline_oracle": bad == 0}
        if self.split_hash is not None:
            checks["lattice:split_plan_equals_pipeline"] = self.split_hash == table_hash(got)
        return checks


# --------------------------------------------------------------------------
# skewed_edges: pattern extraction and skewed aggregation, all codegen
# --------------------------------------------------------------------------


class SkewedEdges(Workload):
    name = "skewed_edges"
    traffic = Traffic(
        n_docs=25000, len_median=30, len_sigma=0.4, len_max=120,
        entity_share=0.3, pred_share=0.12, adj_share=0.05, morph_share=0.0,
        zipf_s=0.95, mirror_share=0.0, filler_vocab=4000,
    )

    def run(self, ctx: Ctx) -> Op:
        t0 = time.perf_counter()
        docs = load_table(ctx.spark, ctx.data, "documents")
        for fn in (kg.typed_edge_counts, kg.triple_counts, linking.kg_edges, linking.kg_nodes):
            fn(docs).collect()
        return Op(time.perf_counter() - t0, self.traffic.n_docs)

    def layers(self, ctx: Ctx) -> dict[str, float]:
        tr = ctx.tracer
        docs = materialize(load_table(ctx.spark, ctx.data, "documents"))
        m = tokenize_layer(ctx, docs)
        m.update(kg_extract_layer(ctx, docs, kg.doc_triples_patterns, m["tokenize.tokens"]))
        with ctx.layer("kg.aggregate"):
            typed = kg.typed_edge_counts(docs).collect()
            counts = kg.triple_counts(docs).collect()
        subj = kg.doc_triples_patterns(docs).groupBy("subj").count().orderBy(F.desc("count"))
        top = subj.first()["count"]
        total = sum(r["n_evidence"] for r in typed)
        m["kg.aggregate_busy_s"] = tr.busy("kg.aggregate")
        m["kg.aggregate_groups"] = len(typed) + len(counts)
        m["kg.top_key_share"] = top / total if total else 0.0
        m["kg.spark_jobs"] = ctx.jobs.get("kg.aggregate", 0)
        m.update(linking_layer(ctx, docs))
        docs.unpersist()
        return m

    def check(self, ctx: Ctx) -> dict[str, bool]:
        docs = load_table(ctx.spark, ctx.data, "documents")
        views = {"documents": parquet_glob(ctx.data, "documents")}
        return {
            f"{layer}:{q}_oracle": oracle_mismatches(
                fn(docs), ORACLES[q], views, os.path.join(ctx.work, f"check-{q}")
            ) == 0
            for layer, q, fn in (
                ("kg", "kg_triple_counts", kg.triple_counts),
                ("linking", "kg_edges", linking.kg_edges),
            )
        }


# --------------------------------------------------------------------------
# delta_ingest: closed loop, one client, one delta file at a time
# --------------------------------------------------------------------------

EDGE_COLS = ["subj_id", "pred", "obj_id", "n_evidence"]


class RunIds(StreamingQueryListener):
    """Collects the run ids of the streaming queries that start."""

    def __init__(self):
        self.ids: list[str] = []

    def onQueryStarted(self, event):
        self.ids.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class DeltaIngest(Workload):
    name = "delta_ingest"
    traffic = Traffic(
        n_docs=10000, len_median=60, len_sigma=0.5, len_max=300,
        entity_share=0.2, pred_share=0.08, adj_share=0.03, morph_share=0.03,
        zipf_s=0.95, mirror_share=0.02, filler_vocab=5000,
        delta_docs=500, n_deltas=60,
    )
    min_ops = max_ops = 50  # p80 needs ten samples beyond it
    warmup_ops = 2
    trace_ops = 6

    def prepare(self, ctx: Ctx) -> None:
        self.landing = ctx.fresh("landing")
        os.makedirs(self.landing)
        self.stream_out = ctx.fresh("stream-out")
        self.stream_ckpt = ctx.fresh("stream-ckpt")
        self.graph = ctx.fresh("delta-graph")
        self.pending = sorted(os.listdir(os.path.join(ctx.data, "deltas")))
        self.landed: list[str] = []
        self.listener = None
        self.stream_drains = 0
        base = linking.kg_edges(load_table(ctx.spark, ctx.data, "documents"))
        snapshots.commit_snapshot(self.graph, {"edges": base})
        self.edges = snapshots.read_snapshot(ctx.spark, self.graph, "edges")

    def run(self, ctx: Ctx) -> Op:
        """Land the next delta file and publish the merged edge table."""
        name = self.pending.pop(0)
        t0 = time.perf_counter()
        os.replace(os.path.join(ctx.data, "deltas", name), os.path.join(self.landing, name))
        self.landed.append(name)
        if ctx.tracer.enabled and self.listener is None:
            self.listener = RunIds()
            ctx.spark.streams.addListener(self.listener)
        with ctx.layer("streaming"):
            run_incremental_triples(ctx.spark, self.landing, self.stream_out, self.stream_ckpt)
        if ctx.tracer.enabled:
            self.count_stream_jobs(ctx)
        with ctx.layer("linking"):
            delta = ctx.settle(
                linking.kg_edges(load_table(ctx.spark, self.landing, os.path.splitext(name)[0]))
            )
        with ctx.layer("linking.merge"):
            merged = ctx.settle(linking.merge_edge_counts(self.edges, delta).select(*EDGE_COLS))
        with ctx.layer("snapshots"):
            snapshots.commit_snapshot(self.graph, {"edges": merged})
        delta.unpersist()
        merged.unpersist()
        self.edges = snapshots.read_snapshot(ctx.spark, self.graph, "edges")
        return Op(time.perf_counter() - t0, self.traffic.delta_docs)

    def count_stream_jobs(self, ctx: Ctx) -> None:
        """Streaming jobs run in the query's own thread, with its run id as
        job group; the listener collected the run ids of the drain."""
        tracker = ctx.spark.sparkContext.statusTracker()
        n = sum(len(tracker.getJobIdsForGroup(rid)) for rid in self.listener.ids)
        self.listener.ids.clear()
        ctx.jobs["streaming"] = ctx.jobs.get("streaming", 0) + n
        self.stream_drains += 1

    def resume(self, ctx: Ctx, ops: list[Op]) -> float:
        """Crash after the last micro-batch's sink write but before its
        commit: the restarted drain replays that batch."""
        commits = os.path.join(self.stream_ckpt, "commits")
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        for name in (str(last), f".{last}.crc"):  # the entry and its checksum file
            path = os.path.join(commits, name)
            if os.path.exists(path):
                os.remove(path)
        t0 = time.perf_counter()
        run_incremental_triples(ctx.spark, self.landing, self.stream_out, self.stream_ckpt)
        return time.perf_counter() - t0

    def traced_metrics(self, ctx: Ctx) -> dict[str, float]:
        tr = ctx.tracer
        drains = [s.end - s.start for s in tr.spans if s.name == "streaming"]
        last = load_table(ctx.spark, self.landing, os.path.splitext(self.landed[-1])[0])
        return {
            "linking.linked_ratio": linked_ratio(last),
            "streaming.drain_busy_s": tr.busy("streaming"),
            "streaming.batch_ms_p50": 1000 * statistics.median(drains),
            "streaming.spark_jobs": ctx.jobs.get("streaming", 0) / max(1, self.stream_drains),
            "linking.busy_s": tr.busy("linking"),
            "linking.merge_busy_s": tr.busy("linking.merge"),
            "snapshots.commit_busy_s": tr.busy("snapshots"),
            "snapshots.tables_rewritten": 1,
        }

    def check(self, ctx: Ctx) -> dict[str, bool]:
        spark = ctx.spark
        docs = load_table(spark, ctx.data, "documents")
        for name in self.landed:
            docs = docs.unionByName(load_table(spark, self.landing, os.path.splitext(name)[0]))
        full = linking.kg_edges(docs)
        got_edges = table_hash(self.edges.select(*EDGE_COLS))
        streamed = spark.read.parquet(os.path.join(self.stream_out, "triples"))
        deltas = docs.where(F.col("doc_id") >= self.traffic.n_docs)
        return {
            "linking:merged_edges_equal_recompute": got_edges == table_hash(full.select(*EDGE_COLS)),
            "streaming:triples_equal_batch": table_hash(streamed.drop("batch_id"))
            == table_hash(kg.doc_triples(deltas)),
        }


# --------------------------------------------------------------------------
# layer measurements shared by several workloads
# --------------------------------------------------------------------------


def tokenize_layer(ctx: Ctx, docs: DataFrame) -> dict[str, float]:
    with ctx.layer("tokenize"):
        toks = materialize(kg.with_tokens(docs).select("doc_id", "toks"))
    n = toks.select(F.sum(F.size("toks"))).first()[0]
    toks.unpersist()
    return {"tokenize.busy_s": ctx.tracer.busy("tokenize"), "tokenize.tokens": n}


def mentions_layer(ctx: Ctx, docs: DataFrame, tokens: int) -> dict[str, float]:
    with ctx.layer("mentions"):
        lab = materialize(mentions.detect_mentions(docs))
    ents = lab.where(F.col("label") != "O").count()
    lab.unpersist()
    busy = ctx.tracer.busy("mentions")
    return {
        "mentions.busy_s": busy,
        "mentions.tokens_per_s": tokens / busy,
        "mentions.entity_token_ratio": ents / tokens,
    }


def kg_extract_layer(ctx: Ctx, docs: DataFrame, fn, tokens: int) -> dict[str, float]:
    with ctx.layer("kg.extract"):
        tri = materialize(fn(docs))
    n = tri.count()
    tri.unpersist()
    return {
        "kg.extract_busy_s": ctx.tracer.busy("kg.extract"),
        "kg.triples": n,
        "kg.triples_per_1k_tokens": 1000 * n / tokens,
    }


def linking_layer(ctx: Ctx, docs: DataFrame) -> dict[str, float]:
    with ctx.layer("linking"):
        linking.kg_nodes(docs).collect()
        linking.kg_edges(docs).collect()
    return {"linking.busy_s": ctx.tracer.busy("linking"), "linking.linked_ratio": linked_ratio(docs)}


def linked_ratio(docs: DataFrame) -> float:
    """Share of mention spans the linker resolves to an entity."""
    r = linking.linked_mentions(docs).select(
        F.count("*").alias("n"), F.count("entity_id").alias("k")
    ).first()
    return r["k"] / r["n"] if r["n"] else 0.0


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


WORKLOADS = {w.name: w for w in (CrawlToKg, HybridMorph, SkewedEdges, DeltaIngest)}
