"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_to_kg --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
is the separate traced run that prints the per-layer metrics and writes
its spans to ``.perfbench/spans-<workload>-<seed>.jsonl``. The last line
of standard output is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import spark_env  # noqa: E402

BENCHMARK_JSON = os.path.join(spark_env.ROOT, "BENCHMARK.json")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def result_line(metrics: dict[str, float], units: dict[str, str], attempted: int, failed: int) -> str:
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
        }
    )


def p80(values: list[float]) -> float:
    """80th percentile, interpolated between order statistics."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=5, method="inclusive")[3]


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``root_pid`` and its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (Spark's Python workers are the JVM's children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def setup(spark, wl, data: str, seed: int, ctx) -> dict[str, float]:
    """Generate the inputs, scan them, prepare and warm up; returns the
    set-up timings."""
    from hebrew_ner_spark.sources.catalog import load_table

    from perfbench import gen

    t0 = time.perf_counter()
    gen.generate(data, seed, wl.traffic, wl.as_pages)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    load_table(spark, data, "pages" if wl.as_pages else "documents").write.format(
        "noop"
    ).mode("overwrite").save()
    scan_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(ctx)
    wl.warmup(ctx)
    warm_s = time.perf_counter() - t0
    log(f"generate {gen_s:.2f}s, scan {scan_s:.2f}s, prepare+warm-up {warm_s:.2f}s")
    return {"generate_s": gen_s, "scan_s": scan_s, "warm_s": warm_s}


def measure(wl, ctx, seconds: float, min_ops: int, max_ops: int) -> list:
    """Operations until ``min_ops`` are done and ``seconds`` have passed
    (or ``max_ops`` are done)."""
    ops = []
    t_end = time.perf_counter() + seconds
    while len(ops) < min_ops or (time.perf_counter() < t_end and len(ops) < max_ops):
        with ctx.tracer.span(wl.name):  # self time: Python glue between layer calls
            ops.append(wl.run(ctx))
    log(f"{ctx.tracer.run_id}: {len(ops)} operations: " + " ".join(f"{o.wall_s:.3f}" for o in ops))
    return ops


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    units = declared_metrics(args.trace)

    # fails fast (no result line) when the program's sources are absent
    import hebrew_ner_spark  # noqa: F401

    from perfbench import spans
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    tmp = spark_env.configure()
    run_dir = os.path.join(spark_env.WORK, f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")

    from hebrew_ner_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_env.session_conf(tmp))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, spans.Tracer("untraced", False), os.path.join(run_dir, "work"), data)
        os.makedirs(ctx.work)
        st = setup(spark, wl, data, args.seed, ctx)
        ops = measure(wl, ctx, args.seconds, wl.min_ops, wl.max_ops)
        metrics: dict[str, float] = {}
        if args.trace:
            ctx.tracer = spans.Tracer("traced", True)
            traced = measure(wl, ctx, 0, wl.trace_ops, wl.trace_ops)
            metrics["trace.overhead_s"] = statistics.median(o.wall_s for o in traced) - statistics.median(
                o.wall_s for o in ops
            )
            metrics.update(wl.traced_metrics(ctx))
            job_tracer = ctx.tracer
            ctx.tracer, ctx.jobs = spans.Tracer("layers", True), {}
            with ctx.tracer.span("layers"):
                metrics.update(wl.layers(ctx))
            with open(os.path.join(spark_env.WORK, f"spans-{wl.name}-{args.seed}.jsonl"), "w") as f:
                for tr in (job_tracer, ctx.tracer):
                    tr.write_to(f)
                    shares = tr.child_shares("job")  # a job split into layer spans
                    if shares:
                        log(f"{tr.run_id}: layer shares of the job's wall: " + " ".join(
                            f"{n}={v:.3f}" for n, v in sorted(shares.items(), key=lambda kv: -kv[1])
                        ))
            ops += traced
        else:
            walls = [o.wall_s for o in ops]
            metrics["docs_per_s"] = statistics.median(o.docs / o.wall_s for o in ops)
            metrics["latency_ms_p50"] = 1000 * statistics.median(walls)
            metrics["latency_ms_p80"] = 1000 * p80(walls)
            metrics["resume_s"] = wl.resume(ctx, ops)
            metrics["setup_s"] = start_s + st["generate_s"] + st["scan_s"] + st["warm_s"]
            metrics["peak_rss_mb"] = peak_rss_mb(spark.sparkContext._gateway.proc.pid)  # the JVM

        checks = wl.check(ctx)
        attempted, failed = len(ops) + len(checks), 0
        for name, ok in checks.items():
            log(f"check {name}: {'ok' if ok else 'FAILED'}")
            if not ok:
                failed += 1
                layer = name.split(":")[0] + ".failed"
                metrics[layer] = metrics.get(layer, 0) + 1
        if args.trace:
            metrics["session.start_s"] = start_s
            metrics["sources.scan_s"] = st["scan_s"]
            metrics["failed_ratio"] = failed / attempted
            for name in units:  # layers this workload does not run
                metrics.setdefault(name, 0.0)
        else:
            metrics = {n: v for n, v in metrics.items() if not n.endswith(".failed")}
        print(result_line(metrics, units, attempted, failed))
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
