"""Benchmark of the embedding engine: one workload per run.

    python3 perfbench/run.py --workload batch_search --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. One process, one client, closed loop: the
next op starts when the previous one returned. The engine runs on the
session ``get_spark()`` builds by default (``local[*]``), with every
``SPARK_GRAFT_*`` switch unset except the warehouse location.

A run starts the session and forks the Python workers, prepares the
workload (inputs generated from ``--seed``, staged, collection or index
built), warms up with one untimed op of every kind, then runs ops for
``--seconds`` seconds, ending on a whole cycle of ops. ``setup_s`` is the
time from process start to the first timed op. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` alternates traced and untraced cycles,
reports the per-layer metrics and the tracing overhead, and writes the
spans to ``.perfbench/``. Every op's output is checked; a failed check or
a raised error counts as a failed op and makes the exit code 1.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it holds the details (environment, sizes, set-up
breakdown, tail percentile, checks).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from spans import LAYERS, Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

E2E_UNITS = {"setup_s": "s", "items_per_s": "items/s",
             "items_per_cpu_s": "items/cpu-s", "op_p50_s": "s",
             "op_tail_s": "s", "answer_recall": "ratio", "ok_op_ratio": "ratio"}

LAYER_UNITS = {
    "session.start_s": "s",
    "database.query.build_s": "s",
    "functions.embedders.embed_one_s": "s",
    "database.query.action_s": "s",
    "database.make_records_s": "s",
    "database.add_records_s": "s",
    "database.violations": "count",
    "database.compact_s": "s",
    "functions.kernels.score_rows_per_s": "rows/s",
    "functions.text.shingle_rows_per_s": "rows/s",
    "operators.topk.batch_topk.build_s": "s",
    "operators.topk.batch_topk.action_s": "s",
    "operators.ann.ivf_write_index_s": "s",
    "operators.ann.ivf_query_index_batch.build_s": "s",
    "operators.ann.ivf_query_index_batch.action_s": "s",
    "operators.ann.scored_fraction": "ratio",
    "operators.dedup.minhash_dedup_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.python_rows_per_query": "rows",
    "spark.shuffle_bytes_per_op": "bytes",
    # Client + JVM + Python workers. Not an end-to-end metric: the JVM's
    # share moves with G1 heap sizing by up to 2x between identical runs.
    "spark.peak_rss_mb": "MB",
    "trace.op_p50_traced_s": "s",
    "trace.op_p50_untraced_s": "s",
    "trace.overhead_ratio": "ratio",
}
LAYER_UNITS.update({f"{layer}.self_s_per_op": "s" for layer in LAYERS})
# Spans whose median duration over the traced ops is a layer metric.
SPAN_METRICS = [
    "database.query.build", "functions.embedders.embed_one",
    "database.query.action", "database.make_records", "database.add_records",
    "database.compact", "operators.topk.batch_topk.build",
    "operators.topk.batch_topk.action",
    "operators.ann.ivf_query_index_batch.build",
    "operators.ann.ivf_query_index_batch.action",
    "operators.dedup.minhash_dedup"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs (smoke tests)")
    return p.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at least
    10 samples beyond it, never below the median when there are fewer
    than 21 samples."""
    xs = sorted(samples)
    beyond = min(10, (len(xs) - 1) // 2)
    j = len(xs) - 1 - beyond
    return xs[j], 100.0 * (j + 1) / len(xs), len(xs)


def isolate_environment(work: str) -> None:
    """Defaults as shipped, and every file the run writes inside ``work``."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    java_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")


def warm_workers(spark) -> None:
    """Fork the Python workers and import numpy in them, once per core."""
    def _warm(batches):
        import numpy  # noqa: F401
        for b in batches:
            yield b
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4, numPartitions=par).mapInPandas(_warm, "id long") \
        .write.format("noop").mode("overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every process the run
    started to end."""
    import proctree
    from pyspark import SparkContext

    pids = set(proctree.tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()       # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # Python workers outlive the JVM briefly and are re-parented on its
    # exit, so they are waited for by the pids recorded before the stop.
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in pids if proctree.running(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import go_simple_embedding_database_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import proctree
    from workloads import WORKLOADS, CheckFailed
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    isolate_environment(work)
    load_start = os.getloadavg()
    from go_simple_embedding_database_spark import get_spark
    spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - T_START
    cores = spark.sparkContext.defaultParallelism
    try:
        t = time.perf_counter()
        warm_workers(spark)
        workers_s = time.perf_counter() - t
        tracer = Tracer(False)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer,
                                      args.tiny)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up()
        warm_up_s = time.perf_counter() - t
        setup_s = session_s + workers_s + prepare_s + warm_up_s

        # As between benchmark iterations in JMH: a full collection before
        # the clock, so set-up garbage is not collected inside an op.
        spark.sparkContext._jvm.java.lang.System.gc()
        ops, errors = [], []
        min_ops = 2 * wl.cycle if args.trace else wl.cycle
        root = os.getpid()
        with proctree.PeakRss(root) as rss:
            cpu0, t0 = proctree.cpu_seconds(root), time.perf_counter()
            i = 0
            while (i < min_ops or i % wl.cycle
                   or time.perf_counter() - t0 < args.seconds):
                traced = bool(args.trace) and (i // wl.cycle) % 2 == 0
                tracer.enabled, tracer.op_id = traced, i
                n_spans = len(tracer.spans)
                wl.begin_op(i)
                ts = time.perf_counter()
                items, ok = 0, True
                try:
                    with tracer.span("bench.op", "bench"):
                        items = wl.op(i)
                except CheckFailed as e:
                    ok = False
                    errors.append(f"op {i}: check failed: {e}")
                except Exception:  # an op that raises is a failed op
                    ok = False
                    errors.append(f"op {i}: {traceback.format_exc(limit=4)}")
                dt = time.perf_counter() - ts
                dt -= sum(s["end"] - s["start"] for s in tracer.spans[n_spans:]
                          if s["name"] == "trace.counters")
                wl.end_op()
                tracer.enabled = False
                ops.append({"dt": dt, "ok": ok, "items": items,
                            "traced": traced})
                i += 1
            elapsed = time.perf_counter() - t0
            cpu = proctree.cpu_seconds(root) - cpu0
        recall = wl.answer_recall()
        layer = {}
        if args.trace:
            tracer.enabled, tracer.op_id = True, None
            wl.measure_layers()
            tracer.enabled = False
            layer = layer_metrics(tracer, wl, ops, session_s)
            layer["spark.peak_rss_mb"] = rss.peak_mb
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o["ok"] for o in ops)
    correct = failed == 0 and all(f == 0 for _, f in wl.checks.values())
    durations = [o["dt"] for o in ops]
    tail_s, tail_pct, n = tail(durations)
    items = sum(o["items"] for o in ops if o["ok"])
    e2e = {"setup_s": setup_s, "items_per_s": items / elapsed,
           "items_per_cpu_s": items / cpu if cpu else 0.0,
           "op_p50_s": statistics.median(durations), "op_tail_s": tail_s,
           "answer_recall": recall, "ok_op_ratio": 1.0 - failed / len(ops)}
    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        tracer.write(os.path.join(
            OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"))
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    details = {
        "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds, "sizes": wl.sizes(),
        "nproc": len(os.sched_getaffinity(0)), "spark_cores": cores,
        "pyspark": pyspark.__version__,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "setup": {"session_s": session_s, "workers_s": workers_s,
                  "prepare_s": prepare_s, "warm_up_s": warm_up_s},
        "ops": len(ops), "elapsed_s": elapsed, "cpu_s": cpu,
        "peak_rss_mb": rss.peak_mb, "rss_at_peak": rss.at_peak,
        "op_tail": {"percentile": tail_pct, "samples": n},
        "checks": dict(wl.checks), "errors": errors[:5],
        "end_to_end": e2e, "per_layer": layer,
    }
    print(json.dumps({"perfbench": details}))
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def layer_metrics(tracer, wl, ops, session_s) -> dict:
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    c = wl.counters
    n = max(c["ops"], 1)
    out = {"session.start_s": session_s}
    for name in SPAN_METRICS:
        d = tracer.durations(name)
        out[name + "_s"] = statistics.median(d) if d else 0.0
    out.update({
        "database.violations": c["violations"] / n,
        "operators.ann.scored_fraction":
            c["scored_fraction"] / c["ivf_ops"] if c["ivf_ops"] else 0.0,
        "operators.dedup.candidate_pairs": c["candidate_pairs"] / n,
        "operators.dedup.verify_yield":
            c["verified_pairs"] / c["candidate_pairs"]
            if c["candidate_pairs"] else 0.0,
        "spark.jobs_per_op": c["jobs"] / n,
        "spark.stages_per_op": c["stages"] / n,
        "spark.tasks_per_op": c["tasks"] / n,
        "spark.failed_tasks": c["failed_tasks"],
        "spark.python_rows_per_query":
            c["python_rows"] / c["python_queries"]
            if c["python_queries"] else 0.0,
        "spark.shuffle_bytes_per_op": c["shuffle_bytes"] / n,
        "functions.kernels.score_rows_per_s": 0.0,
        "functions.text.shingle_rows_per_s": 0.0,
        "operators.ann.ivf_write_index_s": 0.0,
    })
    out.update(wl.layer)
    p_tr = statistics.median(o["dt"] for o in traced) if traced else 0.0
    p_un = statistics.median(o["dt"] for o in untraced) if untraced else 0.0
    out["trace.op_p50_traced_s"] = p_tr
    out["trace.op_p50_untraced_s"] = p_un
    out["trace.overhead_ratio"] = p_tr / p_un if p_un else 0.0
    op_spans = {i for i, s in enumerate(tracer.spans) if s["op"] is not None}
    self_s = tracer.self_seconds(only=op_spans)
    for layer in LAYERS:
        out[f"{layer}.self_s_per_op"] = self_s[layer] / n
    return out


if __name__ == "__main__":
    sys.exit(main())
