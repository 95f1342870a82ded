"""Benchmark entry point.

    python3 perfbench/run.py --workload qa_longdoc --seed 1 --seconds 1 --trace 0

Run from the repository root.  It generates the workload's inputs from
the seed, sets the engine up once (``setup_s``: process start to ready,
input generation excluded), runs jobs or requests for ``--seconds``,
checks every output against an independent recomputation, and prints
one JSON line last on stdout.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates plain and stage-by-stage traced
operations and reports the per-layer metrics.  A structured record of
the run (spans, per-op counts, latency tail, failure share, host
facts) is written under ``.perfbench/``.  Exit status: 0 when every
output matched, 1 on a mismatch, 2 when the engine is missing or the
run failed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
MAX_PROBLEMS = 20

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "sources.read_s": "s", "sources.read_files": "count", "sources.read_mb": "MB",
    "sources.read_tasks": "count",
    "functions.chunk_s": "s", "functions.chunk_python_s": "s",
    "functions.chunk_texts": "count", "functions.chunk_mb": "MB",
    "functions.chunks": "count", "functions.chunk_unique_frac": "ratio",
    "llm.map_s": "s", "llm.map_calls": "count", "llm.map_to_python_mb": "MB",
    "llm.map_python_s": "s", "llm.map_kept_frac": "ratio",
    "llm.reduce_s": "s", "llm.reduce_calls": "count", "llm.reduce_python_s": "s",
    "llm.judge_s": "s", "llm.judge_calls": "count", "llm.judge_items_per_call": "count",
    "llm.judge_python_s": "s",
    "llm.client_us_per_call": "us", "llm.error_rows": "count",
    "plans.plan_ms": "ms", "operators.floor_exchanges": "count",
    "plans.reduce_shuffle_mb": "MB", "plans.judge_shuffle_mb": "MB",
    "plans.fetch_wait_s": "s",
    "serve.answer_ms": "ms", "http_api.overhead_ms": "ms",
    "serve.jobs_per_request": "count", "serve.stages_per_request": "count",
    "serve.tasks_per_request": "count",
    "sinks.write_s": "s", "sinks.write_files": "count", "sinks.write_mb": "MB",
    "dedup.keep_list_s": "s", "dedup.edges_rows": "count", "dedup.shuffle_mb": "MB",
    "dedup.spill_mb": "MB", "dedup.cc_s": "s", "dedup.cc_jobs": "count",
    "dedup.task_skew": "ratio",
    "curate.clean_s": "s", "curate.cutoff_s": "s", "curate.survivors_s": "s",
    "curate.select_s": "s", "curate.layout_s": "s", "curate.shard_s": "s",
    "checkpoints.pinned_rdds_after": "count", "storage.peak_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "trace.wall_s": "s", "trace.self_sum_s": "s", "trace.op_self_s": "s",
    "trace.overhead_s": "s",
}
# traced span (kind:name) → the per-layer self-time metric it feeds
SPAN_METRIC = {
    "stage:sources.read": "sources.read_s",
    "stage:functions.chunk": "functions.chunk_s",
    "stage:llm.map": "llm.map_s",
    "stage:llm.reduce": "llm.reduce_s",
    "stage:llm.judge": "llm.judge_s",
    "stage:sinks.write_answers": "sinks.write_s",
    "stage:sinks.write_judged": "sinks.write_s",
    "stage:sinks.write": "sinks.write_s",
    "stage:dedup.keep_list": "dedup.keep_list_s",
    "stage:dedup.edges": "dedup.keep_list_s",
    "stage:dedup.cc": "dedup.cc_s",
    "stage:curate.clean": "curate.clean_s",
    "stage:curate.cutoff": "curate.cutoff_s",
    "stage:curate.survivors": "curate.survivors_s",
    "stage:curate.select": "curate.select_s",
    "stage:curate.layout": "curate.layout_s",
    "stage:curate.shard": "curate.shard_s",
    "op:job": "trace.op_self_s",
    "op:http_api.request": "trace.op_self_s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_environment() -> None:
    """Pin Spark's width to this machine and keep every file the run
    writes (Spark scratch, Python temp files) inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp


def start_session(traced: bool):
    from finmapreduce_spark.session import get_spark

    extra = None
    if traced:  # the REST API lives in the UI server
        extra = {"spark.ui.enabled": "true", "spark.ui.port": "0",
                 "spark.ui.showConsoleProgress": "false",
                 "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                 "spark.sql.ui.retainedExecutions": "100000"}
    return get_spark("perfbench", extra)


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for every process
    this run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.procstat import ProcessTree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — still running: force it
                proc.kill()
                proc.wait()
    ProcessTree().reap(timeout_s=20)


def tail(values: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            ordered = sorted(values)
            return {"percentile": p, "value": ordered[min(n - 1, math.ceil(p / 100 * n) - 1)],
                    "samples": n}
    return {"percentile": None, "value": None, "samples": n}


def layer_metrics(tracer, op: str, counts: dict) -> dict[str, float]:
    selfs = tracer.self_times(op)
    out = dict(counts)
    for key, own in selfs.items():
        name = SPAN_METRIC.get(key)
        if name:
            out[name] = out.get(name, 0.0) + own
    if any(k.startswith("plan:") for k in selfs):
        out["plans.plan_ms"] = 1e3 * sum(v for k, v in selfs.items() if k.startswith("plan:"))
    root = next(s for s in tracer.spans if s["op"] == op and s["kind"] == "op")
    out["trace.wall_s"] = root["end"] - root["start"]
    out["trace.self_sum_s"] = sum(selfs.values())
    return out


def run(args) -> tuple[dict, dict]:
    from perfbench import gen, workloads

    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace}
    inputs, props, gen_s = gen.ensure_inputs(args.workload, args.seed, WORK)
    record.update(inputs=props, generate_s=gen_s)
    wl = workloads.make(args.workload, inputs, WORK)
    traced = bool(args.trace)
    spark = None
    try:
        spark, setup_s = set_up(wl, traced, gen_s)
        record["setup_s"] = setup_s
        t = time.perf_counter()
        expected = wl.expected()
        record["reference_s"] = time.perf_counter() - t
        ops, layers, tracer = measure(args, wl, spark, expected)
    finally:
        wl.stop()
        if spark is not None:
            shutdown(spark)
    plain = [o for o in ops if not o["traced"] and not o["settle"]]
    problems = [p for o in ops for p in o.pop("problems")][:MAX_PROBLEMS]
    attempted = sum(o["attempted"] for o in ops)
    failed = sum(o["failed"] for o in ops)
    record.update(ops=ops, problems=problems, fail_frac=failed / attempted,
                  latency_tail_s=tail([o["wall_s"] for o in plain]))
    if traced:
        walls = [o["wall_s"] for o in ops if o["traced"]]
        metrics = {name: {"value": statistics.median(lay.get(name, 0.0) for lay in layers),
                          "unit": unit} for name, unit in PER_LAYER.items()}
        metrics["trace.overhead_s"]["value"] = (
            statistics.median(walls) - statistics.median(o["wall_s"] for o in plain))
        # the plain ops' count: the traced op pins its own stage outputs
        metrics["checkpoints.pinned_rdds_after"]["value"] = statistics.median(
            o["pinned_rdds_after"] for o in plain)
        record.update(layers=layers, spans=tracer.spans)
    else:
        metrics = {
            "setup_s": setup_s,
            "latency_p50_ms": 1e3 * statistics.median(o["wall_s"] for o in plain),
            "cpu_s": statistics.median(o["cpu_s"] for o in plain),
            "peak_rss_mb": statistics.median(o["peak_rss_mb"] for o in plain),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, record


def set_up(wl, traced: bool, gen_s: float):
    """Start the session and the workload's front end; timed from
    process start, less input generation.  There is no warm-up op:
    every workload measures its first, cold op (see README.md)."""
    spark = start_session(traced)
    wl.start(spark)
    return spark, time.perf_counter() - T0 - gen_s


def measure(args, wl, spark, expected):
    """Closed loop of ops for ``--seconds``, and at least one.  Traced
    runs first settle the session with one uncounted op, then
    alternate plain and traced ops, at least one of each."""
    from perfbench import workloads
    from perfbench.procstat import PeakRss, ProcessTree

    traced = bool(args.trace)
    rest = tracer = None
    if traced:
        from perfbench.trace import SparkRest, Tracer

        rest, tracer = SparkRest(spark), Tracer()
    tree = ProcessTree()
    ops, layers = [], []
    settle = traced
    last = 2 if traced else 0
    with PeakRss(tree) as peak:
        end = time.perf_counter() + args.seconds
        k = 0
        while k <= last or time.perf_counter() < end:
            do_trace = traced and k % 2 == 0 and k > 0
            peak.take()
            c0, w0 = tree.cpu_s(), time.perf_counter()
            if do_trace:
                result, counts = wl.traced_op(spark, k, tracer, rest)
            else:
                result = wl.op(spark, k)
            w1, c1 = time.perf_counter(), tree.cpu_s()
            rss = peak.take()
            pinned = workloads.pinned_rdds(spark)
            workloads.release(spark)
            n, bad, diff = wl.check(expected, result)
            wl.cleanup(k)
            ops.append({"k": k, "settle": settle and k == 0, "traced": do_trace,
                        "wall_s": w1 - w0, "cpu_s": c1 - c0, "peak_rss_mb": rss,
                        "pinned_rdds_after": pinned, "attempted": n, "failed": bad,
                        "problems": diff})
            if do_trace:
                layers.append(layer_metrics(tracer, f"{args.workload}-{k}", counts))
            k += 1
    return ops, layers, tracer


def host_facts() -> dict:
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "spark_version": pyspark.__version__, "python": platform.python_version(),
            "machine": platform.machine()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    for mod in ("finmapreduce_spark", "pyspark"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod}; run from the repository root",
                  file=sys.stderr)
            return 2
    from perfbench.gen import SPECS

    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(SPECS)}",
              file=sys.stderr)
        return 2
    configure_environment()
    try:
        result, record = run(args)
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        return 2
    record.update(host=host_facts(), result=result)
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(rec_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for p in record["problems"]:
        print(f"perfbench: output mismatch: {p}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
