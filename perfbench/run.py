"""Benchmark command for the stream + batch engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed,
starts one local Spark session (``local[<cpus>]``), warms up, measures for
``--seconds`` seconds and checks the outputs. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``). End to end,
``setup_s`` is the time from start until measuring begins (JVM, inputs,
warm-up), ``op_wall_s`` the median wall time of one operation and
``cpu_s_per_op`` the median CPU time one operation costs. Outputs are
compared with their references after measuring, outside every figure.
Everything the run writes goes under ``.perfbench_work/`` and is removed
at the end.

    python3 perfbench/run.py --steadiness <runs>

runs every workload ``<runs>`` times with seeds 1..<runs> and writes each
end-to-end metric's spread next to its bound to ``perfbench/STEADINESS.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "stock_price_prediction_using_stream_and_batch_processing_spark"


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def prepare_env(work: str) -> None:
    """Process environment for the driver, the JVM and the Python workers;
    must run before pyspark is imported."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)


def start_spark(work: str, trace: bool):
    from stock_price_prediction_using_stream_and_batch_processing_spark.session import get_spark

    from perfbench.tracing import eventlog_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed set of JIT compiler threads: tree_cpu_seconds leaves
        # them out, which holds only while none of them exits
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                                          " -XX:-UseDynamicNumberOfCompilerThreads"),
    }
    if trace:
        conf.update(eventlog_conf(os.path.join(work, "eventlog")))
    return get_spark(app_name="perfbench", extra_conf=conf)


def driver_peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver: the JVM (``VmHWM``) plus this
    Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM gateway process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench import workloads as W
    from perfbench.tracing import EventLog, ProgressCollector, Tracer

    wl = W.WORKLOADS[name]()
    ctx = W.Context(work=work, seed=seed, seconds=seconds)
    t = time.time()
    spark = ctx.spark = start_spark(work, trace)
    get_spark_s = time.time() - t
    stopped = False
    try:
        wl.setup(ctx)
        setup_s = time.time() - T_START
        if not trace:
            stats = W.measure(wl, ctx)
            wl.check(ctx)
            metrics = {
                "setup_s": setup_s,
                "op_wall_s": statistics.median(stats.wall_s),
                "cpu_s_per_op": statistics.median(stats.cpu_s),
            }
        else:
            # one untraced op and the checks, then one op with spans and
            # the progress listener on; the event log is on for the whole run
            untraced = W.measure(wl, ctx, min_ops=1, max_ops=1)
            wl.check(ctx)
            if hasattr(wl, "untraced_layers"):
                wl.untraced_layers(ctx)
            ctx.tracer = Tracer()
            ctx.tracer.install()
            progress = ProgressCollector()
            spark.streams.addListener(progress.listener)
            traced = W.measure(wl, ctx, min_ops=1, max_ops=1)
            spark.streams.removeListener(progress.listener)
            rss = driver_peak_rss_mb(spark)
            stop_spark(spark)
            stopped = True
            log = EventLog.read(os.path.join(work, "eventlog"))
            W.stream_layers(ctx, progress)
            W.span_layers(ctx, log)
            W.part_layers(ctx, log)
            up, tp = untraced.wall_s[0], traced.wall_s[0]
            metrics = {k: 0.0 for k in (m["name"] for m in spec()["per_layer"])}
            metrics.update(ctx.layer)
            metrics.update({
                "session.get_spark_s": get_spark_s,
                "driver_peak_rss_mb": rss,
                "tracing.untraced_op_s": up,
                "tracing.traced_op_s": tp,
                "tracing.overhead_s": tp - up,
                "tracing.traced_op_cpu_s": traced.cpu_s[0],
                "failed_op_share": ctx.failed / max(ctx.attempted, 1),
            })
    finally:
        if not stopped:
            stop_spark(spark)
    for p in ctx.problems:
        print(f"check failed: {p}", file=sys.stderr)
    return {"ctx": ctx, "metrics": metrics}


def emit(result: dict, trace: bool) -> None:
    s = spec()
    declared = s["per_layer"] if trace else s["end_to_end"]
    values = result["metrics"]
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
    for n, m in metrics.items():
        print(f"{n:56s} {m['value']:>18.6f} {m['unit']}")
    ctx = result["ctx"]
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))


def steadiness(runs: int) -> None:
    """Run each workload ``runs`` times and record each end-to-end
    metric's quartile spread as a share of its median, next to its bound."""
    s = spec()
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    out = {"run_seconds": s["run_seconds"], "runs": runs, "cpus": len(os.sched_getaffinity(0)),
           "workloads": {}}
    for name in (w["name"] for w in s["workloads"]):
        rows, walls = [], []
        for i in range(runs):
            t = time.time()
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
                   str(1 + i), "--seconds", str(s["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            walls.append(time.time() - t)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                raise SystemExit(f"{name} seed {1 + i} failed ({p.returncode}):\n{p.stderr[-3000:]}")
            rows.append(json.loads(last))
            print(name, 1 + i, f"{walls[-1]:.1f}s", last, flush=True)
        entry = {"run_wall_s": walls, "all_correct": all(r["correct"] for r in rows), "metrics": {}}
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in rows]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            entry["metrics"][m] = {"median": med, "spread": (q3 - q1) / med, "bound": bound,
                                   "values": vals}
        out["workloads"][name] = entry
    # wall time of a regression check making 22 runs per workload plus 4 more
    per_run = [statistics.median(w["run_wall_s"]) for w in out["workloads"].values()]
    out["projected_gate_s"] = 22 * sum(per_run) + 4 * max(per_run)
    path = os.path.join(ROOT, "perfbench", "STEADINESS.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {path}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, metavar="RUNS")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    names = [w["name"] for w in spec()["workloads"]]
    if a.steadiness:
        steadiness(a.steadiness)
        return 0
    if a.workload not in names:
        ap.error(f"--workload must be one of {names}")
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        seconds = a.seconds if a.seconds is not None else spec()["run_seconds"]
        result = run_workload(a.workload, a.seed, seconds, bool(a.trace), work)
        emit(result, bool(a.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    return 0


if __name__ == "__main__":
    sys.exit(main())
