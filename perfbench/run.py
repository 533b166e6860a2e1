"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload hot_points --seed 1 --seconds 8 --trace 0

Run from the repository root.  Starts one Spark driver at local[nproc],
writes the seeded inputs under .perfbench_work/, warms up with the
workload's warm-up passes, then runs passes back to back (one client,
closed loop) until --seconds have elapsed and the workload's minimum pass
count is reached, checking every pass's output against a NumPy reference.
The last stdout line is the JSON result; progress goes to stderr.  With
--trace 1 half the passes are traced and the per-layer metrics are
reported instead of the end-to-end ones; the spans are written to
.perfbench_work/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def hygiene_env(run_dir: str) -> None:
    """Environment for the JVM and the Python workers it forks: the
    package on their path, every scratch file inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} pyspark-shell"
    )


def stop_spark(spark, seen: dict[int, str]) -> None:
    """Stop the session, the JVM and every process seen below this one
    ({pid: start time}), and wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.tracing import start_time

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    for pid, started in seen.items():
        while start_time(pid) == started and time.monotonic() < deadline:
            time.sleep(0.1)
        if start_time(pid) == started:
            os.kill(pid, signal.SIGKILL)
    kill_deadline = time.monotonic() + 10
    while any(start_time(p) == s for p, s in seen.items()):
        if time.monotonic() > kill_deadline:
            raise RuntimeError("processes survived SIGKILL")
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # metric names and units: BENCHMARK.json is the one list of record
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sys.path.insert(0, ROOT)
    from perfbench import workloads  # imports the engine: fails outside the repo
    from perfbench.tracing import RssSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    hygiene_env(run_dir)
    sampler = RssSampler()
    sampler.start()

    from s2geometry_spark.sources.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=nproc, shuffle_partitions=2 * nproc)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, enabled=False)
        wl = workloads.WORKLOADS[args.workload](
            spark=spark, tracer=tracer, work=run_dir, seed=args.seed, nproc=nproc
        )
        log(f"{args.workload} seed={args.seed} nproc={nproc} session {start_s:.2f}s")
        return run(args, spec, wl, tracer, sampler, start_s)
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark, sampler.seen)
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, spec: dict, wl, tracer, sampler, start_s: float) -> int:
    """Set-up, warm-up, the timed closed loop and the result line."""
    from perfbench.tracing import tree_cpu_s

    t = time.perf_counter()
    wl.build_inputs()
    input_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    wl.reference()
    wrong = 0
    t = time.perf_counter()
    for _ in range(getattr(wl, "warmup_passes", 1)):
        out = wl.run_pass()  # warm-up: an exception here ends the run
        wrong += wl.check(out)
    warm_s = time.perf_counter() - t
    setup_s = start_s + input_s + prepare_s + warm_s
    log(f"setup {setup_s:.2f}s (inputs {input_s:.2f}s, "
        f"prepare {prepare_s:.2f}s, warm-up {warm_s:.2f}s)")
    log(f"settings {wl.settings}")

    min_passes = getattr(wl, "min_passes", 1)
    walls = {True: [], False: []}  # traced? -> pass walls
    cpus, peaks = [], []  # CPU seconds and peak RSS of each untraced pass
    attempted = failed = 0
    t_start = time.perf_counter()
    while True:
        # traced and untraced passes in ABBA order: passes that alternate
        # two kinds (region_lookups) trace each kind equally often
        traced = bool(args.trace) and (attempted + attempted // 2) % 2 == 0
        tracer.enabled, tracer.pass_id = traced, attempted
        attempted += 1
        c = tree_cpu_s()  # reads /proc: outside the timed wall
        sampler.take_peak()
        t = time.perf_counter()
        try:
            with tracer.span("bench.pass"):
                out = wl.run_pass()
        except Exception:  # noqa: BLE001 - a failed pass is counted, the loop goes on
            failed += 1
            log("pass failed:\n" + traceback.format_exc())
        else:
            walls[traced].append(time.perf_counter() - t)
            if not traced:
                cpus.append(tree_cpu_s() - c)
                peaks.append(sampler.take_peak())
            wrong += wl.check(out)
            log(f"pass {attempted} {'traced ' if traced else ''}{walls[traced][-1]:.2f}s"
                + ("" if traced else f" cpu {cpus[-1]:.2f}s"))
        elapsed = time.perf_counter() - t_start
        if elapsed >= args.seconds and attempted >= max(min_passes, 2 if args.trace else 1):
            break
    tracer.enabled = False

    if args.trace:
        tracer.finish()
        layer = wl.probes()
        untraced = statistics.median(walls[False]) if walls[False] else float("nan")
        traced = statistics.median(walls[True]) if walls[True] else float("nan")
        layer.update(tracer.pass_shares())
        layer.update(tracer.cpu_per_pass())
        layer.update(
            {
                "sources.session.start_s": start_s,
                "spark.stages": tracer.per_pass("bench.pass", "stages"),
                "spark.tasks": tracer.per_pass("bench.pass", "tasks"),
                "spark.tasks_failed": tracer.per_pass("bench.pass", "tasks_failed"),
                "bench.passes": attempted,
                "bench.trace_overhead_s": traced - untraced,
                "bench.wrong_results": wrong,
                "bench.fail_ratio": failed / attempted,
            }
        )
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        tracer.dump(trace_path, {"workload": args.workload, "seed": args.seed,
                                 "settings": wl.settings, "untraced_pass_s": walls[False],
                                 "traced_pass_s": walls[True]})
        log(f"spans written to {trace_path}")
        # a layer the workload never calls reads 0
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        values = layer
    else:
        job_p50_s = statistics.median(walls[False] or [float("nan")])
        values = {
            "setup_s": setup_s,
            "cpu_s_per_pass": statistics.median(cpus or [float("nan")]),
            "peak_rss_mb": statistics.median(peaks or [float("nan")]) / 2**20,
            # wall-clock pass metrics: logged, but not in BENCHMARK.json,
            # since other tenants of a shared host stretch them up to 2.5x
            "rows_per_s": wl.rows_per_pass / job_p50_s,
            "job_p50_s": job_p50_s,
        }
        if hasattr(wl, "end_to_end"):
            values.update(wl.end_to_end(walls[False]))
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        for name in ("rows_per_s", "job_p50_s"):
            log(f"{name} = {values[name]:.6g} (not a listed metric)")
    # metrics of a workload outside BENCHMARK.json's rotation follow its list
    for name, unit in getattr(wl, "extra_units", {}).items():
        if name in values:
            metrics[name] = {"value": float(values[name]), "unit": unit}
    for name, m in metrics.items():
        log(f"{name} = {m['value']:.6g} {m['unit']}")
    correct = wrong == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct and failed < attempted else 1


if __name__ == "__main__":
    sys.exit(main())
