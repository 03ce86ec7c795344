"""Benchmark of the spatial image engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout. One driver process at local[<cores>]
and one closed-loop client: each run issues the workload's operations
one at a time and collects every result, and runs repeat until
``--seconds`` have passed and at least two runs are done. Every result is checked against a reference
computed in set-up. The last line of standard output is one JSON object;
with ``--trace 0`` it holds the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer metrics. See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import probes  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--prepare", action="store_true", help="only make the workload's one-time inputs"
    )
    return p.parse_args()


def p90(values: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    s = sorted(values)
    return s[math.ceil(0.9 * len(s)) - 1]


def run_once(spark, wl, tracer, stats, run_id: str, traced: bool, cores: int) -> dict:
    """One closed-loop run: every operation in turn, then the checks."""
    tracer.enabled, tracer.run_id = traced, run_id
    if traced:
        stats.begin(run_id)
    cpu0 = probes.cpu_jiffies()
    latencies, results = [], []
    with tracer.span("run"):
        for name, fn in wl.ops():
            t0 = time.perf_counter()
            with tracer.span(f"q.{name}"):
                try:
                    out = fn(spark, tracer)
                except Exception:  # an operation that raises counts as failed
                    traceback.print_exc()
                    out = None
            latencies.append((name, time.perf_counter() - t0))
            results.append((name, out))
    steal, idle = probes.host_pcts(cpu0, probes.cpu_jiffies())
    tracer.enabled = False
    run_s = sum(d for _, d in latencies)
    layer = {"host.steal_pct": steal, "host.idle_pct": idle}
    if traced:
        layer.update(stats.end(run_id))
        layer["spark.idle_core_s"] = run_s * cores - layer["spark.executor_run_s"]
    return {
        "run_s": run_s,
        "latencies": latencies,
        "rows": {name: len(out[0]) for name, out in results if out is not None},
        "layer": layer,
        "traced": traced,
        "attempted": len(results),
        "failed": sum(1 for name, out in results if out is None or not wl.check(name, *out)),
    }


@contextmanager
def spark_session(cores: int):
    """The driver's session at local[<cores>]. On exit the JVM is stopped
    and the benchmark waits until the JVM and its Python workers have
    ended."""
    from cdr_analysis_tools_hadoop_spark.session import build_session

    spark = build_session(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # a fixed, pre-touched heap: peak RSS then does not depend on
            # when the garbage collector chooses to grow the heap
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    try:
        yield spark
    finally:
        # the Python workers are the JVM's children; once the JVM is
        # gone they exit too
        workers = probes.descendants(gateway.proc.pid)
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        probes.wait_gone(workers, timeout=60)


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    import workloads

    # the JVM and Python workers inherit these: workers import the engine
    # from this checkout, and scratch files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(workloads.CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workloads.CACHE, "spark-local")
    # no hsperfdata files in the system temp directory, for the launcher
    # JVM as well as the driver
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))

    if args.prepare:
        with spark_session(cores) as spark:
            wl.prepare(spark)
        return 0
    t0 = time.perf_counter()
    if not wl.prepared():
        # one-time inputs shared by all seeds are made by a child process,
        # so that this process's JVM starts as cold, and its peak RSS
        # stays as low, as on every later run
        child = [sys.executable, os.path.abspath(__file__), "--workload", args.workload]
        subprocess.run(child + ["--seed", "0", "--seconds", "0", "--prepare"], check=True)
    phases = {"prepare": time.perf_counter() - t0}

    with spark_session(cores) as spark:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer, stats = probes.Tracer(), probes.SparkStats(spark)
        run_prefix = f"{args.workload}-seed{args.seed}"
        phases["session"] = time.perf_counter() - T_START - phases["prepare"]
        t0 = time.perf_counter()
        wl.setup(spark, args.seed)
        phases["inputs_and_reference"] = time.perf_counter() - t0
        warm = [
            run_once(spark, wl, tracer, stats, f"{run_prefix}-warmup{i}", False, cores)
            for i in range(wl.warmup_runs)
        ]
        phases["warmup"] = sum(w["run_s"] for w in warm)
        setup_s = time.perf_counter() - T_START - phases["prepare"]

        samples, peak_rss = [], 0.0
        t_end = time.perf_counter() + args.seconds
        # at least two untraced runs, so that run_s is never one sample
        # when a run takes longer than --seconds
        min_runs = 3 if args.trace else 2
        while True:
            # a traced invocation alternates untraced and traced runs and
            # ends on an untraced one, so that untraced runs bracket every
            # traced run and a warm-up trend does not pass for overhead
            traced = bool(args.trace) and len(samples) % 2 == 1
            samples.append(
                run_once(spark, wl, tracer, stats, f"{run_prefix}-{len(samples)}", traced, cores)
            )
            peak_rss = max(peak_rss, probes.peak_rss_mb(jvm_pid, cores))
            done = time.perf_counter() >= t_end and len(samples) >= min_runs
            if done and not samples[-1]["traced"]:
                break

        attempted = sum(s["attempted"] for s in warm + samples)
        failed = sum(s["failed"] for s in warm + samples)
        untraced = [s for s in samples if not s["traced"]]
        run_s = statistics.median(s["run_s"] for s in untraced)
        lat = [d for s in untraced for _, d in s["latencies"]]
        if args.trace:
            tracer.enabled, tracer.run_id = True, f"{run_prefix}-attribution"
            layer, checks = wl.attribute(spark, tracer, run_s, cores)
            tracer.enabled = False
            attempted += len(checks)
            failed += checks.count(False)

    if args.trace:
        # spark.* keys exist on traced runs only, host.* on every run
        layer.update(probes.median_by_key([s["layer"] for s in samples]))
        build = tracer.per_run_totals("entry.build")
        layer["entry.build_s"] = statistics.median(build) if build else 0.0
        layer["trace.overhead_s"] = (
            statistics.median(s["run_s"] for s in samples if s["traced"]) - run_s
        )
        for name in {n for s in samples for n, _ in s["latencies"]}:
            layer[f"q.{name}_s"] = statistics.median(
                d for s in samples for n, d in s["latencies"] if n == name
            )
            layer[f"q.{name}_rows"] = samples[-1]["rows"].get(name, 0)
        tracer.write(os.path.join(workloads.CACHE, "traces", f"{run_prefix}.jsonl"))
        declared = spec["per_layer"]
        undeclared = set(layer) - {m["name"] for m in declared}
        if undeclared:
            raise KeyError(f"layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
        # a layer this workload does not exercise reads 0
        values = {m["name"]: layer.get(m["name"], 0) for m in declared}
    else:
        declared = spec["end_to_end"]
        values = {
            "run_s": run_s,
            "setup_s": setup_s,
            "rows_per_s": wl.input_rows / run_s,
            "query_p50_s": statistics.median(lat),
            "query_tail_s": p90(lat),
            "peak_rss_mb": peak_rss,
        }
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    print(
        f"# {args.workload} seed={args.seed} runs={len(samples)} "
        f"query_samples={len(lat)} input_rows={wl.input_rows} "
        f"failed_ratio={failed / attempted:.6g} ({failed}/{attempted}) trace={args.trace}"
    )
    print("# set-up phases (s): " + " ".join(f"{k}={v:.3f}" for k, v in phases.items()))
    for name, m in metrics.items():
        print(f"#   {name:45s} {m['value']:>16.6g} {m['unit']}")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
