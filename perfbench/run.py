"""Benchmark entry point.

    python3 perfbench/run.py --workload poll_small --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all

One workload per process: the run pins its environment, starts Spark as
``local[nproc]`` in this driver process, sets up and warms up the
workload, measures it for ``--seconds``, checks its outputs and prints
one JSON line last: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in ``BENCHMARK.json``. ``--workload all`` runs
every workload in turn, each in a child process, and prints a table.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("poll_small", "drain_bulk")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workload_class(name: str):
    from perfbench import streams

    return {"poll_small": streams.PollSmall, "drain_bulk": streams.DrainBulk}[name]


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers
    it started) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run_one(args, spec) -> dict:
    from perfbench import harness
    from perfbench.trace import NullTracer, Tracer

    work = harness.make_work_dir(args.workload)
    try:
        harness.pin_environment(work)
        spark = harness.start_spark(work)
        session_s = time.perf_counter() - PROCESS_START
        workload = None
        try:
            workload = workload_class(args.workload)(
                spark, work, args.seed, args.seconds, bool(args.trace)
            )
            setup_s = time.perf_counter() - PROCESS_START
            plain = workload.measure(NullTracer())
            jvm_peak_mb = harness.jvm_vm_hwm_mb(spark)
            runs = [plain]
            if args.trace:
                tracer = Tracer()
                traced = workload.measure(tracer)
                runs.append(traced)
                tracer.write(os.path.join(ROOT, f".perfbench_trace_{args.workload}.jsonl"))
                layers = workload.extra_layers(traced)
                layers["tracing.overhead_ratio"] = (
                    traced["e2e"]["cycle_p50_s"] / plain["e2e"]["cycle_p50_s"]
                )
                layers["engine.cpu_ms_per_record"] = traced["cpu_ms_per_record"]
        finally:
            # extra_layers may have restarted the session
            stop_spark(workload.spark if workload is not None else spark)
    finally:
        harness.remove_work_dir(work)

    problems = [p for r in runs for p in r["problems"]]
    for p in problems:
        print(f"CHECK FAILED [{args.workload}]: {p}", file=sys.stderr)
    if args.trace:
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        unknown = set(layers) - set(values)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        values.update(layers)
        metrics = spec["per_layer"]
    else:
        values = dict(
            plain["e2e"], setup_s=setup_s, peak_rss_mb=plain["python_peak_mb"] + jvm_peak_mb
        )
        metrics = spec["end_to_end"]
    print(
        f"[{args.workload}] session up at {session_s:.2f} s, set-up done at "
        f"{setup_s:.2f} s; peak RSS: Python {plain['python_peak_mb']:.0f} MB, "
        f"JVM {jvm_peak_mb:.0f} MB; cycles (s): {' '.join(f'{c:.2f}' for c in plain['cycles'])}",
        file=sys.stderr,
    )
    return {
        "correct": not problems,
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in metrics
        },
    }


def run_all(args) -> int:
    """Every workload in its own child process; one table of results,
    with the failed-operation ratio of each."""
    status = 0
    print(f"{'workload':<14} {'metric':<40} {'value':>14}  unit")
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name:<14} FAILED (exit {proc.returncode})")
            status = 1
            continue
        res = json.loads(lines[-1])
        for metric, v in res["metrics"].items():
            print(f"{name:<14} {metric:<40} {v['value']:>14.4f}  {v['unit']}")
        ratio = res["failed"] / res["attempted"]
        print(f"{name:<14} {'ops_failed_ratio':<40} {ratio:>14.4f}  ratio"
              f"  ({res['failed']}/{res['attempted']}, correct={res['correct']})")
        if not res["correct"]:
            status = 1
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "go_zoom_kinesis_spark")):
        print("perfbench: the go_zoom_kinesis_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    spec = load_spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    result = run_one(args, spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
