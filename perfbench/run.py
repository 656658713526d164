#!/usr/bin/env python3
"""Benchmark of the lucenenet_spark engine: one command, seeded workloads.

    python3 perfbench/run.py --workload topk_serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Human-readable lines (every metric of the
workload by name, value and unit) go to stdout first; the last stdout line
is one JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics named in BENCHMARK.json,
with --trace 1 the per-layer metrics, taken from spans recorded around the
engine's public calls (trace files land in .perfbench_work/traces/).
All scratch data lives under .perfbench_work/ and is removed at exit.
"""
import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# The session defaults to a 32g heap; 4g fits a 16 GB, 4-core host with room
# for the Python workers.
DRIVER_MEM = "4g"


def process_start() -> float:
    """Wall-clock time this process was started (from /proc)."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return PROCESS_T0


def isolate(run_dir: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = tmp


def declared_metrics(trace: bool, workload: str) -> list[str] | None:
    """Metric names BENCHMARK.json fixes for this mode, if it lists the workload."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        return None
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["topk_serve", "nrt_churn", "bulk_build"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload at tiny size and check the output")
    args = ap.parse_args(argv)
    if args.selftest:
        import selftest

        return selftest.main()
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "lucenenet_spark")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    isolate(run_dir)
    sys.path.insert(1, ROOT)
    import layers
    import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                        args.size, run_dir, process_start())
    try:
        workloads.WORKLOADS[args.workload](run)
        if args.trace:
            metrics = layers.per_layer(run)
            run.tracer.write(os.path.join(
                WORK, "traces", f"{args.workload}-s{args.seed}-p{os.getpid()}.jsonl"))
        else:
            metrics = run.end_to_end
    finally:
        if run.spark is not None:
            workloads.stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: setup {run.end_to_end.get('setup_s', (0,))[0]:.1f} s, "
          f"total {time.time() - run.process_start:.1f} s", file=sys.stderr)

    shown = {**run.end_to_end, **metrics}  # a traced run shows both
    for name, (value, unit) in shown.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    names = declared_metrics(bool(args.trace), args.workload) or list(metrics)
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
