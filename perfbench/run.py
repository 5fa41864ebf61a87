"""Benchmark entry point for the ingest pipeline and its readers.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

runs one workload in this process and prints, as its last line, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (prefixed ``#``) stamps the run: core
count, seed, input sizes, Spark and Java versions, run length, the
workload's own metric names, and in a traced run every per-layer number
including the workload-specific ones.

    python3 perfbench/run.py --workload all --seed 1 --seconds 20

runs every workload untraced and then traced, each in a fresh process,
and prints every end-to-end metric by name and unit, the error rate of
each workload, and the tracing overhead (traced minus untraced).
BENCHMARK.json gates trickle and analytics; backfill runs here and on
its own, but a gated run of it would not fit the time a full
measurement may take (see README.md).

Run it from the root of a checkout; it reads and writes only there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("backfill", "trickle", "analytics")
#: a run that takes longer than this is stopped and reports no result
RUN_LIMIT_S = 150


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _quantile(values: list[float], q: float) -> float:
    """Inclusive linear-interpolation quantile (defined for one value)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _end_to_end(res) -> dict[str, float]:
    lat = res.latencies
    return {
        "setup_s": res.setup_s,
        "latency_p50_s": _quantile(lat, 0.5),
        "latency_p90_s": _quantile(lat, 0.9),
        "throughput_per_s": res.work / res.busy_s,
    }


#: the workload's own names for the generic end-to-end metrics
_NAMED = {
    "backfill": {"throughput_per_s": "backfill_events_per_s"},
    "trickle": {
        "latency_p50_s": "trickle_latency_p50_s",
        "latency_p90_s": "trickle_latency_p90_s",
    },
    "analytics": {
        "latency_p50_s": "ref_query_p50_s",
        "latency_p90_s": "ref_query_p90_s",
    },
}


def run_one(args) -> int:
    import workloads
    from spans import Tracer, layer_metrics, workload_layer_metrics

    spec = _load_spec()
    tracer = Tracer(enabled=bool(args.trace))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # everything Spark and its Python workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = workloads.DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the streaming panel entries' scratch, which defaults to /dev/shm
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = os.environ["TMPDIR"]
    # the JVM spark-submit runs to build the command line: no hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    run = workloads.Run(args.seed, args.seconds, tracer, work, T_PROCESS)
    try:
        res = workloads.WORKLOADS[args.workload](run)
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": workloads.DRIVER_MEMORY,
            "setup_s": res.setup_s,
            "latency_samples": len(res.latencies),
            "error_rate": res.failed / max(1, res.attempted),
            "problems": res.problems[:10],
            "run_wall_s": time.perf_counter() - T_PROCESS,
            "cpu_steal_share": run.steal_share,
            **run.versions(),
            **res.info,
            "peak_rss_mb": res.peak_rss_mb,
            "end_to_end": _end_to_end(res),
        }
        for generic, own in _NAMED[args.workload].items():
            stamp[own] = stamp["end_to_end"][generic]
        layers = {}
        if tracer.enabled:
            layers = layer_metrics(tracer, res.layer_phase)
            layers["memory.peak_rss_mb"] = res.peak_rss_mb
            if args.workload == "analytics":
                stamp["workload_layers"] = workload_layer_metrics(tracer)
            tracer.write(
                os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"),
                {"stamp": stamp},
            )
    finally:
        run.stop_session()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else stamp["end_to_end"]
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": units[m["name"]]} for m in wanted
    }
    print("# " + json.dumps(stamp, default=str))
    print(
        json.dumps(
            {
                "correct": res.failed == 0 and not res.problems,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the JVM to exit (it exits
    when its stdin, a pipe from this process, closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    spec = _load_spec()
    summary = {}
    for name in WORKLOAD_NAMES:
        out = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(trace),
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{name} (trace {trace}) failed")
            out[trace] = (json.loads(lines[-2][2:]), json.loads(lines[-1]))
        (stamp, result), (traced, traced_result) = out[0], out[1]
        overhead = {
            k: traced["end_to_end"][k] - v for k, v in stamp["end_to_end"].items()
        }
        extra = {k: traced[k] for k in ("cold_s", "panel_s") if k in traced}
        summary[name] = {
            "error_rate": stamp["error_rate"],
            "traced_error_rate": traced["error_rate"],
            "correct": result["correct"] and traced_result["correct"],
            "metrics": result["metrics"],
            "trace_overhead": overhead,
            "per_layer": traced_result["metrics"],
            "peak_rss_mb": stamp["peak_rss_mb"],
            **extra,
        }
        print(
            f"{name}: error_rate {stamp['error_rate']:.4f} "
            f"(traced run, with the panel if any: {traced['error_rate']:.4f})"
        )
        for m in spec["end_to_end"]:
            label = m["name"]
            if label in _NAMED[name]:
                label += f" ({_NAMED[name][label]})"
            v = result["metrics"][m["name"]]["value"]
            print(
                f"  {label:42s} {v:12.4f} {m['unit']:5s}"
                f" tracing overhead {overhead[m['name']]:+.4f}"
            )
        print(f"  {'peak_rss_mb':42s} {stamp['peak_rss_mb']:12.4f} MB")
        for k, v in extra.items():
            print(f"  {k + ' (traced run)':42s} {v:12.4f} s")
    print(json.dumps(summary))
    return 0


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=20)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if args.workload == "all":
        return run_all(args)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import aws_kinesis_data_ingestion_restapi_spark  # noqa: F401
    except ImportError as exc:
        sys.stderr.write(f"cannot import the package from {ROOT}: {exc}\n")
        return 2

    def _too_long(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")

    signal.signal(signal.SIGALRM, _too_long)
    signal.alarm(RUN_LIMIT_S)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
