"""Record a same-box baseline: run workloads over several seeds, plus one
traced run each, and write raw samples, medians, quartile spreads and
the tracing overhead to one JSON file.

    python3 perfbench/baseline.py --workloads dashboard_etl vector_serving \\
        --seeds 1-10 --seconds 10 --out perfbench/results/baseline.json

Each run is a separate ``run.py`` process started from the repo root,
the way the benchmark command is run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def _seeds(text: str) -> list[int]:
    """``3`` or an inclusive range ``1-10``."""
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int, trace_out: str | None = None,
             max_seconds: float = 175.0) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--max-seconds", str(max_seconds)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["run_wall_s"] = wall
    return result


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", nargs="+", default=sorted(workloads.WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--max-seconds", type=float, default=175.0,
                    help="per-run limit; the workloads outside BENCHMARK.json need more")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    seeds = _seeds(args.seeds)
    import pyspark

    report = {
        "host": {"nproc": len(os.sched_getaffinity(0)), "cpu": _cpu_model(),
                 "python": platform.python_version(), "pyspark": pyspark.__version__},
        # the bundled tables: the read-only seed-42 sf0.001 set
        "sf": 0.001,
        "table_seed": 42,
        "workloads": {},
    }
    if os.path.exists(args.out):
        # keep the workloads recorded by an earlier invocation
        with open(args.out) as f:
            report["workloads"] = json.load(f).get("workloads", {})
    trace_dir = os.path.dirname(os.path.abspath(args.out))
    for name in args.workloads:
        wl = workloads.WORKLOADS[name]
        runs = []
        for seed in seeds:
            r = run_once(name, seed, args.seconds, 0, max_seconds=args.max_seconds)
            r["seed"] = seed
            runs.append(r)
            print(f"{name} seed {seed}: " + json.dumps({k: round(v["value"], 4) for k, v in r["metrics"].items()}),
                  file=sys.stderr, flush=True)
        metrics = {
            m: {
                "unit": runs[0]["metrics"][m]["unit"],
                "samples": [r["metrics"][m]["value"] for r in runs],
            }
            for m in runs[0]["metrics"]
        }
        for m in metrics.values():
            m["median"] = statistics.median(m["samples"])
            m["spread"] = spread(m["samples"]) if len(m["samples"]) >= 2 else 0.0
        trace_path = os.path.join(trace_dir, f"trace_{name}.json")
        # the traced run repeats the first seed's untraced run
        traced = run_once(name, seeds[0], args.seconds, 1, trace_path, args.max_seconds)
        with open(trace_path) as f:
            traced_e2e = json.load(f)["e2e"]
        report["workloads"][name] = {
            "why": wl.why,
            "seconds": args.seconds,
            "seeds": seeds,
            "ops": list(wl.ops),
            "min_rounds": wl.min_rounds,
            "tail_percentile": wl.tail_pct,
            "attempted": [r["attempted"] for r in runs],
            "failed": [r["failed"] for r in runs],
            "run_wall_s": [r["run_wall_s"] for r in runs],
            "metrics": metrics,
            "traced": {
                "seed": seeds[0],
                "per_layer_file": os.path.basename(trace_path),
                "correct": traced["correct"],
                "run_wall_s": traced["run_wall_s"],
                # traced minus untraced, same seed, as a share of untraced
                "overhead": {
                    m: (traced_e2e[m] - v["value"]) / v["value"]
                    for m, v in runs[0]["metrics"].items()
                },
            },
        }
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
