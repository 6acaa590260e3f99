"""Repeated runs of the benchmark, summarised.

    # spread: N seeds per workload, quartile spread of each end-to-end metric
    python3 perfbench/report.py spread --workload serve_dense --seeds 1-10

    # traced runs of the first seeds of a spread file: per-layer metrics
    # (median over the traced runs) and the tracing overhead against the
    # untraced runs of the same seeds
    python3 perfbench/report.py trace --workload serve_dense --seeds 1-3 \\
        --untraced perfbench/results/spread_serve_dense.json \\
        --out perfbench/results/trace_serve_dense.json

The spread of a metric is the distance between the first and third
quartile of its values (``statistics.quantiles(values, n=4)``) as a
share of their median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# figures of the untraced run's context line that a spread also summarises
CONTEXT_METRICS = ("query_p50_ms", "query_p95_ms", "server_cpu_ms_per_query")


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(context line, result line) of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE), timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"run failed ({proc.returncode}): {proc.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def summarise(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        out[name] = {
            "median": statistics.median(values),
            "spread": spread(values) if len(values) > 1 else 0.0,
            "values": values,
        }
    return out


def bounds() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("mode", choices=("spread", "trace"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--untraced", help="spread file with the untraced runs (trace mode)")
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    if args.mode == "spread":
        results, contexts = [], []
        for seed in args.seeds:
            ctx, res = run(args.workload, seed, args.seconds, 0)
            results.append(res)
            contexts.append(ctx)
            print(json.dumps({"seed": seed, "calibration_ms": ctx["calibration_ms"],
                              **{m: v["value"] for m, v in res["metrics"].items()},
                              **{m: ctx[m] for m in CONTEXT_METRICS}}),
                  flush=True)
        summary = {"workload": args.workload, "seeds": args.seeds,
                   "seconds": args.seconds, "host": ctx["host"],
                   "end_to_end": summarise(results),
                   # latency is not an end-to-end metric (README); its
                   # untraced values serve the trace mode's overhead
                   "context": summarise([
                       {"metrics": {m: {"value": c[m]} for m in CONTEXT_METRICS}}
                       for c in contexts
                   ])}
        limits = bounds()
        for name, s in summary["context"].items():
            print(f"{name:22s} median {s['median']:12.4f}  spread {s['spread']:.4f}"
                  "  (context, no bound)")
        for name, s in summary["end_to_end"].items():
            flag = "" if name == "setup_s" or s["spread"] < limits[name] / 3 else "  WIDE"
            print(f"{name:22s} median {s['median']:12.4f}  spread {s['spread']:.4f}"
                  f"  (bound/3 {limits[name] / 3:.4f}){flag}")
    else:
        with open(args.untraced) as fh:
            base = json.load(fh)
        results = []
        for seed in args.seeds:
            ctx, res = run(args.workload, seed, args.seconds, 1)
            results.append(res)
        layers = summarise(results)
        same_seeds = [base["seeds"].index(seed) for seed in args.seeds]
        overhead = {}
        for m in ("setup_s", "query_p50_ms", "query_p95_ms"):
            values = (base["end_to_end"].get(m) or base["context"][m])["values"]
            untraced = statistics.median(values[i] for i in same_seeds)
            traced = layers[f"trace.{m}"]["median"]
            overhead[m] = {"traced": traced, "untraced": untraced,
                           "share": traced / untraced - 1}
        summary = {
            "workload": args.workload, "seeds": args.seeds,
            "seconds": args.seconds, "host": ctx["host"],
            "per_layer": {m: v for m, v in layers.items() if not m.startswith("trace.")},
            "tracing_overhead": overhead,
        }
        print(json.dumps(overhead, indent=1))
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
