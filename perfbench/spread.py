"""Run-to-run spread of the benchmark, the way its acceptance is judged.

    python3 perfbench/spread.py --workload changefeed_ingest,lake_query --seeds 1-10 --seconds 15
    python3 perfbench/spread.py --workload lake_query --seeds 1-5 --seconds 15 --overhead

Runs ``perfbench/run.py`` once per seed and workload, one run at a time;
with several workloads the seeds alternate between them (seed 1 of each,
then seed 2 of each, ...), so every workload sees the same host conditions.
Prints for each workload and end-to-end metric its values, median, quartiles
(``statistics.quantiles(n=4)``) and spread = (q3 - q1) / median. With
``--overhead`` every seed also gets a traced run, and the tracing overhead
(traced minus untraced median of each end-to-end metric) is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
E2E_LINE = re.compile(r"\] e2e (\S+) = (\S+) ")
STEAL_LINE = re.compile(r" host_steal_share = (\S+) ")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                         text=True, check=True).stdout.splitlines()
    result = json.loads(out[-1])
    e2e = {m.group(1): float(m.group(2)) for m in map(E2E_LINE.search, out) if m}
    steal = [float(m.group(1)) for m in map(STEAL_LINE.search, out) if m]
    result["steal"] = steal[0] if steal else float("nan")
    result["wall"] = time.perf_counter() - t0
    return result, e2e


def summary(values: list[float]) -> str:
    med = statistics.median(values)
    if len(values) < 2:
        return f"median {med:.6g}"
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (f"median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
            f"spread {(q3 - q1) / med if med else float('nan'):.4f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="one name or a comma-separated list")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    workloads = args.workload.split(",")
    plain: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    traced: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    for seed in seeds(args.seeds):
        for workload in workloads:
            for trace, acc in ((0, plain), (1, traced))[: 2 if args.overhead else 1]:
                result, e2e = run_once(workload, seed, args.seconds, trace)
                print(f"{workload} seed {seed} trace {trace}: correct={result['correct']} "
                      f"attempted={result['attempted']} failed={result['failed']} "
                      f"steal={result['steal']:.3f} wall={result['wall']:.1f}s "
                      + " ".join(f"{k}={v:.5g}" for k, v in e2e.items()), flush=True)
                for k, v in e2e.items():
                    acc[workload].setdefault(k, []).append(v)
    for workload in workloads:
        for k, vs in plain[workload].items():
            print(f"{workload} {k}: {summary(vs)}  values {[round(v, 4) for v in vs]}")
            if k in traced[workload]:
                d = statistics.median(traced[workload][k]) - statistics.median(vs)
                print(f"{workload} {k}: tracing overhead {d:+.6g} "
                      f"({d / statistics.median(vs):+.2%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
