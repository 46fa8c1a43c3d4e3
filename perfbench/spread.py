"""Repeat runs over several seeds and summarize their spread.

    python3 perfbench/spread.py --workloads serve_mixed,serve_skew --seeds 1-10

Runs ``perfbench/run.py`` once per (workload, seed), one run at a time,
from the checkout root, for the ``run_seconds`` of ``BENCHMARK.json``.
For every metric it prints the median and the distance between the
first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), and each run's wall time. With
``--traced`` each seed also gets a ``--trace 1`` run, and the tracing
overhead (traced ``trace.op_p50_s`` against untraced ``op_p50_s``) and
the traced coverage of the loop's wall time are printed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, trace: int) -> dict:
    seconds = spec()["run_seconds"]
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed "
                           f"({p.returncode}):\n{p.stderr[-3000:]}")
    return {"workload": workload, "seed": seed, "trace": trace,
            "wall_s": wall, "report": json.loads(lines[-2])["report"],
            "result": json.loads(lines[-1])}


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile distance / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--traced", action="store_true")
    p.add_argument("--out", help="append every run as a JSON line here")
    args = p.parse_args(argv)
    for w in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            for trace in ((0, 1) if args.traced else (0,)):
                r = run_once(w, seed, trace)
                runs.append(r)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
                res = r["result"]
                print(f"{w} seed={seed} trace={trace} wall={r['wall_s']:.1f}s "
                      f"correct={res['correct']} attempted={res['attempted']} "
                      f"failed={res['failed']}", flush=True)
        plain = [r for r in runs if r["trace"] == 0]
        print(f"== {w}: {len(plain)} untraced runs, wall median "
              f"{statistics.median(r['wall_s'] for r in plain):.1f}s")
        for name in plain[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in plain]
            med, sp = spread(vals)
            print(f"  {name:28s} median {med:.6g}  spread {sp:.4f}")
        traced = [r for r in runs if r["trace"] == 1]
        if traced:
            tm = [r["result"]["metrics"] for r in traced]
            op = statistics.median(m["trace.op_p50_s"]["value"] for m in tm)
            base = statistics.median(r["result"]["metrics"]["op_p50_s"]["value"]
                                     for r in plain)
            cov = [m["trace.coverage"]["value"] for m in tm]
            print(f"  tracing overhead on op_p50_s: {op / base - 1:+.3f}; "
                  f"coverage min {min(cov):.3f} median "
                  f"{statistics.median(cov):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
