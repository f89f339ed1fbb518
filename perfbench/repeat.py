"""Repeat mode: run one workload N times, each in a fresh process on
its own seed, and print every metric's per-run figures, median,
quartiles and quartile spread (IQR / median)."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

RUN_PY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One run in its own process; returns its parsed result line and
    the run's wall time in ``wall_s``."""
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, RUN_PY, "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t0
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(workload: str, seed: int, seconds: float, trace: int,
         n: int) -> int:
    runs = []
    for k in range(n):
        out = one_run(workload, seed + k, seconds, trace)
        runs.append(out)
        print(f"seed {seed + k}: correct={out['correct']} "
              f"attempted={out['attempted']} failed={out['failed']} "
              f"wall={out['wall_s']:.1f}s " +
              " ".join(f"{m}={v['value']:.4g}"
                       for m, v in out["metrics"].items()), flush=True)
    summary = {}
    for m, v in runs[0]["metrics"].items():
        vals = [r["metrics"][m]["value"] for r in runs]
        med, q1, q3, rel = spread(vals)
        summary[m] = {"unit": v["unit"], "median": med, "q1": q1,
                      "q3": q3, "iqr_over_median": rel, "runs": vals}
        print(f"{m:>58} median {med:10.4g} {v['unit']:<5} "
              f"q1 {q1:10.4g} q3 {q3:10.4g} spread {rel:6.1%}")
    print(json.dumps({
        "workload": workload, "runs": n,
        "correct": all(r["correct"] for r in runs),
        "attempted": [r["attempted"] for r in runs],
        "failed": [r["failed"] for r in runs],
        "wall_s": [r["wall_s"] for r in runs],
        "metrics": summary,
    }))
    return 0 if all(r["correct"] for r in runs) else 1
