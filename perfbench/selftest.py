"""Self-test of the workloads BENCHMARK.json lists: for each, two
untraced runs started side by side on two seeds and one traced run
must finish with correct results and no failed operation, and print
exactly the end-to-end (untraced) and per-layer (traced) metric names
of BENCHMARK.json; the repo tree (``git status --porcelain
--ignored``) must read the same before and after."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from harness import ROOT

SEEDS = (1, 2)
RUN_PY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _tree() -> str | None:
    try:
        return subprocess.run(
            ["git", "status", "--porcelain", "--ignored"], cwd=ROOT,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None  # not a git checkout: nothing to compare


def _start(workload: str, seed: int, seconds: float, trace: int):
    return subprocess.Popen(
        [sys.executable, RUN_PY, "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)


def main(seconds: float) -> int:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    want = {0: [m["name"] for m in spec["end_to_end"]],
            1: [m["name"] for m in spec["per_layer"]]}
    before = _tree()
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        runs = [(s, 0, _start(w, s, seconds, 0)) for s in SEEDS]
        for s, trace, p in runs + [(SEEDS[0], 1, None)]:
            if p is None:  # the traced run, after the side-by-side pair
                p = _start(w, s, seconds, 1)
            out, _ = p.communicate(timeout=900)
            if p.returncode != 0:
                problems.append(f"{w} seed {s} trace {trace}: "
                                f"exit {p.returncode}")
                continue
            res = json.loads(out.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} seed {s} trace {trace}: correct="
                                f"{res['correct']} failed={res['failed']}")
            if list(res["metrics"]) != want[trace]:
                problems.append(f"{w} trace {trace}: printed metrics differ "
                                f"from BENCHMARK.json")
            print(f"{w} seed {s} trace {trace}: attempted="
                  f"{res['attempted']} failed={res['failed']} "
                  f"correct={res['correct']}", flush=True)
    if before is not None and _tree() != before:
        problems.append("the repo tree changed during the runs")
    for p in problems:
        print(f"SELFTEST FAIL: {p}")
    print("selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0
