"""Paired A/B of registry queries between two commits.

Usage: python tools/ab.py BASE [HEAD] -- QUERY [QUERY ...]

BASE, and HEAD when given, is exported with ``git archive REF | tar -x``
into a temporary directory; without HEAD the other side is this
checkout as it stands.  Each side runs ``tools/time_queries.py -n5
QUERY...`` as a subprocess, ROUNDS times, and the side that runs first
alternates each round (AB, BA, AB), so both sides share one host window.
One row per query: each side's per-round minima, the HEAD/BASE ratio of
their medians and how many rounds HEAD won (ties count for neither).  A
query that is unknown or fails on either side is reported as such.
The scale factor is $SPARK_GRAFT_SF_DIR, as for time_queries.

Each side's subprocesses run with TMPDIR inside that side's temporary
directory, so the at-rest stores they build are removed with it on exit,
after a failure or Ctrl-C too.  Each side therefore builds its stores
once, in its first round: time_queries builds them (prebuild_stores)
before its timed loop, which adds wall time but not measured time.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROUNDS = 3
PASSES = 5
_TIME_LINE = re.compile(r"^(\S+)\s+([0-9.]+) s\s+\(passes:")
_UNKNOWN_LINE = re.compile(r"^(\S+): unknown query$")


def parse_times(stdout: str) -> dict:
    """{query: min seconds, or "unknown"} from time_queries' output."""
    out: dict = {}
    for line in stdout.splitlines():
        if m := _TIME_LINE.match(line):
            out[m[1]] = float(m[2])
        elif m := _UNKNOWN_LINE.match(line):
            out[m[1]] = "unknown"
    return out


def compare(name: str, base_runs: list, head_runs: list) -> dict:
    """One table row from each side's per-round parse_times results.
    A side whose query is not timed in every round reads "unknown" or
    "failed" in place of its minima, and the row has no ratio."""
    row: dict = {"ratio": None, "head_wins": None}
    for side, runs in (("base", base_runs), ("head", head_runs)):
        got = [r.get(name, "failed") for r in runs]
        bad = [g for g in got if isinstance(g, str)]
        row[side] = min(bad, key=("unknown", "failed").index) if bad else got
    if isinstance(row["base"], list) and isinstance(row["head"], list):
        row["ratio"] = round(
            statistics.median(row["head"]) / statistics.median(row["base"]), 3
        )
        row["head_wins"] = sum(h < b for b, h in zip(row["base"], row["head"]))
    return row


def _export(ref: str, dest: str) -> str:
    tree = os.path.join(dest, "tree")
    os.makedirs(tree)
    tar = subprocess.run(
        ["git", "-C", REPO, "archive", ref],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", tree], input=tar, check=True)
    return tree


def _run(tree: str, tmp: str, query_names: list) -> dict:
    env = dict(os.environ, TMPDIR=tmp, PYTHONDONTWRITEBYTECODE="1")
    proc = subprocess.run(
        [sys.executable, "tools/time_queries.py", f"-n{PASSES}", *query_names],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    if proc.returncode:
        print(proc.stderr[-2000:], file=sys.stderr)
    return parse_times(proc.stdout)


def main(argv: list) -> None:
    if "--" not in argv or not 1 <= argv.index("--") <= 2 or argv[-1] == "--":
        raise SystemExit(__doc__)
    refs, query_names = argv[: argv.index("--")], argv[argv.index("--") + 1:]
    work = tempfile.mkdtemp(prefix="lofar_ab_")
    try:
        sides = []
        for label, ref in zip(("base", "head"), refs + [None]):
            os.makedirs(os.path.join(work, label, "tmp"))
            tree = _export(ref, os.path.join(work, label)) if ref else REPO
            sides.append((tree, os.path.join(work, label, "tmp"), []))
        for rnd in range(ROUNDS):
            for tree, tmp, runs in sides[:: 1 if rnd % 2 == 0 else -1]:
                runs.append(_run(tree, tmp, query_names))
        print(f"{'query':32s} {'BASE min/round s':>22s} "
              f"{'HEAD min/round s':>22s} {'HEAD/BASE':>9s} {'HEAD won':>8s}")
        for name in query_names:
            row = compare(name, sides[0][2], sides[1][2])
            cells = [
                " ".join(f"{t:.3f}" for t in v) if isinstance(v, list) else v
                for v in (row["base"], row["head"])
            ]
            wins = "-" if row["ratio"] is None else f"{row['head_wins']}/{ROUNDS}"
            print(f"{name:32s} {cells[0]:>22s} {cells[1]:>22s} "
                  f"{row['ratio'] or '-':>9} {wins:>8s}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
