"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload NAME --repeat N [--seconds S]
    python3 perfbench/run.py --selftest

A run sets up one Spark session and the run's inputs, then issues
passes back to back (closed loop, one client) until ``--seconds`` of
measurement have elapsed and at least MIN_WARM passes followed the
first.  The last line of standard output is the JSON result.  See
perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import os  # noqa: E402
import sys  # noqa: E402

# a run leaves no bytecode caches in the checkout (its Python workers
# inherit the setting through the environment)
sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

MIN_WARM = 1
WARMUP_PASSES = 1


def workloads() -> dict:
    """Each benchmark workload and its parts, in the order a pass
    runs them."""
    from harness import Composite
    from wl_lake import VectorLake
    from wl_pulsar import PulsarSearch
    from wl_stream import StreamReplay
    from wl_text import TextCuration

    return {w.name: w for w in (
        Composite("pulsar_stream", [PulsarSearch, StreamReplay]),
        Composite("lake_text", [VectorLake, TextCuration]),
    )}


def run_once(name: str, seed: int, seconds: float, trace: bool,
             spans: str | None = None) -> dict:
    from harness import Run, median
    import metrics

    every = workloads()
    wl = every[name]
    run = Run(name, seed, trace, T_PROCESS)
    try:
        run.start_session()
        t0 = time.time()
        wl.prepare(run)
        prepare_s = time.time() - t0
        stage_s = []
        run.measure_start = time.time()
        wl.build(run)
        run.build_seconds = time.time() - run.measure_start
        i = 0
        while True:
            t0 = time.time()
            inp = wl.stage(run, i)
            stage_s.append(time.time() - t0)
            run.spark.catalog.clearCache()
            run.pass_id = i
            with run.span(f"pass{i}"):
                wl.run_pass(run, i, inp)
            run.pass_id = -1
            print(f"[perfbench] pass {i}: {run.pass_seconds(i):.2f} s " +
                  " ".join(f"{k.rsplit('.', 1)[1]}={r['build_s']:.2f}+"
                           f"{r['exec_s']:.2f}"
                           for k, r in run.pass_ops.get(i, {}).items()),
                  file=sys.stderr)
            i += 1
            elapsed = time.time() - run.measure_start
            if elapsed >= seconds and i - WARMUP_PASSES >= MIN_WARM:
                break
        wl.finish(run, list(range(WARMUP_PASSES, i)))
        run.setup_s = run.session_s + prepare_s + median(stage_s)
        run.rss_mb = run.peak_rss_mb()
        out = metrics.collect(
            run, [c for w in every.values() for c in w.calls],
            [e for w in every.values() for e in w.extra], i, WARMUP_PASSES)
        if trace:
            run.write_spans(spans)
    finally:
        run.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run the workload N times, seeds seed..seed+N-1")
    ap.add_argument("--spans", help="with --trace 1, write the spans to "
                    "this file instead of standard error")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    # the package measured is the checkout's own copy
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    if importlib.util.find_spec("lofar_bf_pulsar_scripts_spark") is None:
        print("perfbench: the lofar_bf_pulsar_scripts_spark package is "
              "not next to perfbench/; run from a checkout of the repo",
              file=sys.stderr)
        return 2
    if args.selftest:
        import selftest

        return selftest.main(args.seconds)
    if args.workload not in workloads():
        print(f"perfbench: --workload must be one of "
              f"{sorted(workloads())}", file=sys.stderr)
        return 2
    if args.repeat:
        import repeat

        return repeat.main(args.workload, args.seed, args.seconds,
                           args.trace, args.repeat)
    out = run_once(args.workload, args.seed, args.seconds,
                   bool(args.trace), args.spans)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
