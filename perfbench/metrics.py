"""Metric names and how a run's records become the result line.

End-to-end metrics come from untraced runs; per-layer metrics from a
traced run of the same command.  A traced run prints the per-layer
metrics of every workload (0 for a layer this workload does not
call), so every run carries the same names.
"""

from __future__ import annotations

from harness import median

END_TO_END = [
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("warm_pass_s", "s"),
    ("peak_rss_mb", "MB"),
]
BATCH = ["build_s", "exec_s", "jobs", "task_cpu_s", "shuffle_bytes",
         "single_task_stages"]
# an eager call returns after its jobs ran: no action follows it
EAGER = [f for f in BATCH if f != "exec_s"]
STREAM = ["batches", "batch_p50_s", "add_batch_s", "commit_s",
          "task_cpu_s", "shuffle_bytes"]
UNITS = {"build_s": "s", "exec_s": "s", "jobs": "count",
         "task_cpu_s": "s", "shuffle_bytes": "B",
         "single_task_stages": "count", "batches": "count",
         "batch_p50_s": "s", "add_batch_s": "s", "commit_s": "s"}
SESSION = "session.get_spark"


def layer_names(calls: list[tuple[str, list[str]]],
                extra: list[tuple[str, str, str]]) -> list:
    """(name, unit, better) of the per-layer metrics of ``calls``
    (call, fields) plus a workload's own ``extra`` figures."""
    out = [(f"{SESSION}.build_s", "s", "lower")]
    for call, fields in calls:
        out += [(f"{call}.{f}", UNITS[f], "lower") for f in fields]
    return out + list(extra)


def _call_values(run, recs: list[dict], counters: dict,
                 fields: list[str]) -> dict:
    """Median over ``recs`` (one record per pass) of each field."""
    per = {f: [] for f in fields}
    for rec in recs:
        c = counters.get(rec.get("span"), {})
        prog = [p["duration_ms"] for p in run.progress
                if p["name"] == rec.get("query")]
        vals = {
            "build_s": rec["build_s"],
            "exec_s": rec["exec_s"],
            "jobs": c.get("jobs", 0),
            "task_cpu_s": c.get("task_cpu_s", 0.0),
            "shuffle_bytes": c.get("shuffle_bytes", 0),
            "single_task_stages": c.get("single_task_stages", 0),
            "batches": len(prog),
            "batch_p50_s": median(
                [d.get("triggerExecution", 0) / 1e3 for d in prog]),
            "add_batch_s": sum(d.get("addBatch", 0) for d in prog) / 1e3,
            "commit_s": sum(d.get("walCommit", 0) + d.get(
                "commitOffsets", 0) for d in prog) / 1e3,
        }
        for f in fields:
            per[f].append(vals[f])
    return {f: median(v) for f, v in per.items()}


def collect(run, calls, extra, n_passes: int, warmup: int) -> dict:
    """The result line of ``run``: end-to-end metrics when untraced;
    when traced, the per-layer metrics of ``calls`` and ``extra``."""
    warm = list(range(warmup, n_passes))
    if not run.trace:
        values = {
            "setup_s": run.setup_s,
            "cold_pass_s": run.build_seconds + run.pass_seconds(0),
            "warm_pass_s": median([run.pass_seconds(i) for i in warm]),
            "peak_rss_mb": run.rss_mb,
        }
        units = dict(END_TO_END)
    else:
        counters = run.status_counters()
        values = {f"{SESSION}.build_s": run.session_build_s}
        for call, fields in calls:
            if call in run.once_ops:
                recs = [run.once_ops[call]]
            else:
                recs = [run.pass_ops[i][call] for i in warm
                        if call in run.pass_ops.get(i, {})]
            got = _call_values(run, recs, counters, fields)
            for f in fields:
                values[f"{call}.{f}"] = got[f] if recs else 0
        for name, _, _ in extra:
            values[name] = run.extra.get(name, 0)
        units = {n: u for n, u, _ in layer_names(calls, extra)}
    return {
        "correct": run.wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }
