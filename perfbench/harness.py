"""Run harness: an isolated work directory, one Spark session, timed
package calls, optional spans with per-call counters read back from
Spark's status store, and the one-line JSON result.

Every package call goes through ``Run.op``, which counts it as one
operation, times its DataFrame build and its action separately, and
runs the caller's independent check outside the timed region.  A
pass's wall time is the sum of its operations' times, so input
staging and checking never count towards a pass.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# task threads: the passes are bound by per-job overhead, so more
# threads bought no speed, and the spare vCPUs keep the JIT compiler,
# GC and the Python client off the task threads (README)
CORES = max(1, min(2, os.cpu_count() or 1))
HEAP = "1g"
# stages that ran as one task for longer than this count as
# single-task stages (a scan or aggregation that did not spread)
SINGLE_TASK_MS = 100


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: session, operation accounting, spans."""

    def __init__(self, workload: str, seed: int, trace: bool,
                 t_process: float):
        self.workload = workload
        self.seed = int(seed)
        self.trace = bool(trace)
        self.t_process = t_process
        # the run's own directory: the benchmark reads and writes only
        # inside its checkout, and removes this when the run ends
        self.workdir = Path(tempfile.mkdtemp(
            prefix=f".perfbench-{workload}-{seed}-", dir=ROOT))
        self.attempted = 0
        self.failed = 0
        self.wrong = 0  # operations whose output failed its check
        self.pass_id = -1
        self.pass_ops: dict[int, dict[str, dict]] = {}
        self.once_ops: dict[str, dict] = {}
        self.extra: dict[str, float] = {}
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.progress: list[dict] = []
        self.spark = None

    # -- session ---------------------------------------------------
    def path(self, *parts: str) -> str:
        p = self.workdir.joinpath(*parts)
        p.parent.mkdir(parents=True, exist_ok=True)
        return str(p)

    def start_session(self) -> None:
        tmp = self.workdir / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        # everything Spark, the JVM and the Python workers write goes
        # under the run's own directory
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.workdir / "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        # pandas deprecation notices from inside pyspark's serializers
        # would otherwise flood stderr from every Python worker
        os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        from lofar_bf_pulsar_scripts_spark.session import get_spark

        t0 = time.time()
        with self.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp}",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": str(self.workdir / "wh"),
                    "spark.sql.streaming.checkpointLocation":
                        str(self.workdir / "ckpt"),
                    # keep every job and stage for the traced read-back
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
        self.session_build_s = time.time() - t0
        self.session_s = time.time() - self.t_process
        if self.trace:
            self._listen_streaming()

    def stop(self) -> None:
        """Stop the session, end the JVM (it exits when its stdin
        closes, taking the Python workers with it) and wait for it, so
        no process outlives the run; then remove the work directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(self.workdir, ignore_errors=True)

    # -- spans -----------------------------------------------------
    def span(self, name: str):
        return _Span(self, name)

    # -- operations ------------------------------------------------
    def op(self, name, build, execute=None, check=None, once=False,
           **meta):
        """One package call.  ``build()`` returns what the package
        returns (a DataFrame, or the result of an eager call);
        ``execute(built)`` runs the action that consumes it;
        ``check(result)`` verifies the result independently and
        returns an error message, or None when it holds.  Returns the
        executed result, or None when the call or its check failed."""
        self.attempted += 1
        rec = {"build_s": 0.0, "exec_s": 0.0, "ok": False, **meta}
        result = None
        try:
            with self.span(name) as sp:
                rec["span"] = sp.id
                t0 = time.perf_counter()
                with self.span(name + ":build"):
                    built = build()
                t1 = time.perf_counter()
                if execute is not None:
                    with self.span(name + ":exec"):
                        result = execute(built)
                else:
                    result = built
                t2 = time.perf_counter()
            rec["build_s"], rec["exec_s"] = t1 - t0, t2 - t1
            problem = check(result) if check is not None else None
            if problem:
                self.wrong += 1
                raise AssertionError(problem)
            rec["ok"] = True
        except Exception:
            self.failed += 1
            print(f"[perfbench] {name} failed in pass {self.pass_id}:",
                  file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            result = None
        target = self.once_ops if once else self.pass_ops.setdefault(
            self.pass_id, {})
        target[name] = rec
        return result

    def pass_seconds(self, i: int, names=None) -> float:
        """Time of pass ``i``: the sum of its calls' times, or of the
        calls in ``names`` only."""
        return sum(r["build_s"] + r["exec_s"]
                   for n, r in self.pass_ops.get(i, {}).items()
                   if names is None or n in names)

    # -- streaming progress (traced runs) ---------------------------
    def _listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        run = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                run.progress.append({
                    "name": p.name,
                    "duration_ms": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Progress())

    def wait_progress(self, query_name: str, batches: int,
                      timeout: float = 10.0) -> None:
        """Progress events arrive on the listener bus after the query
        returns; wait until a traced replay's batches are all in."""
        if not self.trace:
            return
        deadline = time.time() + timeout
        while time.time() < deadline:
            if sum(p["name"] == query_name
                   for p in self.progress) >= batches:
                return
            time.sleep(0.02)

    # -- measurements ----------------------------------------------
    def peak_rss_mb(self) -> float:
        """Sum of the peak resident set (VmHWM) of this process and
        every process under it: the JVM and the Python workers."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total_kb, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024.0

    def status_counters(self) -> dict[int, dict]:
        """Per-span jobs, task CPU, shuffle bytes and single-task
        stages from Spark's status store.  A job belongs to the span
        named by its job group; a job without one (launched from a
        helper thread, or a streaming micro-batch) belongs to the
        innermost span open at its submission.  A stage belongs to the
        first job that lists it."""
        jvm = self.spark._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        lst = jvm.java.util.ArrayList
        jobs = store.jobsList(lst())
        by_id = {s["id"]: s for s in self.spans}
        windows = sorted(
            (s for s in self.spans if ":" not in s["name"]),
            key=lambda s: s["end"] - s["start"],
        )

        def span_at(t_ms: float):
            for s in windows:  # shortest enclosing span first
                if s["start"] * 1e3 <= t_ms <= s["end"] * 1e3:
                    return s["id"]
            return None

        counters: dict[int, dict] = {}
        stage_owner: dict[int, int] = {}
        rows = []
        for k in range(jobs.size()):
            j = jobs.apply(k)
            sub = j.submissionTime()
            rows.append((
                j.jobId(),
                j.jobGroup().get() if j.jobGroup().isDefined() else None,
                sub.get().getTime() if sub.isDefined() else None,
                [j.stageIds().apply(n) for n in range(j.stageIds().size())],
            ))
        for job_id, group, sub_ms, stage_ids in sorted(rows):
            sid = None
            if group is not None and group.isdigit() and int(group) in by_id:
                sid = int(group)
            elif sub_ms is not None:
                sid = span_at(sub_ms)
            if sid is None:
                continue
            c = counters.setdefault(sid, _zero_counters())
            c["jobs"] += 1
            for st in stage_ids:
                stage_owner.setdefault(st, sid)
        no_quantiles = self.spark.sparkContext._gateway.new_array(
            jvm.double, 0)
        stages = store.stageList(lst(), False, False, no_quantiles, lst())
        for k in range(stages.size()):
            s = stages.apply(k)
            if s.numCompleteTasks() == 0:
                continue  # skipped or never ran
            sid = stage_owner.get(s.stageId())
            if sid is None:
                continue
            c = counters[sid]
            c["task_cpu_s"] += s.executorCpuTime() / 1e9
            c["shuffle_bytes"] += s.shuffleWriteBytes()
            first, done = s.firstTaskLaunchedTime(), s.completionTime()
            if (s.numTasks() == 1 and first.isDefined()
                    and done.isDefined()
                    and done.get().getTime() - first.get().getTime()
                    > SINGLE_TASK_MS):
                c["single_task_stages"] += 1
        return counters

    # -- output ----------------------------------------------------
    def write_spans(self, path: str | None) -> None:
        """Write the spans to ``path``, or as one line to standard
        error when no path is given, so a run leaves no file behind."""
        if path:
            with open(path, "w") as f:
                json.dump(self.spans, f)
        else:
            print("[perfbench] spans " + json.dumps(self.spans),
                  file=sys.stderr)


class Workload:
    """A workload: ``prepare`` makes the once-per-run inputs (set-up),
    ``build`` the once-per-run stores (timed into the cold pass),
    ``stage`` one pass's inputs (set-up), ``run_pass`` the pass's
    calls through ``Run.op``, ``finish`` the end-of-run checks.
    ``calls`` lists each timed call with its per-layer fields;
    ``extra`` the workload's own per-layer figures."""

    name = ""
    calls: list = []
    extra: list = []

    def prepare(self, run: Run) -> None:
        pass

    def build(self, run: Run) -> None:
        pass

    def stage(self, run: Run, i: int) -> dict:
        raise NotImplementedError

    def run_pass(self, run: Run, i: int, inp: dict) -> None:
        raise NotImplementedError

    def finish(self, run: Run, warm: list[int]) -> None:
        pass


class Composite(Workload):
    """A benchmark workload made of parts that run one after the other
    in each pass, on one session.  Each part also reports its own
    share of the cold and the warm pass as ``<part>.cold_pass_s`` and
    ``<part>.warm_pass_s``."""

    def __init__(self, name: str, parts: list):
        self.name = name
        self.parts = [p() for p in parts]
        self.calls = [c for p in self.parts for c in p.calls]
        self.extra = [e for p in self.parts for e in p.extra] + [
            (f"{p.name}.{m}", "s", "lower") for p in self.parts
            for m in ("cold_pass_s", "warm_pass_s")]

    def prepare(self, run: Run) -> None:
        for p in self.parts:
            p.prepare(run)

    def build(self, run: Run) -> None:
        for p in self.parts:
            p.build(run)

    def stage(self, run: Run, i: int) -> dict:
        return {p.name: p.stage(run, i) for p in self.parts}

    def run_pass(self, run: Run, i: int, inp: dict) -> None:
        for p in self.parts:
            with run.span(f"pass{i}.{p.name}"):
                p.run_pass(run, i, inp[p.name])

    def finish(self, run: Run, warm: list[int]) -> None:
        for p in self.parts:
            p.finish(run, warm)
            names = [c for c, _ in p.calls]
            run.extra[f"{p.name}.cold_pass_s"] = run.pass_seconds(0, names)
            run.extra[f"{p.name}.warm_pass_s"] = median(
                [run.pass_seconds(i, names) for i in warm])


def _zero_counters() -> dict:
    return {"jobs": 0, "task_cpu_s": 0.0, "shuffle_bytes": 0,
            "single_task_stages": 0}


class _Span:
    def __init__(self, run: Run, name: str):
        self.run, self.name = run, name

    def __enter__(self):
        run = self.run
        self.id = len(run.spans)
        self.rec = {
            "id": self.id, "name": self.name, "start": time.time(),
            "end": None,
            "parent": run._open[-1] if run._open else None,
            "pass": run.pass_id,
        }
        run.spans.append(self.rec)
        run._open.append(self.id)
        if run.trace and run.spark is not None and ":" not in self.name:
            run.spark.sparkContext.setJobGroup(str(self.id), self.name)
        return self

    def __exit__(self, *exc):
        run = self.run
        self.rec["end"] = time.time()
        run._open.pop()
        if run.trace and run.spark is not None and ":" not in self.name:
            parent = run._open[-1] if run._open else None
            sc = run.spark.sparkContext
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(str(parent), run.spans[parent]["name"])
        return False
