"""stream_replay: bounded replays through run_bounded.

Each pass stages its own two source directories, one file per
micro-batch (maxFilesPerTrigger=1, file order fixed by modification
time), and replays a streaming sub-integration fold and a stateful
as-of join.  Rows arrive in
event-time order and within every watermark, so each replay's result
equals a batch computation over the staged rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Workload
from metrics import STREAM
from wl_pulsar import fold_bins

FILES = 2                     # micro-batches per replay
FOLD_ROWS = 3000              # per file
FOLD_PERIOD, FOLD_NBINS = 0.7331, 32
ASOF_ROWS, ASOF_KEYS = 1000, 50
T0_US = 1_700_000_000_000_000


def _stage(dirpath: str, tables: list) -> None:
    """One parquet file per micro-batch, modification times in order."""
    os.makedirs(dirpath, exist_ok=True)
    for n, t in enumerate(tables):
        f = os.path.join(dirpath, f"part{n:03d}.parquet")
        pq.write_table(t, f)
        os.utime(f, (1_700_000_000 + n, 1_700_000_000 + n))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us", tz="UTC"))


class StreamReplay(Workload):
    name = "stream_replay"
    calls = [
        ("streaming.fold_stream.streaming_fold_subints", STREAM),
        ("streaming.asof_stream.streaming_asof_join", STREAM),
    ]

    def stage(self, run, i: int) -> dict:
        rng = np.random.default_rng([run.seed, 4, i])
        t0 = T0_US + int(rng.integers(0, 86_400)) * 1_000_000
        # fold: samples every 10 ms, files back to back
        n = FILES * FOLD_ROWS
        fold_us = t0 + np.arange(n, dtype=np.int64) * 10_000
        fold_v = rng.standard_normal(n)
        _stage(run.path(f"pass{i}", "fold"), [
            pa.table({"ts": _ts(fold_us[s]), "value": fold_v[s]})
            for s in np.array_split(np.arange(n), FILES)])
        # as-of: states on even and events on odd microseconds, so no
        # event ties with a state
        n = FILES * ASOF_ROWS
        k = rng.integers(0, ASOF_KEYS, n)
        ts = np.sort(rng.choice(10_000_000, n, replace=False)) * 2
        is_event = rng.random(n) < 0.5
        ts = ts + is_event
        kind = np.where(is_event, "event", "state")
        v = np.array([f"s{x}" for x in rng.integers(0, 1_000_000, n)])
        v = np.where(is_event, None, v)
        _stage(run.path(f"pass{i}", "asof"), [
            pa.table({"k": k[s], "ts": ts[s], "kind": kind[s],
                      "v": pa.array(v[s].tolist(), pa.string())})
            for s in np.array_split(np.arange(n), FILES)])
        return {
            "dir": run.path(f"pass{i}"),
            "fold": pd.DataFrame({"us": fold_us, "value": fold_v}),
            "asof": pd.DataFrame({"k": k, "ts": ts, "kind": kind, "v": v}),
        }

    def run_pass(self, run, i: int, inp: dict) -> None:
        from pyspark.sql import functions as F

        from lofar_bf_pulsar_scripts_spark.streaming.asof_stream import (
            streaming_asof_join)
        from lofar_bf_pulsar_scripts_spark.streaming.fold_stream import (
            run_bounded, streaming_fold_subints)

        spark = run.spark

        def source(name: str, schema: str):
            return (spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(os.path.join(inp["dir"], name)))

        def replay(call, query, build, mode, check):
            def execute(df):
                rows = run_bounded(df, query, mode=mode).collect()
                spark.catalog.dropTempView(query)
                return rows

            run.op(call, build, execute, check, query=query)
            run.wait_progress(query, FILES)

        # -- fold -----------------------------------------------------
        f = inp["fold"]
        b = fold_bins(f["us"].to_numpy() / 1e6, FOLD_PERIOD, FOLD_NBINS)
        win = (f["us"] // 60_000_000) * 60_000_000
        want = (f.assign(win=win, bin=b).groupby(["win", "bin"])["value"]
                .agg(["count", "mean"]))

        def fold_check(rows):
            got = {(int(r["win_start"].timestamp()) * 1_000_000, r["bin"]):
                   (r["npts"], r["profile"]) for r in rows}
            if len(got) != len(want):
                return f"fold has {len(got)} cells, expected {len(want)}"
            for (w, bb), row in want.iterrows():
                n, p = got.get((int(w), int(bb)), (None, None))
                if n != row["count"] or not np.isclose(p, row["mean"],
                                                       rtol=1e-9):
                    return f"fold cell ({w}, {bb}) differs from pandas"
            return None

        replay("streaming.fold_stream.streaming_fold_subints", f"fold_{i}",
               lambda: streaming_fold_subints(
                   source("fold", "ts timestamp, value double"),
                   FOLD_PERIOD, FOLD_NBINS, dump_seconds="1 minute"),
               "complete", fold_check)

        # -- as-of ----------------------------------------------------
        a = inp["asof"]
        ev = a[a["kind"] == "event"][["k", "ts"]].sort_values("ts")
        st = a[a["kind"] == "state"][["k", "ts", "v"]].sort_values("ts")
        ref = pd.merge_asof(ev, st.rename(columns={"ts": "asof_ts"}),
                            left_on="ts", right_on="asof_ts", by="k",
                            direction="backward")
        want_asof = {
            (int(r.k), int(r.ts)): (None if pd.isna(r.asof_ts)
                                    else int(r.asof_ts),
                                    None if pd.isna(r.asof_ts) else r.v)
            for r in ref.itertuples()}

        def asof_check(rows):
            got = {(r["key"], r["event_ts"]): (r["asof_ts"], r["asof_value"])
                   for r in rows}
            if got != want_asof:
                return "as-of join differs from pandas.merge_asof"
            return None

        def asof_build():
            s = source("asof", "k long, ts long, kind string, v string")
            return streaming_asof_join(
                s.filter(F.col("kind") == "event"),
                s.filter(F.col("kind") == "state"),
                key_col="k", event_ts_col="ts", state_ts_col="ts",
                value_col="v")

        replay("streaming.asof_stream.streaming_asof_join", f"asof_{i}",
               asof_build, "append", asof_check)
