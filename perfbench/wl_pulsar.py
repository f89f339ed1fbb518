"""pulsar_search: one generated beam per pass.

A raw float32 time series (four period-aligned segment files) with a
pulse of known period and phase goes through read_raw_float32 -> fold
-> profile_stats; an event list over NCHAN channels with a pulsar of
known DM and period injected over uniform noise goes through
dm_search, period_search (top channel, where the dispersion delay is
zero) and blind_search_summary.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Workload
from metrics import BATCH

RAW_FILES = 2
RAW_SAMPLES = 1 << 17          # per segment file
TSAMP = 1e-3                   # s
RAW_NBINS = 64
PULSE_AMP = 3.0

NCHAN = 16
F_LO_MHZ, CHAN_BW_MHZ = 110.0, 5.0
OBS_US = 600_000_000           # 600 s of events
NOISE_EVENTS = 20_000
EVENT_FILES = 4
EV_NBINS = 16
TRIAL_DMS = list(range(0, 24, 4))
TRIAL_ACCS = [-10_000_000_000, 0, 10_000_000_000]
CHUNK_US = 60_000_000


def _delay_us(dm: float, chan: np.ndarray) -> np.ndarray:
    """Cold-plasma delay of each channel centre relative to the top
    channel, in microseconds (DM/2.41e-4 * (f^-2 - f_top^-2) s)."""
    f = F_LO_MHZ + (chan + 0.5) * CHAN_BW_MHZ
    f_top = F_LO_MHZ + (NCHAN - 0.5) * CHAN_BW_MHZ
    return np.rint(dm / 2.41e-4 * (1 / f**2 - 1 / f_top**2) * 1e6)


def fold_bins(t: np.ndarray, period: float, nbins: int) -> np.ndarray:
    """The fold's integer bin rule, int(nbins * frac(t / P)) clamped
    to nbins - 1, in numpy float64."""
    b = np.floor(np.fmod(t / period, 1.0) * nbins).astype(np.int64)
    return np.minimum(b, nbins - 1)


class PulsarSearch(Workload):
    name = "pulsar_search"
    calls = [
        # lazy: the source's decode runs inside fold's action, and is
        # counted in fold's exec_s and task_cpu_s
        ("sources.binary.read_raw_float32", ["build_s"]),
        ("operators.fold.fold", BATCH),
        ("operators.profile.profile_stats", BATCH),
        ("operators.dedisperse.dm_search", BATCH),
        ("operators.fold.period_search", BATCH),
        ("plans.search.blind_search_summary", BATCH),
    ]

    def stage(self, run, i: int) -> dict:
        rng = np.random.default_rng([run.seed, 1, i])
        # -- raw time series --------------------------------------
        period = float(rng.uniform(0.5, 1.0))
        on_bin = int(rng.integers(0, RAW_NBINS))
        raw_dir = run.path(f"pass{i}", "raw")
        os.makedirs(raw_dir, exist_ok=True)
        t = np.arange(RAW_SAMPLES, dtype=np.int64) * TSAMP
        bins = fold_bins(t, period, RAW_NBINS)
        values = []
        for k in range(RAW_FILES):
            v = rng.standard_normal(RAW_SAMPLES).astype(np.float32)
            v[bins == on_bin] += np.float32(PULSE_AMP)
            v.astype("<f4").tofile(os.path.join(raw_dir, f"seg{k}.raw"))
            values.append(v.astype(np.float64))
        values = np.concatenate(values)
        all_bins = np.tile(bins, RAW_FILES)
        # -- event list -------------------------------------------
        period_us = int(rng.integers(500_000, 1_000_000))
        dm = int(rng.choice(TRIAL_DMS[2:-2]))
        jitter = period_us // (4 * EV_NBINS)
        # the first pulse starts after one jitter, so no event time is
        # negative (a negative time has no drift chunk to join)
        phase0 = int(rng.integers(jitter, period_us))
        n_pulses = (OBS_US - int(_delay_us(dm, np.array([0]))[0])
                    - phase0) // period_us
        k = np.repeat(np.arange(n_pulses, dtype=np.int64), NCHAN)
        chan_p = np.tile(np.arange(NCHAN, dtype=np.int64), n_pulses)
        ts_p = (phase0 + k * period_us + _delay_us(dm, chan_p).astype(
            np.int64) + rng.integers(-jitter, jitter + 1, k.size))
        ts_n = rng.integers(0, OBS_US, NOISE_EVENTS)
        chan_n = rng.integers(0, NCHAN, NOISE_EVENTS)
        ts = np.concatenate([ts_p, ts_n])
        chan = np.concatenate([chan_p, chan_n])
        order = rng.permutation(ts.size)
        ts, chan = ts[order], chan[order]
        ev_dir = run.path(f"pass{i}", "events")
        os.makedirs(ev_dir, exist_ok=True)
        for n, part in enumerate(np.array_split(np.arange(ts.size),
                                                EVENT_FILES)):
            pq.write_table(
                pa.table({
                    "ts_us": ts[part], "chan": chan[part],
                    "chunk": ts[part] // CHUNK_US,
                }),
                os.path.join(ev_dir, f"part{n}.parquet"),
            )
        return {
            "raw_dir": raw_dir,
            "period": period, "on_bin": on_bin,
            "values": values, "bins": all_bins,
            "events_dir": ev_dir, "period_us": period_us, "dm": dm,
            "n_events": int(ts.size),
            "n_top": int((chan == NCHAN - 1).sum()),
            "trial_periods": sorted({
                int(round(period_us * (1 + j / 100)))
                for j in range(-2, 3)
            }),
        }

    def run_pass(self, run, i: int, inp: dict) -> None:
        from pyspark.sql import functions as F

        from lofar_bf_pulsar_scripts_spark.operators.dedisperse import (
            dispersion_delay_table, dm_search)
        from lofar_bf_pulsar_scripts_spark.operators.fold import (
            accel_shift_table, fold, period_search)
        from lofar_bf_pulsar_scripts_spark.operators.profile import (
            profile_stats)
        from lofar_bf_pulsar_scripts_spark.plans.search import (
            blind_search_summary)
        from lofar_bf_pulsar_scripts_spark.sources.binary import (
            read_raw_float32)

        spark = run.spark
        counts = np.bincount(inp["bins"], minlength=RAW_NBINS)
        sums = np.bincount(inp["bins"], weights=inp["values"],
                           minlength=RAW_NBINS)
        want_profile = sums / np.maximum(counts, 1)

        raw = run.op(
            "sources.binary.read_raw_float32",
            lambda: read_raw_float32(spark, inp["raw_dir"], tsamp=TSAMP),
        )
        folded = {}

        def fold_check(rows):
            got = {r["bin"]: (r["profile"], r["npts"]) for r in rows}
            npts = np.array([got.get(b, (0, 0))[1]
                             for b in range(RAW_NBINS)])
            if not np.array_equal(npts, counts):
                return "fold bin counts differ from numpy bincount"
            prof = np.array([got.get(b, (0.0, 0))[0]
                             for b in range(RAW_NBINS)])
            if not np.allclose(prof, want_profile, rtol=1e-9, atol=1e-9):
                return "fold profile differs from numpy per-bin mean"
            if int(np.argmax(prof)) != inp["on_bin"]:
                return "fold peak is not the injected pulse bin"
            return None

        def do_fold():
            folded["df"] = fold(raw, inp["period"], RAW_NBINS)
            return folded["df"]

        run.op("operators.fold.fold", do_fold,
               lambda df: df.collect(), fold_check)

        def stats_check(rows):
            r = rows[0]
            if r["nbins"] != RAW_NBINS:
                return f"profile_stats nbins {r['nbins']}"
            if not np.isclose(r["peak"], want_profile.max(), rtol=1e-9):
                return "profile_stats peak differs from numpy"
            if not np.isclose(r["total"], want_profile.sum(), rtol=1e-9):
                return "profile_stats total differs from numpy"
            return None

        run.op("operators.profile.profile_stats",
               lambda: profile_stats(folded["df"]),
               lambda df: df.collect(), stats_check)

        delay_rows = dispersion_delay_table(
            TRIAL_DMS, NCHAN, F_LO_MHZ, CHAN_BW_MHZ)
        events = {}

        def do_dm():
            events["df"] = spark.read.parquet(inp["events_dir"])
            return dm_search(events["df"], delay_rows, inp["period_us"],
                             nbins=EV_NBINS)

        def dm_check(rows):
            best = max(rows, key=lambda r: (r["sum_sq"], -r["dm"]))
            if best["dm"] != inp["dm"]:
                return f"dm_search found DM {best['dm']}, injected {inp['dm']}"
            if any(r["n_events"] != inp["n_events"] for r in rows):
                return "dm_search n_events differs from the generated count"
            if len(rows) != len(TRIAL_DMS):
                return "dm_search did not score every trial"
            return None

        run.op("operators.dedisperse.dm_search", do_dm,
               lambda df: df.collect(), dm_check)

        def period_check(rows):
            best = max(rows, key=lambda r: (r["sum_sq"], -r["period_us"]))
            if best["period_us"] != inp["period_us"]:
                return "period_search missed the injected period"
            if any(r["n_events"] != inp["n_top"] for r in rows):
                return "period_search n_events differs from the top channel"
            return None

        run.op(
            "operators.fold.period_search",
            lambda: period_search(
                events["df"].filter(F.col("chan") == NCHAN - 1),
                inp["trial_periods"], nbins=EV_NBINS),
            lambda df: df.collect(), period_check,
        )

        acc_rows = accel_shift_table(TRIAL_ACCS, OBS_US // CHUNK_US + 1,
                                     CHUNK_US)

        def blind_check(rows):
            r = rows[0]
            if (r["best_dm"], r["best_period_us"]) != (
                    inp["dm"], inp["period_us"]):
                return (f"blind search found ({r['best_dm']}, "
                        f"{r['best_period_us']}), injected "
                        f"({inp['dm']}, {inp['period_us']})")
            if r["best_acc"] != 0:
                return "blind search found a drift that was not injected"
            if r["n_events"] != inp["n_events"]:
                return "blind search n_events differs from generated"
            return None

        run.op(
            "plans.search.blind_search_summary",
            lambda: blind_search_summary(
                events["df"], delay_rows, inp["trial_periods"], acc_rows,
                nbins=EV_NBINS),
            lambda df: df.collect(), blind_check,
        )
