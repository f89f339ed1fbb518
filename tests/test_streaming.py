"""Batch/stream parity for the streaming duals (SURVEY §5.5):
tumbling-dump fold over a bounded replay equals the batch A6 result;
stateful dedup yields the distinct set."""

import pytest
from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.fold import fold_subints
from lofar_bf_pulsar_scripts_spark.streaming.fold_stream import (
    streaming_dedup_new_urls,
    streaming_fold_subints,
)
from lofar_bf_pulsar_scripts_spark.tables import (
    load_table,
    stream_events,
    ts_seconds,
)

SF_DIR = "/root/testdata/sf0.001"
PERIOD, NBINS = 3600.0, 24


def _run_complete(df, name):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


def test_streaming_fold_equals_batch(spark):
    import os
    import shutil

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # streaming file source wants a directory, not a single file
    tmp = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_stream_tmp", "events")
    os.makedirs(tmp, exist_ok=True)
    shutil.copy(f"{SF_DIR}/events.parquet", os.path.join(tmp, "events.parquet"))
    stream = stream_events(spark, tmp)
    agg = streaming_fold_subints(
        stream, PERIOD, NBINS, dump_seconds="1 day", watermark="1 minute"
    )
    got = {
        (r["win_start"], r["bin"]): (r["profile"], r["npts"])
        for r in _run_complete(agg, "fold_stream").collect()
    }

    batch = load_table(spark, "events", SF_DIR).withColumn(
        "t", ts_seconds("ts")
    )
    expected = fold_subints(batch, PERIOD, NBINS, dump_time=86400.0)
    exp = {
        (r["subint"], r["bin"]): (r["profile"], r["npts"])
        for r in expected.collect()
    }
    assert len(got) == len(exp) > 0
    # compare via (day-index, bin)
    got_by_day = {
        (int(k[0].timestamp() // 86400), k[1]): v for k, v in got.items()
    }
    for (day, b), (prof, n) in got_by_day.items():
        ep, en = exp[(day, b)]
        assert n == en
        assert prof == pytest.approx(ep, rel=1e-12)


def test_streaming_polyco_fold_equals_batch(spark):
    """SURVEY §7.3 hard item 5: streaming fold with a DRIFTING period.
    Because the polyco phase is a pure per-row expression over literal
    segments (operators.polyco.attach_polyco), the streaming fold
    needs no custom state at all — the same plan runs batch and
    stream; results must agree on a bounded replay."""
    import os
    import shutil

    from lofar_bf_pulsar_scripts_spark.operators.polyco import (
        POLYCO_SEGMENT_SCHEMA,
        attach_polyco,
    )

    tmp = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_stream_tmp", "pc")
    os.makedirs(tmp, exist_ok=True)
    try:
        batch = spark.createDataFrame(
            [(i * 0.717, float(1 + i % 3)) for i in range(3000)],
            "t double, value double",
        )
        batch.write.mode("overwrite").parquet(tmp)
        segs = spark.createDataFrame(
            [
                (0, 0.0, 0.0, 0.8, [0.0, 0.2], 2000.0),
                (1, 2000.0, 0.3, 0.81, [0.1, -0.1], 2000.0),
            ],
            POLYCO_SEGMENT_SCHEMA,
        )

        def folded(df):
            ph = attach_polyco(df, segs)
            b = F.least(
                F.floor(F.pmod(F.col("phase"), F.lit(1.0)) * 20).cast("int"),
                F.lit(19),
            )
            return ph.withColumn("bin", b).groupBy("bin").agg(
                F.sum("value").alias("s"), F.count("value").alias("n")
            )

        expected = {r["bin"]: (r["s"], r["n"]) for r in folded(batch).collect()}
        stream = spark.readStream.schema("t double, value double").parquet(tmp)
        q = (
            folded(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("pc_fold")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["bin"]: (r["s"], r["n"]) for r in spark.table("pc_fold").collect()}
        assert got.keys() == expected.keys()
        for k in expected:
            assert got[k][1] == expected[k][1]
            assert got[k][0] == pytest.approx(expected[k][0], rel=1e-12)
    finally:
        shutil.rmtree(os.path.dirname(tmp), ignore_errors=True)


def test_streaming_dedup(spark):
    rows = [
        (1, "f1.tar"), (2, "f2.tar"), (3, "f1.tar"), (4, "f3.tar"), (5, "f2.tar"),
    ]
    import os
    import tempfile

    tmp = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_stream_tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        src = os.path.join(tmp, "urls")
        spark.createDataFrame(
            [(i, f, float(i)) for i, f in rows],
            "event_id long, filename string, off double",
        ).withColumn(
            "ts", F.expr("timestamp_micros(CAST(1700000000000000 + off * 1000000 AS BIGINT))")
        ).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "event_id long, filename string, off double, ts timestamp"
        ).parquet(src)
        dedup = streaming_dedup_new_urls(stream, key_col="filename", ts_col="ts")
        q = (
            dedup.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_stream")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["filename"] for r in spark.table("dedup_stream").collect()}
        assert got == {"f1.tar", "f2.tar", "f3.tar"}
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_native_session_window_parity(spark):
    """F.session_window sessionization equals the lag-based form on
    generic timestamps (no inter-event gap of exactly 1 hour)."""
    from lofar_bf_pulsar_scripts_spark.operators.session import (
        session_stats,
        session_stats_native,
    )
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        F.expr("timestamp_micros(ts div 1000)").alias("ts_t"),
    )
    lag_based = session_stats(
        ev, ["user_id"], order_col="ts_us", gap=3_600_000_000,
        tiebreak_col="event_id",
    )
    native = session_stats_native(ev, ["user_id"], ts_col="ts_t", gap="1 hour")
    a = {r["user_id"]: (r["n_sessions"], r["max_session_len"], r["n_rows"])
         for r in lag_based.collect()}
    b = {r["user_id"]: (r["n_sessions"], r["max_session_len"], r["n_rows"])
         for r in native.collect()}
    assert a == b


def test_streaming_sessions_equal_batch(spark):
    """Native session_window sessionization over a bounded stream
    replay equals the same aggregation run in batch (W6 streaming
    dual), including the per-key summary computed downstream."""
    from lofar_bf_pulsar_scripts_spark.operators.session import (
        session_stats_native,
    )
    from lofar_bf_pulsar_scripts_spark.streaming.fold_stream import (
        run_bounded,
        streaming_sessions,
    )
    from lofar_bf_pulsar_scripts_spark.tables import stream_events

    import os
    import shutil

    tmp = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "_stream_tmp", "events"
    )
    os.makedirs(tmp, exist_ok=True)
    shutil.copy(f"{SF_DIR}/events.parquet", os.path.join(tmp, "events.parquet"))
    ev_stream = stream_events(spark, tmp).select("user_id", "ts")

    def streaming_confs():
        return {
            r["key"]: r["value"]
            for r in spark.sql("SET").collect()
            if r["key"].startswith("spark.sql.streaming.")
            or r["key"] == "spark.sql.shuffle.partitions"
        }

    confs_before = streaming_confs()
    stream_sessions = run_bounded(
        streaming_sessions(ev_stream, ["user_id"], ts_col="ts", gap="1 hour"),
        "sessions_replay",
        shuffle_partitions=4,
    )
    # run_bounded's conf flips are session-global: none may outlive it
    assert streaming_confs() == confs_before
    ev_batch = load_table(spark, "events", SF_DIR).select(
        "user_id", F.expr("timestamp_micros(ts div 1000)").alias("ts")
    )
    batch_sessions = (
        ev_batch.groupBy(
            "user_id", F.session_window(F.col("ts"), "1 hour").alias("__w")
        )
        .agg(F.count(F.lit(1)).alias("session_len"))
        .select(
            "user_id",
            F.col("__w.start").alias("session_start"),
            F.col("__w.end").alias("session_end"),
            "session_len",
        )
    )
    key = lambda r: (
        r["user_id"], r["session_start"], r["session_end"], r["session_len"]
    )
    a = sorted(map(key, stream_sessions.collect()))
    b = sorted(map(key, batch_sessions.collect()))
    assert a and a == b
    # downstream per-key summary over the sink equals the batch helper
    summary = (
        stream_sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("session_len").alias("max_session_len"),
            F.sum("session_len").alias("n_rows"),
        )
    )
    want = session_stats_native(ev_batch, ["user_id"], ts_col="ts", gap="1 hour")
    sa = {r["user_id"]: (r["n_sessions"], r["max_session_len"], r["n_rows"])
          for r in summary.collect()}
    sb = {r["user_id"]: (r["n_sessions"], r["max_session_len"], r["n_rows"])
          for r in want.collect()}
    assert sa == sb


def test_streaming_fold_drops_late_events_beyond_watermark(spark, tmp_path):
    """Watermark semantics, driven over TWO micro-batches: after batch
    1 advances the watermark to (max_ts - 1 minute), batch 2's events
    older than that must be dropped from the append-mode result —
    the streaming mirror of the reference's out-of-range counts
    (pulsestack.py:636-640)."""
    import os

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    schema = "user_id long, ts timestamp, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    from datetime import datetime, timezone

    t = lambda s: datetime(2026, 1, 1, 12, 0, s)
    # batch 1: events at 12:00:00..12:00:30 -> watermark ~ 11:59:30
    write_batch("b1", [(1, t(0), 1.0), (1, t(30), 2.0)])

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "10 seconds").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one on-time event (12:01:40, advances watermark) and
        # one very late event (11:50:00, far beyond the watermark)
        late = datetime(2026, 1, 1, 11, 50, 0)
        ontime = datetime(2026, 1, 1, 12, 1, 40)
        write_batch("b2", [(1, late, 9.0), (1, ontime, 3.0)])
        q.processAllAvailable()
        # batch 3: push the watermark far past everything so all
        # non-dropped windows close and emit
        write_batch("b3", [(1, datetime(2026, 1, 1, 12, 30, 0), 4.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["ws"].replace(tzinfo=None): r["n"]
        for r in spark.table("late_drop").collect()
    }
    # on-time windows all present
    assert got.get(datetime(2026, 1, 1, 12, 0, 0)) == 1
    assert got.get(datetime(2026, 1, 1, 12, 0, 30)) == 1
    assert got.get(datetime(2026, 1, 1, 12, 1, 40)) == 1
    # the 11:50:00 late event's window must have been DROPPED
    assert datetime(2026, 1, 1, 11, 50, 0) not in got


def test_streaming_asof_join_equals_batch(spark, tmp_path):
    """Stateful streaming as-of join: bounded replay over a union of
    an event stream and a state stream equals the batch asof_join,
    including the carried-state path ACROSS micro-batches."""
    import os

    from lofar_bf_pulsar_scripts_spark.operators.asof import asof_join
    from lofar_bf_pulsar_scripts_spark.streaming.asof_stream import (
        streaming_asof_join,
    )

    ev_schema = "k long, ts long, kind string, v string"
    src = str(tmp_path / "asof_src")
    os.makedirs(src, exist_ok=True)

    def write(rows):
        spark.createDataFrame(rows, ev_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: states at t=10 (k=1), t=20 (k=2); events at 15, 5
    write([
        (1, 10, "state", "a"), (2, 20, "state", "x"),
        (1, 15, "event", None), (1, 5, "event", None),
        (3, 7, "event", None),  # key with NO state yet -> (None) state
    ])
    stream = spark.readStream.schema(ev_schema).parquet(src)
    ev = stream.filter(F.col("kind") == "event")
    st = stream.filter(F.col("kind") == "state")
    out = streaming_asof_join(
        ev, st, key_col="k", event_ts_col="ts", state_ts_col="ts",
        value_col="v",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("asof_stream").start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event at t=30 for both keys — must see the state
        # carried from batch 1; a newer state for k=1 then an event
        write([
            (1, 30, "event", None), (2, 30, "event", None),
            (1, 40, "state", "b"), (1, 45, "event", None),
            (3, 10, "state", "z"), (3, 12, "event", None),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["key"], r["event_ts"]): (r["asof_ts"], r["asof_value"])
        for r in spark.table("asof_stream").collect()
    }
    assert got == {
        (1, 5): (None, None),   # before any state
        (1, 15): (10, "a"),
        (1, 30): (10, "a"),     # carried across the batch boundary
        (2, 30): (20, "x"),
        (1, 45): (40, "b"),     # updated within batch 2
        (3, 7): (None, None),   # None state persisted across batches
        (3, 12): (10, "z"),
    }
    # batch parity on the full bounded data
    full = spark.read.parquet(src)
    b = asof_join(
        full.filter("kind = 'event'").select("k", "ts"),
        full.filter("kind = 'state'").select(
            "k", F.col("ts").alias("sts"), F.col("v").alias("sv")
        ),
        key_cols=["k"], left_ts="ts", right_ts="sts",
        right_value_cols=["sv"],
    )
    batch = {
        (r["k"], r["ts"]): r["asof_sv"] for r in b.collect()
    }
    assert batch == {kk: v for kk, (_, v) in got.items()}


def test_streaming_asof_join_late_and_null_state(spark, tmp_path):
    """A state row older than the carried one is dropped (no stale
    poisoning of future events); NULL-valued state rows are skipped
    (batch ignorenulls parity); NULL timestamps don't crash; a
    non-integral key is rejected up front."""
    import os

    from lofar_bf_pulsar_scripts_spark.streaming.asof_stream import (
        streaming_asof_join,
    )

    ev_schema = "k long, ts long, kind string, v string"
    src = str(tmp_path / "asof_src2")
    os.makedirs(src, exist_ok=True)

    def write(rows):
        spark.createDataFrame(rows, ev_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write([(1, 40, "state", "b"), (1, 41, "event", None)])
    stream = spark.readStream.schema(ev_schema).parquet(src)
    out = streaming_asof_join(
        stream.filter(F.col("kind") == "event"),
        stream.filter(F.col("kind") == "state"),
        key_col="k", event_ts_col="ts", state_ts_col="ts", value_col="v",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("asof_late").start()
    )
    try:
        q.processAllAvailable()
        write([
            (1, 10, "state", "a"),     # LATE: older than carried (40,'b')
            (1, 45, "state", None),    # NULL value: skipped
            (1, None, "event", None),  # NULL ts: dropped, not a crash
            (1, 50, "event", None),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["key"], r["event_ts"]): (r["asof_ts"], r["asof_value"])
        for r in spark.table("asof_late").collect()
    }
    assert got == {(1, 41): (40, "b"), (1, 50): (40, "b")}
    # non-integral key rejected before any execution
    sdf = spark.createDataFrame([("x", 1, "s")], "k string, ts long, v string")
    with pytest.raises(ValueError, match="integral"):
        streaming_asof_join(sdf, sdf, key_col="k", event_ts_col="ts",
                            state_ts_col="ts", value_col="v")


def test_streaming_asof_join_random_parity(spark, tmp_path):
    """Randomized single-replay parity: the whole dataset arrives as
    ONE micro-batch (single coalesced file), where the operator's
    in-batch mergesort makes it exact for ANY arrival order — so the
    streaming as-of must equal the batch asof_join on 300 random rows
    across 5 keys. (Split across batches, out-of-order input would
    instead exercise the documented late-state drop.)"""
    import os
    import random

    from lofar_bf_pulsar_scripts_spark.operators.asof import asof_join
    from lofar_bf_pulsar_scripts_spark.streaming.asof_stream import (
        streaming_asof_join,
    )

    rng = random.Random(17)
    rows = []
    ts_used = set()
    for _ in range(300):
        k = rng.randrange(5)
        ts = rng.randrange(10_000)
        if (k, ts) in ts_used:  # unique (k, ts) keeps parity well-defined
            continue
        ts_used.add((k, ts))
        if rng.random() < 0.3:
            rows.append((k, ts, "state", f"v{rng.randrange(100)}"))
        else:
            rows.append((k, ts, "event", None))
    src = str(tmp_path / "asof_rand")
    spark.createDataFrame(
        rows, "k long, ts long, kind string, v string"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "k long, ts long, kind string, v string"
    ).parquet(src)
    out = streaming_asof_join(
        stream.filter(F.col("kind") == "event"),
        stream.filter(F.col("kind") == "state"),
        key_col="k", event_ts_col="ts", state_ts_col="ts", value_col="v",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("asof_rand").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["key"], r["event_ts"]): r["asof_value"]
        for r in spark.table("asof_rand").collect()
    }
    full = spark.read.parquet(src)
    b = asof_join(
        full.filter("kind = 'event'").select("k", "ts"),
        full.filter("kind = 'state'").select(
            "k", F.col("ts").alias("sts"), F.col("v").alias("sv")
        ),
        key_cols=["k"], left_ts="ts", right_ts="sts",
        right_value_cols=["sv"],
    )
    batch = {(r["k"], r["ts"]): r["asof_sv"] for r in b.collect()}
    assert got == batch and len(got) > 100


def test_streaming_bloom_dedup_bounded_state(spark):
    """Bounded-state Bloom dedup: duplicates are NEVER re-emitted
    (across micro-batches), novel keys pass at adequate m, and the
    state is a fixed-size bitmap however many keys flow through."""
    import os
    import shutil

    from lofar_bf_pulsar_scripts_spark.streaming.bloom_dedup import (
        make_bloom_dedup_fn,
        streaming_bloom_dedup,
    )

    tmp = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_stream_tmp")
    src = os.path.join(tmp, "bloom_src")
    os.makedirs(src, exist_ok=True)
    try:
        # batch 1: f0..f199; batch 2: f100..f299 (100 dups + 100 novel)
        spark.createDataFrame(
            [(f"f{i}",) for i in range(200)], "filename string"
        ).write.mode("overwrite").parquet(os.path.join(src, "b1"))
        stream = spark.readStream.schema("filename string").parquet(
            src + "/b*"
        )
        out = streaming_bloom_dedup(stream, m_bits=1 << 16, n_buckets=4)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("bloom_dedup_stream")
            .start()
        )
        try:
            q.processAllAvailable()
            first = {r["key"] for r in spark.table("bloom_dedup_stream").collect()}
            assert first == {f"f{i}" for i in range(200)}
            spark.createDataFrame(
                [(f"f{i}",) for i in range(100, 300)], "filename string"
            ).write.mode("overwrite").parquet(os.path.join(src, "b2"))
            q.processAllAvailable()
            rows = [r["key"] for r in spark.table("bloom_dedup_stream").collect()]
            # every duplicate from batch 2 was suppressed ACROSS batches
            assert len(rows) == len(set(rows))
            # all genuinely novel keys passed (m is ample here)
            assert set(rows) == {f"f{i}" for i in range(300)}
        finally:
            q.stop()
    finally:
        shutil.rmtree(src, ignore_errors=True)

    # unit-level: the state bitmap stays exactly m/8 bytes as keys accrue
    import pandas as pd

    class FakeState:
        def __init__(self):
            self._v = None
        @property
        def exists(self):
            return self._v is not None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v = v

    fn = make_bloom_dedup_fn(m_bits=1 << 10)
    st = FakeState()
    for wave in range(5):
        keys = [f"k{wave}_{i}" for i in range(20)]
        list(fn((0,), iter([pd.DataFrame({"key": keys})]), st))
        assert len(st.get[0]) == (1 << 10) // 8  # fixed, forever
    with pytest.raises(ValueError):
        make_bloom_dedup_fn(m_bits=1001)


def test_streaming_funnel_equals_batch_across_batches(spark, tmp_path):
    """Stateful streaming funnel: the (stage, t_reached) state carries
    across micro-batches, and in-order replay equals the batch
    strict-order min-chain."""
    import os

    from lofar_bf_pulsar_scripts_spark.operators.funnel import funnel_reach
    from lofar_bf_pulsar_scripts_spark.streaming.funnel_stream import (
        streaming_funnel,
    )

    schema = "user_id long, ts_us long, event_type string, event_id long"
    src = str(tmp_path / "funnel_src")
    os.makedirs(src, exist_ok=True)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: user 0 views+clicks; user 1 clicks before viewing;
    # user 2 views only; simultaneous view/click for user 3 (strict >)
    write([
        (0, 10, "view", 1), (0, 20, "click", 2),
        (1, 5, "click", 3), (1, 8, "view", 4),
        (2, 9, "view", 5),
        (3, 7, "view", 6), (3, 7, "click", 7),
    ])
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_funnel(
        stream, ["view", "click", "purchase"], ts_col="ts_us"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("funnel_stream").start()
    )
    try:
        q.processAllAvailable()
        # batch 2 (event-time later than batch 1, the in-order
        # contract): user 0 purchases (completes); user 1 clicks
        # after their view -> reaches click; user 3 clicks again
        # later -> now strictly after the view
        write([
            (0, 30, "purchase", 8),
            (1, 12, "click", 9),
            (3, 15, "click", 10),
            (2, 40, "purchase", 11),  # skips click: must NOT advance
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["user"], r["step_idx"]): r["t"]
        for r in spark.table("funnel_stream").collect()
    }
    assert got == {
        (0, 0): 10, (0, 1): 20, (0, 2): 30,
        (1, 0): 8, (1, 1): 12,
        (2, 0): 9,
        (3, 0): 7, (3, 1): 15,
    }
    # aggregate parity with the batch funnel on the full data
    full = spark.read.parquet(src).withColumnRenamed("ts_us", "t")
    b = {
        r["step"]: (r["n_users"], r["sum_user_id"])
        for r in funnel_reach(
            full, ["view", "click", "purchase"], time_col="t"
        ).collect()
    }
    import collections

    s_counts = collections.Counter()
    s_sums = collections.Counter()
    for (user, idx), _t in got.items():
        s_counts[idx] += 1
        s_sums[idx] += user
    assert b["view"] == (s_counts[0], s_sums[0])
    assert b["click"] == (s_counts[1], s_sums[1])
    assert b["purchase"] == (s_counts[2], s_sums[2])


def test_streaming_crossmatch_two_batches_equals_batch(spark, tmp_path):
    """Stream-static cross-match (§2.9 stream-static broadcast join):
    probes replayed over TWO micro-batches against a static catalog
    produce exactly the batch crossmatch aggregate — per-bucket
    counts/sums combine associatively across batch boundaries."""
    import os

    from lofar_bf_pulsar_scripts_spark.operators.spatial import (
        crossmatch_cone,
    )

    src = str(tmp_path / "xm_src")
    os.makedirs(src, exist_ok=True)
    schema = "pid long, ra_mas long, dec_mas long"
    catalog = spark.createDataFrame(
        [(1, 1_000_000, 0), (2, 500_000_000, -10_000_000)],
        "cat_id long, ra_mas long, dec_mas long",
    )
    b1 = [(10, 1_200_000, 100), (11, 499_900_000, -10_000_500)]
    b2 = [(12, 1_100_000, -50), (13, 900_000_000, 0)]  # 13 matches nothing
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        crossmatch_cone(stream, catalog, 2_000_000)
        .groupBy("cat_id_cat")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("sep_sq_mas2").alias("s"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("xm_two_batches")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.cat_id_cat: (r.n, r.s)
        for r in spark.table("xm_two_batches").collect()
    }
    batch = (
        crossmatch_cone(
            spark.createDataFrame(b1 + b2, schema), catalog, 2_000_000
        )
        .groupBy("cat_id_cat")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("sep_sq_mas2").alias("s"))
    )
    want = {r.cat_id_cat: (r.n, r.s) for r in batch.collect()}
    assert got == want
    assert set(got) == {1, 2}


def test_state_partitions_law(tmp_path):
    """One state store is allocated per shuffle partition per
    micro-batch PER STATEFUL OPERATOR, so the bounded-replay driver
    sizes partitions as isqrt(bytes // (16KB * n_stateful)) clamped
    to [2, 32] — the optimum of work/p + c*n*p. Pin the measured
    sweet spots so a silent constant regression (the old fixed 8, or
    the r9 linear bytes/8MB law whose floor starved every sf0.1
    stream) fails with a named cause."""
    from lofar_bf_pulsar_scripts_spark.registry import _state_partitions

    def with_size(n_bytes: int, n_stateful: int = 1) -> int:
        d = tmp_path / f"sf_{n_bytes}_{n_stateful}"
        d.mkdir()
        # sparse file: the law only reads os.path.getsize, and the
        # 8 GiB case must not materialize 8 GiB in RAM or on disk
        with open(d / "events.parquet", "wb") as fh:
            fh.truncate(n_bytes)
        return _state_partitions(str(d), n_stateful)

    assert with_size(1) == 2  # floor: a replay gate never pays for 8
    assert with_size(221_000) == 3  # sf0.01 single-op (measured flat 2..8)
    assert with_size(2_045_762) == 11  # sf0.1 single-op (2 was 2.5x worse)
    assert with_size(2_045_762, 8) == 3  # sf0.1 funnel chain (best 4)
    assert with_size(221_000, 8) == 2  # sf0.01 chain (measured best 2)
    assert with_size(211_000_000) == 32  # 100x probe: cap
    assert with_size(8 << 30) == 32  # cap at session parallelism


def _drive_asof_joins(spark, out, name, writes):
    """Start the JVM as-of join stream, apply each write callback with
    a processAllAvailable barrier between micro-batches, then give the
    no-data commit batch (watermark-driven flush) a chance to run."""
    import time

    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
    )
    try:
        for w in writes:
            w()
            q.processAllAvailable()
        time.sleep(1)
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def test_streaming_asof_joins_equals_batch(spark, tmp_path):
    """JVM-only as-of join (stream-stream time-interval left-outer
    join + per-event max): bounded replay equals the batch asof_join
    on distinct events, including outer-NULL rows (no state in
    horizon) and NULL-valued-state skipping — zero Python on the
    stream."""
    import os

    from lofar_bf_pulsar_scripts_spark.operators.asof import asof_join
    from lofar_bf_pulsar_scripts_spark.streaming.asof_stream import (
        streaming_asof_joins,
    )

    ev_schema = "k long, ts long, kind string, v string"
    src = str(tmp_path / "asofj_src")
    os.makedirs(src, exist_ok=True)
    n = [0]

    def write(rows):
        spark.createDataFrame(rows, ev_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        n[0] += 1

    write([
        (1, 10, "state", "a"), (2, 20, "state", "x"),
        (1, 15, "event", None), (1, 5, "event", None),
        (3, 7, "event", None),       # no state ever -> outer NULL
        (1, 15, "event", None),      # duplicate (k, ts): collapses
        (1, 12, "state", None),      # NULL value: skipped
    ])
    stream = spark.readStream.schema(ev_schema).parquet(src)
    out = streaming_asof_joins(
        stream.filter(F.col("kind") == "event").withColumn(
            "tss", F.timestamp_micros(F.col("ts"))
        ),
        stream.filter(F.col("kind") == "state").withColumn(
            "tss", F.timestamp_micros(F.col("ts"))
        ),
        key_col="k", event_ts_col="tss", state_ts_col="tss",
        value_col="v", horizon="1 hour",
    )
    sentinel = [
        (-1, 10**12, "event", None), (-1, 10**12, "state", "zz"),
    ]
    tbl = _drive_asof_joins(
        spark, out, "asofj_batch",
        [lambda: None,
         lambda: write([(1, 30, "event", None), (1, 40, "state", "b"),
                        (1, 45, "event", None)]),
         lambda: write(sentinel)],
    )
    got = {
        (r["key"], r["event_ts"].microsecond): (
            None if r["asof_ts"] is None else r["asof_ts"].microsecond,
            r["asof_value"],
        )
        for r in tbl.filter("key >= 0").collect()
    }
    assert got == {
        (1, 5): (None, None),
        (1, 15): (10, "a"),     # one row despite the duplicate event
        (1, 30): (10, "a"),     # NULL-valued (1,12) state skipped
        (1, 45): (40, "b"),
        (3, 7): (None, None),
    }
    # batch parity on the full bounded data (distinct events)
    full = spark.read.parquet(src).filter("k >= 0")
    b = asof_join(
        full.filter("kind = 'event'").select("k", "ts").distinct(),
        full.filter("kind = 'state'").select(
            "k", F.col("ts").alias("sts"), F.col("v").alias("sv")
        ),
        key_cols=["k"], left_ts="ts", right_ts="sts",
        right_value_cols=["sv"],
    )
    batch = {(r["k"], r["ts"]): r["asof_sv"] for r in b.collect()}
    assert batch == {kk: v for kk, (_, v) in got.items()}


def test_streaming_asof_joins_out_of_order_exact(spark, tmp_path):
    """The join form is event-time-exact under CROSS-BATCH arrival
    disorder (within the watermark delay): a state row arriving a
    micro-batch AFTER an event it should serve still serves it —
    exactly where the Python tracker's in-order caveat made it emit
    NULL. Also pins the horizon bound: a state older than the horizon
    is not matched (outer NULL), and a same-instant state matches
    (inclusive <=)."""
    import os

    from lofar_bf_pulsar_scripts_spark.streaming.asof_stream import (
        streaming_asof_joins,
    )

    ev_schema = "k long, ts long, kind string, v string"
    src = str(tmp_path / "asofj_ooo")
    os.makedirs(src, exist_ok=True)

    def write(rows):
        spark.createDataFrame(rows, ev_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = spark.readStream.schema(ev_schema).parquet(src)
    out = streaming_asof_joins(
        stream.filter(F.col("kind") == "event").withColumn(
            "tss", F.timestamp_micros(F.col("ts"))
        ),
        stream.filter(F.col("kind") == "state").withColumn(
            "tss", F.timestamp_micros(F.col("ts"))
        ),
        key_col="k", event_ts_col="tss", state_ts_col="tss",
        value_col="v", horizon="50 microseconds",
        watermark="10 seconds",
    )
    write([(1, 15, "event", None),      # event first...
           (2, 100, "event", None),     # horizon: state at 10 is 90 out
           (3, 30, "event", None)])     # tie: state at exactly 30
    tbl = _drive_asof_joins(
        spark, out, "asofj_ooo",
        [lambda: None,
         # ...its state arrives one batch LATER with an EARLIER ts
         lambda: write([(1, 10, "state", "late-but-served"),
                        (2, 10, "state", "out-of-horizon"),
                        (3, 30, "state", "tie")]),
         lambda: write([(-1, 10**12, "event", None),
                        (-1, 10**12, "state", "zz")])],
    )
    got = {
        (r["key"], r["event_ts"].microsecond): r["asof_value"]
        for r in tbl.filter("key >= 0").collect()
    }
    assert got == {
        (1, 15): "late-but-served",  # tracker form would say NULL
        (2, 100): None,              # horizon bound: 90us gap > 50us
        (3, 30): "tie",              # inclusive <=
    }
