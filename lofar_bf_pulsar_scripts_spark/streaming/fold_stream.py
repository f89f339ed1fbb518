"""Structured Streaming duals (SURVEY §2.9).

* streaming_fold — the blockwise fold with running state
  (/root/reference/pulsestack.py:553-620) becomes a stateless
  streaming aggregation: phase/bin are per-row expressions, so the
  tumbling-dump fold is groupBy(window, bin) with a watermark; late
  events beyond the watermark drop, mirroring the reference's
  out-of-range counts (pulsestack.py:636-640).
* streaming_dedup — the staging poll loop's 'ready - downloaded'
  incremental set (/root/reference/LTA/lta-retrieve.py:482-568) is
  dropDuplicates over a watermarked key stream.

Both run identically on a bounded replay (memory sink +
processAllAvailable) and on an unbounded source — the batch/stream
parity tests in tests/test_streaming.py rely on that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.fold import bin_column


def streaming_fold_subints(
    stream: DataFrame,
    period: float,
    nbins: int,
    dump_seconds: str = "1 day",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window event fold: per (window, phase bin) mean+count.
    ``stream`` must carry a timestamp column; phase is computed from
    its epoch seconds."""
    t = F.col(ts_col).cast("double")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), dump_seconds).alias("win"),
            bin_column(t, period, nbins).alias("bin"),
        )
        .agg(
            F.avg(F.col(value_col)).alias("profile"),
            F.count(F.col(value_col)).alias("npts"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "bin",
            "profile",
            "npts",
        )
    )


def streaming_event_counts(
    stream: DataFrame,
    period: float,
    nbins: int,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    dump_seconds: str = "1 day",
) -> DataFrame:
    """A5 dual: count-only fold per tumbling window."""
    t = F.col(ts_col).cast("double")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), dump_seconds).alias("win"),
            bin_column(t, period, nbins).alias("bin"),
        )
        .count()
        .select(F.col("win.start").alias("win_start"), "bin", F.col("count").alias("nevents"))
    )


def streaming_dedup_new_urls(
    stream: DataFrame,
    key_col: str | list[str] = "filename",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental 'newly ready' set: stateful dropDuplicates with a
    watermark bounds state, the streaming form of
    ready_urls - downloaded_urls. ``key_col`` may be one column or a
    composite key list."""
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    return stream.withWatermark(ts_col, watermark).dropDuplicates(keys)


def run_bounded(
    query_df: DataFrame,
    name: str,
    mode: str = "complete",
    available_now: bool = False,
    shuffle_partitions: int | None = None,
    watermark_flush: bool = False,
) -> DataFrame:
    """Drive a streaming frame over a bounded source to completion via
    a memory sink; returns the static result table. The ONE driver for
    every bounded replay in the repo (gates and tests alike).

    Default output mode is 'complete': with append mode a watermarked
    aggregation only emits windows the watermark has CLOSED, and on a
    bounded replay the watermark never passes the final windows — the
    result would be missing every trailing window. Use mode='append'
    only for non-aggregating streams (e.g. dropDuplicates).

    ``available_now=True`` drains the bounded source in as few
    micro-batches as possible (replay latency). ``shuffle_partitions``
    temporarily lowers the stateful-shuffle partition count — one
    state store is allocated per partition, so a tiny-keyspace replay
    should not pay for the session default.

    No-data micro-batches are disabled for the replay by default
    (restored after): the trailing watermark-flush batch exists to
    advance the watermark so state can be EVICTED and watermark-gated
    output (append-mode watermarked aggregations, outer-join nulls)
    can be EMITTED.  Almost no replay in this repo has
    watermark-gated output — the aggregation gates run in complete
    mode (full table on each data batch) and the other append-mode
    gates are stream-stream INNER join / dropDuplicates /
    NoTimeout-state chains (emit on data arrival) — so the flush
    batch contributes zero rows while paying a FULL state-store
    commit cycle across every stateful operator x partition (the r14
    streaming-asof probe measured commit walls of 5-17 s on identical
    input; half of them were this empty batch — measured min-of-4
    sf0.1: funnel-joins chain 24.3 -> 5.8 s, asof-joins 5.3 -> 2.7 s,
    dedup 1.9 -> 1.2 s).  Plans whose OUTPUT is watermark-gated — the
    left-outer + append-mode-aggregation as-of form, whose emission
    contract is documented on ``streaming_asof_joins`` — must pass
    ``watermark_flush=True`` to keep the flush batch (skipping it
    there returns an empty table, caught by the oracle gate when this
    default first landed).

    Conf scope: the two conf flips below are SESSION-GLOBAL and
    restored in ``finally`` — run_bounded is not safe to call
    concurrently with another bounded replay (or any other streaming
    query) in the same session; every set happens INSIDE the try that
    owns the restore, so no setting can leak on an exception.  A conf
    that was unset before the call is unset again after it."""
    spark = query_df.sparkSession
    flips = {}
    if not watermark_flush:
        flips["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    if shuffle_partitions is not None:
        flips["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # conf.get(key, None) is None iff the key is not set in the session
    prev = {key: spark.conf.get(key, None) for key in flips}
    try:
        for key, value in flips.items():
            spark.conf.set(key, value)
        writer = (
            query_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        try:
            if available_now:
                q.awaitTermination()
            else:
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    return spark.table(name)


def streaming_sessions(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    gap: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """W6 streaming dual: gap-sessionization via the native
    ``F.session_window`` stateful aggregation — per (key, session) row
    with start/end/length. The watermark bounds session state: a
    session closes (and its state is dropped) once the watermark
    passes its end + gap.

    One stateful aggregation only — the per-key session SUMMARY
    (n_sessions / max_len) that ``session_stats_native`` adds on top
    is a second aggregation, which Structured Streaming forbids in one
    query; run it as a downstream batch over the sink (exactly what
    the parity test does), or chain via foreachBatch at scale."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            *key_cols, F.session_window(F.col(ts_col), gap).alias("__w")
        )
        .agg(F.count(F.lit(1)).alias("session_len"))
        .select(
            *key_cols,
            F.col("__w.start").alias("session_start"),
            F.col("__w.end").alias("session_end"),
            "session_len",
        )
    )
