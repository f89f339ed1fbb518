"""Round-15: scale-adaptive scan spread (guide §2.5 — a single-file
sandbox table scans as ONE task, so CPU-heavy per-row pipelines fused
into the scan stage run on one core regardless of machine
parallelism).  spread_small_scan round-robins such inputs to
defaultParallelism and passes corpus-scale inputs through untouched,
so it can never insert a payload shuffle at 100 TB."""

from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.skew import spread_small_scan


def test_spread_engages_only_below_parallelism(spark):
    par = spark.sparkContext.defaultParallelism
    one = spark.range(0, 1000).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    spread = spread_small_scan(one)
    assert spread.rdd.getNumPartitions() == par
    # an input already at/above machine parallelism is returned AS-IS
    wide = spark.range(0, 1000, 1, par)
    assert spread_small_scan(wide) is wide
    wider = spark.range(0, 1000, 1, par + 3)
    assert spread_small_scan(wider) is wider
    # oversubscription multiple
    assert spread_small_scan(one, multiple=2).rdd.getNumPartitions() == 2 * par


def test_spread_skips_inputs_above_byte_cap(spark):
    """A one-partition frame estimated at 64 GiB (2^33 longs) is left
    alone — no payload round-robin — while a small one is spread."""

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "Exchange"
        )

    big = spark.range(1 << 33, numPartitions=1)
    assert exchanges(spread_small_scan(big)) == exchanges(big) == 0
    small = spark.range(1000, numPartitions=1)
    assert exchanges(spread_small_scan(small)) == 1


def test_spread_preserves_rows(spark):
    df = spark.range(0, 5000).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v")
    ).coalesce(1)
    base = sorted((r["id"], r["v"]) for r in df.collect())
    spread = sorted((r["id"], r["v"]) for r in spread_small_scan(df).collect())
    assert spread == base


def test_lsh_ann_topk_results_unchanged_by_spread(spark):
    """The spread is a physical rewrite only: the LSH ANN operator
    (whose corpus side now spreads) must return bit-identical rows to
    a manually pre-spread corpus — and to itself at any input
    partitioning (the operator's own partition-invariance contract)."""
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        lsh_ann_topk,
    )

    vecs = spark.createDataFrame(
        [
            (i, [((i * 31 + d * 7) % 19 - 9) / 9.0 for d in range(16)])
            for i in range(60)
        ],
        "vec_id long, embedding array<double>",
    )
    q = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out1 = sorted(
        (r["qid"], r["vec_id"], round(r["cos"], 12))
        for r in lsh_ann_topk(
            vecs.coalesce(1), q, k=3, n_tables=4, n_bits=4, dims=16
        ).collect()
    )
    out2 = sorted(
        (r["qid"], r["vec_id"], round(r["cos"], 12))
        for r in lsh_ann_topk(
            vecs.repartition(7), q, k=3, n_tables=4, n_bits=4, dims=16
        ).collect()
    )
    assert out1 == out2 and out1
