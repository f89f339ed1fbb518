"""Skew-mitigation helpers: explicit key salting for equi-joins whose
key distribution is too skewed for AQE's runtime skew-split to fix
(AQE only splits oversized SHUFFLE partitions of sort-merge joins —
it cannot help a broadcast-impossible join against a replicable dim,
or a stateful/streaming join where AQE is disabled).

Semantics contract: ``salted_join`` returns exactly the rows of the
plain equi-join (property-tested); only the physical key distribution
changes. Salting is DETERMINISTIC (xxhash64 of the fact row's join
key + a stable discriminator column) so retried tasks and replayed
streams salt identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    salt_by: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting: the fact side's hot keys are spread
    over ``n_salts`` sub-keys by a deterministic hash of ``salt_by``
    (any fact column with per-row variation, e.g. its primary key);
    the dim side is replicated ``n_salts``× via a tiny explode — dim
    rows are dimension-sized by assumption, so the replication is
    n_salts × |dim|, never fact-sized.

    Join keys become (key..., salt): a key with 10^9 fact rows now
    lands on n_salts reducers instead of one. Replication factor is
    explicit and bounded — unlike broadcast, this works when the dim
    is too big to broadcast but small enough to replicate modestly.
    ``how`` supports inner/left joins (dim-side semantics are
    preserved because every (key, salt) replica carries the full dim
    row)."""
    allowed = {
        "inner", "left", "left_outer", "leftouter",
        "semi", "left_semi", "leftsemi",
        "anti", "left_anti", "leftanti",
    }
    if how.lower() not in allowed:
        # right/full joins see each unmatched dim key n_salts times
        # (one per replica) — silently NOT equal to the plain join
        raise ValueError(
            f"salted_join supports fact-preserving joins {sorted(allowed)}; "
            f"how={how!r} would duplicate unmatched dim rows per salt"
        )
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in keys + [salt_by]]),
                  F.lit(n_salts)).alias("__salt")
    f = fact.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<bigint>")),
    )
    return f.join(d, on=keys + ["__salt"], how=how).drop("__salt")


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 5,
) -> DataFrame:
    """The decide-whether-to-salt diagnostic: exact key-frequency
    skew statistics for a prospective join/aggregation key. ONE row:
    n_rows, n_keys, max/min per-key count, the exact mean bound
    (n_rows DIV n_keys), and the combined share of the ``top_k``
    hottest keys in parts-per-million — everything integer-exact.

    A max_count near n_rows/shuffle-partitions (or hot_share_ppm in
    the hundreds of thousands) says AQE's skew split will struggle
    and ``salted_join`` (or a broadcast) is the move. Plan: one
    count-per-key aggregation (map-side combined) + one tiny rollup —
    never more than |distinct keys| rows after the first shuffle.

    Empty input is still one row, with explicit zero semantics so the
    decide-whether-to-salt caller never sees an all-NULL diagnostic:
    n_rows=0, n_keys=0, mean_count=0, hot_share_ppm=0 (max/min_count
    stay NULL — there is no per-key count to bound)."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__c"))
    topk = (
        counts.orderBy(F.desc("__c"), F.asc(key_col))
        .limit(int(top_k))
        .agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("__top"))
    )
    return (
        counts.agg(
            F.coalesce(F.sum("__c"), F.lit(0)).alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("__c").alias("max_count"),
            F.min("__c").alias("min_count"),
        )
        .crossJoin(F.broadcast(topk))
        .select(
            "n_rows",
            "n_keys",
            "max_count",
            "min_count",
            F.expr(
                "CAST(CASE WHEN n_keys = 0 THEN 0"
                "     ELSE n_rows DIV n_keys END AS BIGINT)"
            ).alias("mean_count"),
            F.expr(
                "CAST(CASE WHEN n_rows = 0 THEN 0"
                "     ELSE (1000000 * __top) DIV n_rows END AS BIGINT)"
            ).alias("hot_share_ppm"),
        )
    )


# Estimated-size cap for spread_small_scan: above it an input is never
# round-robined, whatever its task count.  A one-task scan of a
# sandbox table is KBs-MBs; a multi-GB input that scans in a few
# tasks on a cluster is better served by its own scan splits than by
# shuffling its whole payload once.
SPREAD_MAX_BYTES = 256 << 20


def spread_small_scan(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Scale-adaptive scan spread for CPU-heavy per-row pipelines
    (guide §2.5: "one huge unsplittable file ... repartition
    immediately after the read").

    A bench/sandbox table is a single-row-group parquet file, so its
    scan is ONE task — and everything Spark fuses into the scan stage
    (interpreted lambda folds, regex tokenizers, explode + map-side
    partial aggregation) runs on one core regardless of the machine's
    parallelism.  Measured at sf0.1 / local[32]: the sign-LSH corpus
    signature stage alone reads 1.53 s single-task vs 0.50 s spread.

    Scale shape: an input whose optimized plan estimates more than
    ``SPREAD_MAX_BYTES``, or that already scans in >=
    defaultParallelism tasks, is returned UNCHANGED, so on a cluster
    (bytes) and at 100 TB (thousands of scan tasks) this never inserts
    a payload shuffle — the spread only engages when a SMALL scan
    starves the machine.  Both checks read the frame's own query
    execution on the JVM side.
    Callers apply it AFTER projecting to the columns the downstream
    compute needs, so the one-time round-robin exchange moves the
    narrow projection, not the full row (guide §2.3).  The keyless
    repartition is retry-deterministic (sort-before-repartition,
    SPARK-23207) and results are partition-invariant by the callers'
    own contracts (associative aggregates / explicit sort keys),
    pinned by the partition-invariance tests.

    ``multiple`` > 1 oversubscribes (multiple tasks per core) for
    pipelines whose per-row cost is very uneven."""
    qe = df._jdf.queryExecution()
    # a Scala BigInt, which py4j may or may not convert to a Python int
    size = qe.optimizedPlan().stats().sizeInBytes()
    if int(str(size)) > SPREAD_MAX_BYTES:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * max(1, int(multiple))
    # the frame's own physical plan: Dataset.rdd() would plan it again
    if qe.toRdd().getNumPartitions() >= target:
        return df
    return df.repartition(target)
