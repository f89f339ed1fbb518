"""Layout tests: partition pruning actually happens for the
filename-grammar filters, and bucketed cube aggregation avoids the
exchange (SCALE.md claims, verified against the physical plan)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.plans.lake import (
    explain_string,
    read_observation,
    write_cube_bucketed,
    write_observation_partitioned,
)

TMP = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_lake_tmp")


def test_partition_pruning_for_sap_filter(spark):
    os.makedirs(TMP, exist_ok=True)
    try:
        df = spark.range(4000).select(
            (F.col("id") % 4).alias("obs_id"),
            (F.col("id") % 2).alias("sap"),
            (F.col("id") % 3).alias("tab"),
            (F.col("id") % 5).alias("part"),
            F.col("id").alias("sample_idx"),
            (F.col("id") * 0.5).alias("value"),
        )
        path = os.path.join(TMP, "obs")
        write_observation_partitioned(df, path)
        back = read_observation(spark, path)
        sel = back.filter((F.col("obs_id") == 2) & (F.col("sap") == 1))
        plan = explain_string(sel)
        # partition filters reach the scan: pruning, not row filtering
        assert "PartitionFilters" in plan
        assert "obs_id" in plan.split("PartitionFilters", 1)[1][:400]
        assert sel.count() == df.filter(
            (F.col("obs_id") == 2) & (F.col("sap") == 1)
        ).count()
    finally:
        shutil.rmtree(TMP, ignore_errors=True)


def test_lta_manifest_plan_shape(spark):
    """Pin the lta_superquery_manifest physical plan (the r2 bench
    anomaly investigation): the SAP rlike must be evaluated in the
    fact-scan stage BEFORE any join, every catalog join must be a
    broadcast join (dims are tiny), and the lineitem scan must be
    pruned to the 4 columns the manifest derives from. A regression in
    any of these is a plan-shape bug; a slow run with this exact plan
    is an environment artifact."""
    from lofar_bf_pulsar_scripts_spark.registry import _SPECS

    fn = {s.name: s.spark_fn for s in _SPECS}["lta_superquery_manifest"]
    df = fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    # the rlike filter is attached to the lineitem scan stage, below
    # every join: RLIKE appears in the scan's DataFilters
    scan = plan.split("lineitem.parquet", 1)[0]
    assert "RLIKE" in scan
    assert (
        "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint,"
        "l_linenumber:int,l_extendedprice:double>" in plan
    )


def test_bucketed_cube_groupby_has_no_exchange(spark):
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    cube = spark.range(2000).select(
        (F.col("id") % 7).cast("int").alias("subint"),  # co-prime moduli
        (F.col("id") % 16).cast("int").alias("chan"),
        (F.col("id") % 32).cast("int").alias("bin"),
        (F.col("id") * 1.0).alias("value"),
    )
    try:
        write_cube_bucketed(cube, "cube_bucketed_test", buckets=8)
        t = spark.table("cube_bucketed_test")
        agg = t.groupBy("subint", "chan").agg(F.avg("value"))
        plan = explain_string(agg)
        # scan is bucketed on the groupBy keys -> no shuffle exchange
        # between scan and aggregation
        assert "Exchange hashpartitioning(subint" not in plan
        assert agg.count() == 7 * 16
    finally:
        spark.sql("DROP TABLE IF EXISTS cube_bucketed_test")


def test_ivf_store_partition_pruning(spark, tmp_path):
    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        explain_string,
        read_probed_centroids,
        write_embeddings_by_centroid,
    )
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        kmeans_assign,
    )
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", "embedding"
    )
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    assigned = kmeans_assign(emb, cents)
    path = str(tmp_path / "ivf_store")
    write_embeddings_by_centroid(assigned, path)
    probed = read_probed_centroids(spark, path, [1, 3])
    plan = explain_string(probed)
    # the cid filter must be a partition filter on the scan, not a row
    # filter after reading everything
    assert "PartitionFilters" in plan and "cid" in plan.split(
        "PartitionFilters", 1
    )[1].splitlines()[0]
    got = {r["cid"] for r in probed.select("cid").distinct().collect()}
    assert got <= {1, 3} and got


def test_lsh_signature_store_partition_pruning(spark, tmp_path):
    import numpy as np

    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        explain_string,
        read_lsh_bucket,
        write_lsh_signatures,
    )
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        _np_sign_lsh,
    )
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "lsh_store")
    write_lsh_signatures(emb, path, n_tables=2, n_bits=4, dims=64)
    # table-0 buckets straight from the kernel, hashed on the driver
    rows = emb.collect()
    sig = _np_sign_lsh(
        np.asarray([r["embedding"] for r in rows], dtype=np.float64),
        n_tables=2, n_bits=4, dims=64, scale=1e6,
    )
    b0 = {r["vec_id"]: int(s) for r, s in zip(rows, sig[:, 0])}
    # pick a (tbl, bkt) known to exist
    first = rows[0]["vec_id"]
    probed = read_lsh_bucket(spark, path, 0, b0[first])
    plan = explain_string(probed)
    head = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "PartitionFilters" in plan and "tbl" in head and "bkt" in head
    ids = {r["vec_id"] for r in probed.collect()}
    assert first in ids
    # every row in the probed bucket really carries that signature
    want = {i for i, b in b0.items() if b == b0[first]}
    assert ids == want


def test_lsh_ann_topk_stored_parity_and_pruning(spark, tmp_path):
    """The store-backed ANN probe (the gate/scale path) returns
    byte-identical results to the in-memory lsh_ann_topk, and its
    store scan is partition-pruned at plan time."""
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        lsh_ann_topk,
    )
    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        ensure_lsh_signatures,
        explain_string,
        lsh_ann_topk_stored,
    )
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    path = str(tmp_path / "ann_store")
    ensure_lsh_signatures(emb, path, n_tables=4, n_bits=6, dims=64)
    # idempotent: second ensure is a no-op on the existing store
    ensure_lsh_signatures(emb, path, n_tables=4, n_bits=6, dims=64)
    stored = lsh_ann_topk_stored(
        emb, q, path, k=5, n_tables=4, n_bits=6, dims=64
    )
    plan = explain_string(stored)
    head = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "tbl" in head and "bkt" in head
    column = lsh_ann_topk(emb, q, k=5, n_tables=4, n_bits=6, dims=64)
    a = sorted(map(tuple, stored.collect()))
    b = sorted(map(tuple, column.collect()))
    assert a == b and a


def test_lsh_ann_topk_stored_keeps_int_id_types(spark, tmp_path):
    """Every return path of the stored LSH probe carries the inputs'
    id types: a hit, a query that probes no existing bucket
    directory, and a malformed query that probes nothing at all."""
    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        ensure_lsh_signatures,
        lsh_ann_topk_stored,
    )

    v = [0.3, -0.7, 0.2, 0.9, -0.4, 0.1, 0.6, -0.5]
    corpus = spark.createDataFrame(
        [(0, v), (1, [2 * x for x in v])],
        "vec_id int, embedding array<double>",
    )
    path = str(tmp_path / "lsh_int_ids")
    ensure_lsh_signatures(corpus, path, n_tables=2, n_bits=4, dims=8)

    def probe(rows):
        q = spark.createDataFrame(rows, "qid int, embedding array<double>")
        out = lsh_ann_topk_stored(
            corpus, q, path, k=3, n_tables=2, n_bits=4, dims=8
        )
        types = [(f.name, f.dataType.simpleString()) for f in out.schema]
        assert types[:2] == [("qid", "int"), ("vec_id", "int")]
        return [(r["qid"], r["vec_id"]) for r in out.collect()]

    assert probe([(0, v)]) == [(0, 1)]
    # -v flips every hyperplane sign: its buckets hold no corpus vector
    assert probe([(5, [-x for x in v])]) == []
    assert probe([(6, v[:4])]) == []


def test_store_path_moves_with_builder_code(monkeypatch):
    """A store written by another version of the store builders is
    never read: the at-rest store path keys on a digest of their
    sources."""
    from lofar_bf_pulsar_scripts_spark import registry

    sf = "/root/testdata/sf0.001"
    before = registry._lsh_store_path(sf, n_tables=4, n_bits=6, dims=64)
    assert registry._lsh_store_path(
        sf, n_tables=4, n_bits=6, dims=64
    ) == before
    monkeypatch.setattr(registry, "_store_code_digest", lambda: "0" * 64)
    assert registry._lsh_store_path(
        sf, n_tables=4, n_bits=6, dims=64
    ) != before


def test_store_builders_reached_only_through_store_helpers():
    """Each at-rest store is declared once: only the `_ensure_<store>`
    helpers of registry._STORES (the table prebuild_stores walks) call
    a plans.lake ensure_* builder, and every `_ensure_*` name a gate
    uses is one of them."""
    import ast
    import inspect

    from lofar_bf_pulsar_scripts_spark import registry
    from lofar_bf_pulsar_scripts_spark.plans import lake

    builders = {n for n in dir(lake) if n.startswith("ensure_")}
    helpers = {f.__name__ for f in registry._STORES.values()}
    for fn in ast.parse(inspect.getsource(registry)).body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        used = set()
        for node in ast.walk(fn):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.ImportFrom):
                used.update(a.name for a in node.names)
        if used & builders:
            assert fn.name in helpers, (fn.name, sorted(used & builders))
        stray = {n for n in used if n.startswith("_ensure_")} - helpers
        assert not stray, (fn.name, sorted(stray))


def test_salted_join_equals_plain_join(spark):
    from lofar_bf_pulsar_scripts_spark.operators.skew import salted_join
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "user_id", "value"
    )
    # skew: fold all users onto 3 hot keys
    fact = ev.withColumn("k", F.pmod(F.col("user_id"), F.lit(3)))
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (9, "never")], "k long, tag string"
    )
    plain = fact.join(dim, on="k").select("event_id", "k", "tag")
    salted = salted_join(
        fact, dim, on="k", salt_by="event_id", n_salts=7
    ).select("event_id", "k", "tag")
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and a
    # left-join semantics preserved (unmatched fact rows survive once)
    lp = sorted(
        map(tuple, fact.join(dim.filter("k = 0"), on="k", how="left")
            .select("event_id", "tag").collect())
    )
    ls = sorted(
        map(tuple, salted_join(fact, dim.filter("k = 0"), on="k",
                               salt_by="event_id", n_salts=7, how="left")
            .select("event_id", "tag").collect())
    )
    assert lp == ls


def test_compact_parquet_dir(spark, tmp_path):
    from lofar_bf_pulsar_scripts_spark.plans.lake import compact_parquet_dir
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    src = str(tmp_path / "many")
    dst = str(tmp_path / "compact")
    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "user_id", "value"
    )
    ev.repartition(40).write.parquet(src)
    import glob

    n_small = len(glob.glob(f"{src}/*.parquet"))
    assert n_small >= 40
    total = sum(
        __import__("os").path.getsize(p) for p in glob.glob(f"{src}/*.parquet")
    )
    n = compact_parquet_dir(spark, src, dst, target_file_bytes=total // 3 + 1)
    n_out = len(glob.glob(f"{dst}/*.parquet"))
    assert n == 3 and n_out == 3
    # content preserved
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert a == b
    # empty / fileless source raises a clear error, not an opaque
    # schema-inference failure
    import pytest

    empty = tmp_path / "empty_src"
    empty.mkdir()
    with pytest.raises(ValueError, match="no \\*\\.parquet"):
        compact_parquet_dir(spark, str(empty), dst)


def test_write_training_shards(spark, tmp_path):
    from lofar_bf_pulsar_scripts_spark.plans.lake import write_training_shards

    df = spark.range(1000).select(F.col("id").alias("doc_id"),
                                  (F.col("id") * 2).alias("payload"))
    out = str(tmp_path / "shards")
    manifest = write_training_shards(df, out, docs_per_shard=300).collect()
    # 1000 docs / 300 per shard -> shards of 300/300/300/100
    assert [r["n_docs"] for r in manifest] == [300, 300, 300, 100]
    # shards are CONTIGUOUS slices of the global order
    for r in manifest:
        assert r["max_rank"] - r["min_rank"] + 1 == r["n_docs"]
    assert manifest[0]["min_rank"] == 1 and manifest[-1]["max_rank"] == 1000
    # deterministic: a second export produces byte-identical membership
    out2 = str(tmp_path / "shards2")
    write_training_shards(df, out2, docs_per_shard=300)
    a = spark.read.parquet(out).select("shard", "doc_id").collect()
    b = spark.read.parquet(out2).select("shard", "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # the layout partition-prunes a resume-from-shard-k read
    plan = (
        spark.read.parquet(out)
        .filter(F.col("shard") >= 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(shard" in plan
    # the shuffle order is not the id order (it's the md5 order)
    first_shard_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(out)
        .filter(F.col("shard") == 0).select("doc_id").collect()
    )
    assert first_shard_ids != list(range(300))
    with pytest.raises(ValueError):
        write_training_shards(df, out, docs_per_shard=0)


def test_cobucketed_fact_join_has_no_exchange(spark, tmp_path):
    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        cobucketed_join,
        write_cobucketed_pair,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_cobucketed_pair(
        orders, lineitem, "orders_cb", "lineitem_cb",
        "o_orderkey", "l_orderkey", buckets=8,
    )
    try:
        j = cobucketed_join(
            spark, "orders_cb", "lineitem_cb", "o_orderkey", "l_orderkey"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the whole point: fact-fact join with ZERO shuffles
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # correctness: same row count as the plain join
        expect = orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        ).count()
        assert j.count() == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_cb")
        spark.sql("DROP TABLE IF EXISTS lineitem_cb")


def test_scale_probe_build_keeps_foreign_keys_consistent(spark, tmp_path):
    """The 10x/100x scale datasets are only valid measurements if the
    replica key shifts keep every join intact: lineitem->orders->
    customer must join exactly N times the base rate, and replicated
    documents must be distinct across replicas while preserving
    within-replica duplicates."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.scale_probe import build

    out = str(tmp_path / "x3")
    build("/root/testdata/sf0.001", out, 3)
    import duckdb

    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    base = "/root/testdata/sf0.001"
    for sql in (
        "SELECT count(*) FROM '{d}/lineitem.parquet' l "
        "JOIN '{d}/orders.parquet' o ON l.l_orderkey = o.o_orderkey",
        "SELECT count(*) FROM '{d}/orders.parquet' o "
        "JOIN '{d}/customer.parquet' c ON o.o_custkey = c.c_custkey",
        "SELECT count(*) FROM '{d}/lineitem.parquet' l "
        "JOIN '{d}/part.parquet' p ON l.l_partkey = p.p_partkey",
    ):
        assert q(sql.format(d=out)) == 3 * q(sql.format(d=base)), sql
    # orphan check: every scaled lineitem still has its order
    assert q(
        f"SELECT count(*) FROM '{out}/lineitem.parquet' l "
        f"LEFT JOIN '{out}/orders.parquet' o ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderkey IS NULL"
    ) == 0
    # docs distinct ACROSS replicas, within-replica dups preserved
    n_dup_base = q(
        f"SELECT count(*) - count(DISTINCT text) FROM '{base}/documents.parquet'"
    )
    n_dup_scaled = q(
        f"SELECT count(*) - count(DISTINCT text) FROM '{out}/documents.parquet'"
    )
    assert n_dup_scaled == 3 * n_dup_base
    # dims fixed, facts scaled
    assert q(f"SELECT count(*) FROM '{out}/nation.parquet'") == 25
    assert q(f"SELECT count(*) FROM '{out}/events.parquet'") == 3 * q(
        f"SELECT count(*) FROM '{base}/events.parquet'"
    )
