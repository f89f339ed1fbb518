"""Round-13: the IVF-PRUNED trained-PQ store (r12 VERDICT item 1) —
the composition that closes the last corpus-linear ANN scan: trained
coarse centroids partition the trained codes AND the rerank vectors
at rest, a probe partition-prunes both tiers (PartitionFilters), ADC
shortlists against the persisted OPQ/Lloyd model, exact cosine ranks
only the shortlist.

Also pins the round-12 ADVICE fixes in the same family: latest-wins
upsert into the trained-PQ codes store (the append form returned a
re-upserted vec_id multiple times inside top-k), and forget coverage
of the new store's two tiers."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.similarity import (
    ann_recall,
    brute_force_topk,
)
from lofar_bf_pulsar_scripts_spark.plans.lake import (
    build_trained_ivf_pq_store,
    build_trained_pq_store,
    ensure_trained_ivf_pq_store,
    explain_string,
    forget_documents,
    read_trained_ivf_pq_model,
    trained_ivf_pq_rerank_topk,
    trained_pq_topk,
    upsert_trained_pq,
)

N, DIMS, K_CLUSTERS, SIGMA, K = 4000, 64, 20, 0.25, 20


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    # the planted-Gaussian-mixture corpus of
    # tests/test_round12_clustered_recall.py — recall on an isotropic
    # synthetic measures noise, not probe quality
    rng = np.random.default_rng(1234)
    centers = rng.standard_normal((K_CLUSTERS, DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    g = np.arange(N) % K_CLUSTERS
    x = centers[g] + SIGMA * rng.standard_normal((N, DIMS))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    e = spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(N)],
        "vec_id bigint, embedding array<float>",
    ).cache()
    e.count()
    path = str(tmp_path_factory.mktemp("tivf") / "trained_ivf_pq")
    ensure_trained_ivf_pq_store(
        e, path, dims=DIMS, n_centroids=K_CLUSTERS, m_sub=8,
        k_codes=16, max_iter=3, kmeans_iter=3, train_stride=4,
    )
    q = e.filter(F.pmod(F.col("vec_id"), F.lit(N // 20)) == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    ).cache()
    exact = brute_force_topk(e, q, k=K).cache()
    exact.count()
    yield e, q, exact, path
    e.unpersist()


def _mean_recall(approx, exact):
    rows = ann_recall(approx, exact, k=K).collect()
    return sum(r["recall"] for r in rows) / len(rows)


def test_recall_floor_and_nprobe_dial(spark, store):
    """The judge-set floor: recall@20 >= 0.42 at nprobe 8 with a
    rerank-200 shortlist (the probe-scale trained-PQ+rerank figure),
    and the nprobe dial must actually dial — pruning fewer cells
    cannot lose recall on data with neighborhood structure."""
    e, q, exact, path = store
    r8 = _mean_recall(
        trained_ivf_pq_rerank_topk(
            spark, path, q, topk=K, nprobe=8, shortlist=200
        ).select("qid", "vec_id"),
        exact,
    )
    r2 = _mean_recall(
        trained_ivf_pq_rerank_topk(
            spark, path, q, topk=K, nprobe=2, shortlist=200
        ).select("qid", "vec_id"),
        exact,
    )
    assert r8 >= 0.42, (r2, r8)
    assert r2 < r8, (r2, r8)


def test_exhaustive_probe_equals_brute_force(spark, store):
    """With every cell probed and an uncapped shortlist the staged
    probe degenerates to exact search: PQ decides a shortlist that
    contains everything, the rerank is exact cosine with the same
    (cos desc, id asc) tie order as brute_force_topk — equality pins
    the whole pipeline's plumbing (prune, ADC, rerank, tie-breaks)."""
    e, q, exact, path = store
    got = {
        (r["qid"], r["vec_id"], round(r["cos"], 9))
        for r in trained_ivf_pq_rerank_topk(
            spark, path, q, topk=K, nprobe=K_CLUSTERS, shortlist=N
        ).collect()
    }
    want = {
        (r["qid"], r["vec_id"], round(r["cos"], 9))
        for r in exact.collect()
    }
    assert got == want


def test_partition_pruning_on_both_tiers(spark, store):
    """A narrow probe must read ONLY the probed cids' directories on
    BOTH store scans — asserted from the plan's PartitionFilters, the
    disk half of the scale story (the r12 trained-PQ tier's one gap
    was exactly this: a corpus-linear code scan per probe)."""
    e, q, exact, path = store
    two_q = q.limit(2)
    df = trained_ivf_pq_rerank_topk(
        spark, path, two_q, topk=3, nprobe=2, shortlist=50
    )
    plan = explain_string(df)
    pf = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "cid" in ln
    ]
    # codes scan + vectors scan, each pruned to <= 4 of the 20 cells
    # (Spark renders a small literal set as `IN (..)`, a larger one
    # as `INSET ..`)
    assert len(pf) >= 2, plan
    import re

    for ln in pf:
        body = ln.split("PartitionFilters", 1)[1]
        m = re.search(r"(?:INSET|IN \()\s*([-\d,\s]+)", body)
        assert m, ln
        vals = {
            int(t)
            for t in re.split(r"[,\s]+", m.group(1).strip())
            if t.lstrip("-").isdigit()
        }
        assert 0 < len(vals) <= 4, ln


def test_model_reader_rejects_flat_store(spark, store, tmp_path):
    """A store built without a coarse quantizer must refuse the
    IVF-pruned probe loudly instead of probing wrong geometry."""
    e, q, exact, path = store
    flat = str(tmp_path / "flat_pq")
    build_trained_pq_store(
        e.limit(300), flat, dims=DIMS, m_sub=4, k_codes=16, max_iter=2
    )
    with pytest.raises(ValueError, match="no coarse centroids"):
        read_trained_ivf_pq_model(spark, flat)


def test_model_reader_rejects_residual_store(spark, tmp_path):
    """A model whose ``residual`` row says 1 was coded as x -
    centroid[cid]; the probe only builds raw LUTs, so reading it must
    fail loudly instead of answering with the wrong geometry."""
    path = str(tmp_path / "residual_store")
    spark.createDataFrame(
        [
            ("rotation", 0, 0, [1.0, 0.0]),
            ("rotation", 1, 0, [0.0, 1.0]),
            ("codebook", 0, 0, [0.5]),
            ("codebook", 1, 0, [0.5]),
            ("centroid", 0, 0, [0.6, 0.8]),
            ("residual", 1, 0, []),
        ],
        "kind string, m int, c int, vec array<double>",
    ).write.parquet(path + "/model")
    with pytest.raises(ValueError, match="residual"):
        read_trained_ivf_pq_model(spark, path)


def test_trained_pq_upsert_latest_wins(spark, tmp_path):
    """Round-12 ADVICE: re-upserting an id must leave exactly ONE
    code row at rest (latest wins), so trained_pq_topk's effective k
    never silently shrinks from duplicate vec_ids."""
    rng = np.random.default_rng(5)
    base = [
        (int(i), [float(v) for v in rng.standard_normal(DIMS)])
        for i in range(300)
    ]
    df = spark.createDataFrame(
        base, "vec_id bigint, embedding array<float>"
    )
    path = str(tmp_path / "pq")
    build_trained_pq_store(df, path, dims=DIMS, m_sub=4, k_codes=16,
                           max_iter=2)
    codes0 = {
        int(r["vec_id"]): list(r["codes"])
        for r in spark.read.parquet(path + "/codes").collect()
    }
    # re-upsert id 5 carrying id 7's vector (changed content), plus a
    # brand-new id — one call, mixed insert/update
    batch = spark.createDataFrame(
        [(5, base[7][1]), (900, base[7][1])],
        "vec_id bigint, embedding array<float>",
    )
    upsert_trained_pq(batch, path)
    rows = spark.read.parquet(path + "/codes").collect()
    per_id = {}
    for r in rows:
        per_id.setdefault(int(r["vec_id"]), []).append(list(r["codes"]))
    assert all(len(v) == 1 for v in per_id.values()), {
        k: v for k, v in per_id.items() if len(v) > 1
    }
    assert len(per_id) == 301
    assert per_id[5][0] == codes0[7] == per_id[900][0]
    # a probe sees k DISTINCT ids with the updated geometry
    qdf = spark.createDataFrame(
        [(12345, base[7][1])], "qid bigint, embedding array<float>"
    )
    hits = trained_pq_topk(spark, path, qdf, topk=3).collect()
    assert len({r["vec_id"] for r in hits}) == 3


def test_forget_covers_ivf_pq_store(spark, tmp_path):
    """Right-to-be-forgotten reaches BOTH tiers of the new store: a
    forgotten id answers neither the ADC scan (codes) nor the rerank
    (vectors)."""
    rng = np.random.default_rng(9)
    base = [
        (int(i), [float(v) for v in rng.standard_normal(DIMS)])
        for i in range(300)
    ]
    df = spark.createDataFrame(
        base, "vec_id bigint, embedding array<float>"
    )
    path = str(tmp_path / "tivf")
    build_trained_ivf_pq_store(
        df, path, dims=DIMS, n_centroids=4, m_sub=4, k_codes=16,
        max_iter=2, kmeans_iter=2,
    )
    doc_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"text {i}", i % 4) for i in range(300)],
        "doc_id bigint, text string, shard int",
    ).write.partitionBy("shard").parquet(doc_path)
    edges = spark.createDataFrame([], "id_a long, id_b long")
    rep = forget_documents(
        spark, doc_path, [0], vec_store=None, edges=edges,
        ivf_pq_store=path,
    )
    assert rep["ivf_pq"]["codes"]["deleted"] == 1
    assert rep["ivf_pq"]["vectors"]["deleted"] == 1
    for tier in ("codes", "vectors"):
        left = {
            int(r["vec_id"])
            for r in spark.read.parquet(f"{path}/{tier}").collect()
        }
        assert 0 not in left and len(left) == 299
    q = spark.createDataFrame(
        [(7777, base[0][1])], "qid bigint, embedding array<float>"
    )
    hits = {
        int(r["vec_id"])
        for r in trained_ivf_pq_rerank_topk(
            spark, path, q, topk=5, nprobe=4, shortlist=50
        ).collect()
    }
    assert 0 not in hits and len(hits) == 5
