"""Round-14 (VERDICT item 5): incremental upsert for the IVF-pruned
trained-PQ store.  The r13 store could only be rebuilt from scratch —
a nightly corpus batch forced a full retrain+rewrite for what should
be: assign to the PERSISTED centroids, encode with the PERSISTED
model, latest-wins rewrite of the touched cid partitions on BOTH
tiers.  Pins:

  - upsert == a full encode under the SAME persisted model (the
    'modulo centroid staleness' contract: the only drift a rebuild
    adds is retraining the model itself);
  - exhaustive-probe equality with brute force over the merged
    corpus (the correctness property no ingest path may break);
  - latest-wins for re-upserted ids that MOVED cells (the stale-
    duplicate trap: content partitioning means an id's old row can
    live in a partition the new row does not touch);
  - untouched partitions stay byte-identical (touched-partition
    boundedness, the 100 TB property);
  - forget_documents still reaches both tiers after an upsert.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.similarity import (
    brute_force_topk,
    kmeans_assign,
    pq_encode_trained_batch,
)
from lofar_bf_pulsar_scripts_spark.plans.lake import (
    build_trained_ivf_pq_store,

    read_trained_ivf_pq_model,
    trained_ivf_pq_rerank_topk,
    upsert_trained_ivf_pq,
)

N, N_BASE, DIMS, K_CLUSTERS, NC, K = 3000, 2500, 32, 10, 10, 10


def _make_corpus(rng, n, centers, sigma=0.2):
    g = np.arange(n) % len(centers)
    x = centers[g] + sigma * rng.standard_normal((n, DIMS))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x


@pytest.fixture(scope="module")
def upserted(spark, tmp_path_factory):
    rng = np.random.default_rng(99)
    centers = rng.standard_normal((K_CLUSTERS, DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = _make_corpus(rng, N, centers)
    full = spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(N)],
        "vec_id bigint, embedding array<float>",
    ).cache()
    base = full.filter(F.col("vec_id") < N_BASE)
    batch = full.filter(F.col("vec_id") >= N_BASE)
    path = str(tmp_path_factory.mktemp("tivfup") / "tivf_upsert")
    build_trained_ivf_pq_store(
        base, path, dims=DIMS, n_centroids=NC, m_sub=8, k_codes=16,
        max_iter=2, kmeans_iter=2, train_stride=1,
    )
    report = upsert_trained_ivf_pq(batch, path)
    yield full, path, report
    full.unpersist()


def _tier(spark, path, tier):
    return spark.read.parquet(os.path.join(path, tier))


def test_upsert_equals_full_encode_under_same_model(spark, upserted):
    """After the upsert, both tiers at rest must equal what encoding
    the ENTIRE merged corpus under the persisted model yields — the
    upsert's one permitted difference from a rebuild is that a
    rebuild retrains the model (centroid staleness, documented)."""
    full, path, report = upserted
    assert report["upserted"] == N - N_BASE
    w, books, cents, residual = read_trained_ivf_pq_model(spark, path)
    assert residual is False
    cdf = spark.createDataFrame(
        [(c, v) for c, v in cents], "cid int, embedding array<double>"
    )
    assigned = kmeans_assign(
        full, cdf, id_col="vec_id", vec_col="embedding",
    ).localCheckpoint()
    want_vecs = {
        (r["vec_id"], r["cid"])
        for r in assigned.select("vec_id", "cid").collect()
    }
    got_vecs = {
        (r["vec_id"], r["cid"])
        for r in _tier(spark, path, "vectors")
        .select("vec_id", "cid").collect()
    }
    assert got_vecs == want_vecs
    want_codes = {
        (r["vec_id"], tuple(r["codes"]), r["cid"])
        for r in pq_encode_trained_batch(
            assigned, w, books, passthrough=("cid",)
        ).collect()
    }
    got_codes = {
        (r["vec_id"], tuple(r["codes"]), r["cid"])
        for r in _tier(spark, path, "codes").collect()
    }
    assert got_codes == want_codes


def test_upsert_exhaustive_probe_equals_brute_force(spark, upserted):
    full, path, _ = upserted
    q = full.filter(
        F.pmod(F.col("vec_id"), F.lit(N // 8)) == 0
    ).select(F.col("vec_id").alias("qid"), "embedding")
    got = {
        (r["qid"], r["vec_id"], round(r["cos"], 9))
        for r in trained_ivf_pq_rerank_topk(
            spark, path, q, topk=K, nprobe=NC, shortlist=N
        ).collect()
    }
    want = {
        (r["qid"], r["vec_id"], round(r["cos"], 9))
        for r in brute_force_topk(full, q, k=K).collect()
    }
    assert got == want


def test_latest_wins_when_ids_move_cells(spark, tmp_path_factory):
    """Re-upsert 40 existing ids with vectors from a DIFFERENT
    cluster: the id's row must move to its new cid on both tiers with
    exactly one row at rest, the old partition must not keep a stale
    duplicate, and the report must count the movers.  Partitions
    touched by neither the old nor the new cell keep their files
    byte-identical (mtime+size) — the touched-partition bound."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((K_CLUSTERS, DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = _make_corpus(rng, 2000, centers)
    corpus = spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(2000)],
        "vec_id bigint, embedding array<float>",
    )
    path = str(tmp_path_factory.mktemp("tivfmv") / "tivf_move")
    build_trained_ivf_pq_store(
        corpus, path, dims=DIMS, n_centroids=NC, m_sub=8, k_codes=16,
        max_iter=2, kmeans_iter=2, train_stride=1,
    )
    # ids 0..39 currently sit in cluster (id % 10); hand them vectors
    # resampled near OTHER planted centers so most change nearest
    # centroid
    ids = list(range(40))
    moved_g = [(i + 5) % K_CLUSTERS for i in ids]
    newx = centers[moved_g] + 0.05 * rng.standard_normal((40, DIMS))
    newx /= np.linalg.norm(newx, axis=1, keepdims=True)
    old_loc = {
        r["vec_id"]: r["cid"]
        for r in _tier(spark, path, "codes")
        .filter(F.col("vec_id") < 40).select("vec_id", "cid").collect()
    }
    before = {}
    codes_dir = os.path.join(path, "codes")
    for d in os.listdir(codes_dir):
        if d.startswith("cid="):
            full_d = os.path.join(codes_dir, d)
            before[d] = {
                f: os.path.getmtime(os.path.join(full_d, f))
                for f in os.listdir(full_d)
            }
    batch = spark.createDataFrame(
        [
            (int(i), [float(v) for v in newx[j]])
            for j, i in enumerate(ids)
        ],
        "vec_id bigint, embedding array<float>",
    )
    report = upsert_trained_ivf_pq(batch, path)
    assert report["upserted"] == 40
    assert report["moved_ids"] > 0
    for tier in ("codes", "vectors"):
        rows = (
            _tier(spark, path, tier)
            .filter(F.col("vec_id") < 40)
            .groupBy("vec_id")
            .agg(
                F.count("*").alias("n"),
                F.collect_set("cid").alias("cids"),
            )
            .collect()
        )
        assert len(rows) == 40
        assert all(r["n"] == 1 for r in rows), tier
    # total row count unchanged (pure overwrite, no appends-as-dups)
    assert _tier(spark, path, "codes").count() == 2000
    assert _tier(spark, path, "vectors").count() == 2000
    # new cells match a fresh assignment under the persisted model
    w, books, cents, residual = read_trained_ivf_pq_model(spark, path)
    cdf = spark.createDataFrame(
        [(c, v) for c, v in cents], "cid int, embedding array<double>"
    )
    want_cid = {
        r["vec_id"]: r["cid"]
        for r in kmeans_assign(batch, cdf)
        .select("vec_id", "cid").collect()
    }
    got_cid = {
        r["vec_id"]: r["cid"]
        for r in _tier(spark, path, "codes")
        .filter(F.col("vec_id") < 40).select("vec_id", "cid").collect()
    }
    assert got_cid == want_cid
    assert sum(
        1 for i in ids if want_cid[i] != old_loc[i]
    ) == report["moved_ids"]
    # untouched partitions byte-identical
    touched = {f"cid={c}" for c in report["touched_cids"]}
    for d, files in before.items():
        if d in touched:
            continue
        full_d = os.path.join(codes_dir, d)
        now = {
            f: os.path.getmtime(os.path.join(full_d, f))
            for f in os.listdir(full_d)
        }
        assert now == files, d


def test_forget_reaches_both_tiers_after_upsert(spark, upserted):
    """An UPSERTED id must remain forgettable: the tier rewrite the
    forget_documents ivf_pq_store route dispatches to
    (delete_from_shards on codes/ and vectors/ — the exact call at
    forget_documents' ivf_pq branch, pinned end-to-end in
    tests/test_round13_trained_ivf_pq.py) still finds and deletes
    rows the upsert wrote."""
    full, path, _ = upserted
    doomed = [N_BASE + 1, N_BASE + 2, 17]
    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        delete_from_shards,
    )

    for tier in ("codes", "vectors"):
        rep = delete_from_shards(
            spark, os.path.join(path, tier), doomed,
            id_col="vec_id", partition_col="cid",
        )
        assert rep["deleted"] == len(doomed), (tier, rep)
        assert (
            _tier(spark, path, tier)
            .filter(F.col("vec_id").isin(doomed))
            .count()
            == 0
        )
