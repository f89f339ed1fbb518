"""Round-12: the TRAINED-codebook PQ production path (r11 VERDICT
item 3) — OPQ rotation + per-subspace Lloyd codebooks persisted as an
at-rest store (plans.lake build/ensure/read/trained_pq_topk).

Training is not SQL-expressible, so the gate here is (a) numpy parity
of the encode and the ADC scoring, and (b) a recall@k measurement on
the ANISOTROPIC fixture (the corpus property an isotropic synthetic
cannot show), which must beat the formula-codebook recall the r11
OPQ study measured at 0.20."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.similarity import (
    pq_adc_topk,
    pq_train_codebooks,
)
from lofar_bf_pulsar_scripts_spark.plans.lake import (
    ensure_trained_pq_store,
    read_trained_pq_model,
    trained_pq_topk,
)

DIMS, M_SUB, K = 64, 4, 16


def _fixture(n=2000):
    # same anisotropic corpus as tests/test_round11_opq.py
    rng = np.random.default_rng(42)
    spec = 2.0 ** (-np.arange(DIMS) / 6.0)
    z = rng.standard_normal((n, DIMS)) * spec
    q, _ = np.linalg.qr(rng.standard_normal((DIMS, DIMS)))
    return (z @ q.T).astype(np.float32)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    x = _fixture()
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id bigint, embedding array<float>",
    ).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("pq") / "trained_pq")
    ensure_trained_pq_store(
        df, path, dims=DIMS, m_sub=M_SUB, k_codes=K, max_iter=6
    )
    yield x, df, path
    df.unpersist()


def _np_encode(xr, books):
    """numpy replica of pq_encode_trained_batch over rotated vectors."""
    sub = DIMS // M_SUB
    codes = np.zeros((len(xr), M_SUB), dtype=np.int32)
    for m in range(M_SUB):
        seg = xr[:, m * sub:(m + 1) * sub]
        cent = np.asarray(books[m])
        d = ((seg[:, None, :] - cent[None]) ** 2).sum(-1)
        codes[:, m] = d.argmin(1)  # argmin takes the smallest index on ties
    return codes


def test_encode_parity_with_numpy(spark, store):
    x, df, path = store
    w, books = read_trained_pq_model(spark, path)
    xr = x.astype(np.float64) @ np.asarray(w).T
    want = _np_encode(xr, books)
    got_rows = spark.read.parquet(path + "/codes").collect()
    got = {int(r["vec_id"]): list(r["codes"]) for r in got_rows}
    assert len(got) == len(x)
    mism = [
        i for i in range(len(x)) if got[i] != [int(c) for c in want[i]]
    ]
    assert not mism, (mism[:5], got[mism[0]] if mism else None)


def test_adc_parity_with_numpy(spark, store):
    x, df, path = store
    w, books = read_trained_pq_model(spark, path)
    xr = x.astype(np.float64) @ np.asarray(w).T
    codes = _np_encode(xr, books)
    qids = list(range(0, 200, 10))
    queries = df.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = trained_pq_topk(spark, path, queries, topk=5)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r["qid"], []).append((r["vec_id"], r["adc_dist"]))
    sub = DIMS // M_SUB
    for q in qids:
        # numpy ADC: lut distance from rotated query to each code word
        lut = np.zeros((M_SUB, K))
        for m in range(M_SUB):
            seg = xr[q, m * sub:(m + 1) * sub]
            lut[m] = ((np.asarray(books[m]) - seg[None]) ** 2).sum(-1)
        d = lut[np.arange(M_SUB)[None, :], codes].sum(1)
        d[q] = np.inf  # self excluded
        want_ids = np.lexsort((np.arange(len(d)), d))[:5]
        got_ids = [v for v, _ in sorted(got_map[q], key=lambda t: (t[1], t[0]))]
        assert list(want_ids) == got_ids, (q, list(want_ids), got_ids)
        for vid, dist in got_map[q]:
            assert dist == pytest.approx(float(d[vid]), rel=1e-9)


def test_trained_recall_beats_formula_codebook(spark, store):
    """The point of the trained path: on the anisotropic fixture the
    trained-OPQ store's ADC recall@10 vs exact cosine must beat both
    the 0.20 formula-codebook recall (r11 measurement, reproduced
    here on the same corpus) and the formula path run side-by-side."""
    x, df, path = store
    qids = list(range(0, 400, 20))  # 20 queries
    queries = df.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    k = 10
    xd = x.astype(np.float64)
    xn = xd / np.linalg.norm(xd, axis=1, keepdims=True)
    exact = {}
    for q in qids:
        cos = xn @ xn[q]
        cos[q] = -np.inf
        exact[q] = set(np.argsort(-cos)[:k])

    def recall(result):
        per = {}
        for r in result.collect():
            per.setdefault(r["qid"], set()).add(int(r["vec_id"]))
        return float(
            np.mean([len(per.get(q, set()) & exact[q]) / k for q in qids])
        )

    r_trained = recall(trained_pq_topk(spark, path, queries, topk=k))
    r_formula = recall(
        pq_adc_topk(df, queries, DIMS, topk=k, m_sub=M_SUB, k_codes=K)
    )
    # r11 OPQ study: formula-codebook ADC recall ~0.20 on this corpus
    assert r_trained > r_formula, (r_trained, r_formula)
    assert r_trained > 0.20, r_trained


def test_build_tolerates_null_embeddings(spark, tmp_path):
    """NULL-embedding rows are dropped (the ivf_assign contract), not
    a np.stack crash inside the Arrow encode pass."""
    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        build_trained_pq_store,
    )

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(v) for v in rng.standard_normal(DIMS)])
        for i in range(300)
    ] + [(999, None)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    path = str(tmp_path / "pq_null")
    build_trained_pq_store(df, path, dims=DIMS, m_sub=M_SUB, k_codes=K,
                           max_iter=2)
    ids = {
        int(r["vec_id"])
        for r in spark.read.parquet(path + "/codes").collect()
    }
    assert 999 not in ids and len(ids) == 300


def test_store_rejects_indivisible_dims(spark, store):
    _, df, _ = store
    with pytest.raises(ValueError, match="not divisible"):
        pq_train_codebooks(df, DIMS, m_sub=5)


def test_trained_pq_lifecycle_upsert_and_forget(spark, tmp_path):
    """The codes store is lifecycle-complete: a batch upserts through
    the PERSISTED model, and right-to-be-forgotten removes a doc's
    compressed code (the third derived representation) through the
    same touched-partition delete path — untouched pbucket dirs keep
    their files byte-identical."""
    import glob
    import os

    from pyspark.sql import functions as F2

    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        build_trained_pq_store,
        forget_documents,
        trained_pq_topk,
        upsert_trained_pq,
    )

    rng = np.random.default_rng(11)
    base = [
        (int(i), [float(v) for v in rng.standard_normal(DIMS)])
        for i in range(400)
    ]
    df = spark.createDataFrame(base, "vec_id bigint, embedding array<float>")
    pq_path = str(tmp_path / "pq")
    build_trained_pq_store(df, pq_path, dims=DIMS, m_sub=M_SUB, k_codes=K,
                           max_iter=2)
    # upsert a new batch encoded under the persisted model
    batch = spark.createDataFrame(
        [(1000, base[0][1])], "vec_id bigint, embedding array<float>"
    )
    upsert_trained_pq(batch, pq_path)
    codes = spark.read.parquet(pq_path + "/codes")
    row = {int(r["vec_id"]): list(r["codes"]) for r in codes.collect()}
    assert row[1000] == row[0]  # identical vector -> identical code
    # forget id 0 across doc store + pq codes store
    doc_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"text {i}", i % 4) for i in range(400)],
        "doc_id bigint, text string, shard int",
    ).write.partitionBy("shard").parquet(doc_path)
    edges = spark.createDataFrame([], "id_a long, id_b long")
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(pq_path + "/codes/**/*.parquet", recursive=True)
    }
    rep = forget_documents(
        spark, doc_path, [0], vec_store=None, edges=edges,
        pq_store=pq_path,
    )
    assert rep["pq_codes"]["deleted"] == 1
    left = {
        int(r["vec_id"])
        for r in spark.read.parquet(pq_path + "/codes").collect()
    }
    assert 0 not in left and 1000 in left and len(left) == 400
    # the forgotten id answers no ADC probe
    q = spark.createDataFrame(
        [(7777, base[0][1])], "qid bigint, embedding array<float>"
    )
    hits = {
        int(r["vec_id"])
        for r in trained_pq_topk(spark, pq_path, q, topk=5).collect()
    }
    assert 0 not in hits and 1000 in hits
    # untouched pbucket dirs kept their files byte-identical
    touched = {
        f"pbucket={b}" for b in rep["pq_codes"]["shards_rewritten"]
    }
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(pq_path + "/codes/**/*.parquet", recursive=True)
    }
    untouched = [
        f for f in before if not any(t in f for t in touched)
    ]
    assert untouched
    for f in untouched:
        assert f in after and after[f] == before[f]


def test_model_roundtrip_shapes(spark, store):
    _, _, path = store
    w, books = read_trained_pq_model(spark, path)
    assert len(w) == DIMS and all(len(r) == DIMS for r in w)
    assert len(books) == M_SUB
    assert all(len(b) == K for b in books)
    assert all(len(c) == DIMS // M_SUB for b in books for c in b)
