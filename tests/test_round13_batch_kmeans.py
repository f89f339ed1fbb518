"""Round-13: Arrow-batched numpy scoring for k-means|| seeding and
Lloyd assignment — the cost that capped the coarse-quantizer size
(SCALE.md waves 16/17).  kmeans_assign scores argmax(2*x.c - |c|^2)
with _np_quantized_scores (per-dim floor((x*y)*scale + 0.5), int64
sums); argmax ties break to the smaller cid, and NULL vectors are
dropped (ivf_assign's contract)."""

import numpy as np
from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.similarity import (
    kmeans_assign,
)

DIMS = 16


def _corpus(spark, n=600, seed=3):
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, DIMS))
    return spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )


def test_assign_parity_including_ties(spark):
    e = _corpus(spark, n=200)
    # duplicate centroids force exact score ties: they must break to
    # the smaller cid, as the plain-numpy argmax below does
    cent_rows = [(0, [0.5] * DIMS), (1, [0.5] * DIMS), (2, [-0.5] * DIMS)]
    cent = spark.createDataFrame(
        cent_rows, "cid int, embedding array<double>"
    )
    rows = e.collect()
    C = np.asarray([v for _, v in cent_rows], dtype=np.float64)
    cc = np.floor(C * C * 1e12 + 0.5).astype(np.int64).sum(-1)
    want = {}
    for r in rows:
        x = np.asarray(r["embedding"], dtype=np.float64)
        xc = np.floor(x[None, :] * C * 1e12 + 0.5).astype(np.int64).sum(-1)
        want[int(r["vec_id"])] = int(np.argmax(2 * xc - cc))  # first max
    got = {
        int(r["vec_id"]): int(r["cid"])
        for r in kmeans_assign(e, cent).collect()
    }
    assert got == want
    assert 1 not in set(got.values())  # ties went to cid 0, never 1


def test_assign_drops_null_vectors(spark):
    e = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid int, embedding array<double>"
    )
    got = {
        int(r["vec_id"]): int(r["cid"])
        for r in kmeans_assign(e, cent).collect()
    }
    assert got == {0: 0, 2: 1}  # the NULL row has no nearest centroid


def test_batch_assign_carries_all_columns_without_shuffle(spark):
    e = _corpus(spark, n=100).withColumn("extra", F.col("vec_id") * 2)
    cent = spark.createDataFrame(
        [(0, [0.5] * DIMS), (1, [-0.5] * DIMS)],
        "cid int, embedding array<double>",
    )
    out = kmeans_assign(e, cent)
    assert set(out.columns) == {"vec_id", "embedding", "extra", "cid"}
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "Exchange" not in buf.getvalue()
