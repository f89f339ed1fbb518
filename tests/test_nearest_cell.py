"""The one nearest-cell kernel: k-means (quantized L2), IVF (dot) and
routing-tree assignment through the Arrow-batched numpy pass, and the
driver-side IVF probe selection, against a plain-Python reference —
one correctly rounded double operation at a time, the column ``dot``'s
sequential fold and the (score desc, cell id asc) order."""

import math

import pytest
from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.similarity import (
    ivf_assign,
    ivf_topk,
    kmeans_assign,
    routing_tree_assign,
)
from lofar_bf_pulsar_scripts_spark.tables import load_table

SF = "/root/testdata/sf0.001"
DIMS = 8


def _dot(x, c):
    acc = 0.0
    for a, b in zip(x, c):
        acc = acc + float(a) * float(b)
    return acc


def _l2_score(x, c, scale=1e12):
    """2*x.c - |c|^2 with every per-dim product quantized."""
    def q(a, b):
        return math.floor(float(a) * float(b) * scale + 0.5)

    return 2 * sum(q(a, b) for a, b in zip(x, c)) - sum(q(b, b) for b in c)


def _best(x, cells, score):
    """Cell id of the best (score desc, id asc) of ``cells`` {id: vec}."""
    return min(cells, key=lambda i: (-score(x, cells[i]), i))


@pytest.fixture(scope="module")
def corpus(spark):
    """sf0.001 embeddings cut to DIMS dims, plus the rows no cell may
    take: a NULL vector, a short one and one with a NULL element."""
    e = load_table(spark, "embeddings", SF).select(
        "vec_id", F.slice("embedding", 1, DIMS).alias("embedding")
    )
    bad = spark.createDataFrame(
        [(-1, None), (-2, [0.5] * (DIMS - 1)), (-3, [0.5, None] * (DIMS // 2))],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: list(r["embedding"]) for r in e.collect()}
    return e.union(bad), rows


def _cells(rows, ids):
    return {i: rows[i] for i in ids}


def _table(spark, cells, id_col, parents=None, parent_col=None):
    return spark.createDataFrame(
        [
            (i, [float(v) for v in vec]) + ((parents[i],) if parents else ())
            for i, vec in cells.items()
        ],
        f"{id_col} long, embedding array<double>"
        + (f", {parent_col} long" if parents else ""),
    )


def test_flat_assignment_matches_reference_with_ties(spark, corpus):
    """ivf_assign (dot) and kmeans_assign (quantized L2) over 8 cells,
    two of them identical so the tie must go to the smaller id, at 1
    and 7 partitions; the NULL, short and NULL-element rows get none."""
    df, rows = corpus
    cells = _cells(rows, range(8))
    cells[100] = cells[3]  # a tie: 3 must win it
    cents = _table(spark, cells, "cid")
    for assign, score in ((ivf_assign, _dot), (kmeans_assign, _l2_score)):
        want = {v: _best(x, cells, score) for v, x in rows.items()}
        assert 100 not in set(want.values())
        for n in (1, 7):
            got = {
                r["vec_id"]: r["cid"]
                for r in assign(df.repartition(n), cents).collect()
            }
            assert got == want, (assign.__name__, n)


def test_three_level_tree_matches_reference_with_ties(spark, corpus):
    """A 3-level routing tree with explicit parents, a tie at every
    level and a top cell that owns no leaf (it must get no traffic),
    against the reference route, at 1 and 7 partitions."""
    df, rows = corpus
    l1 = _cells(rows, [0, 1, 2, 3])  # 3 has no children
    l1[50] = l1[1]  # tie with 1, which must win it
    l2 = _cells(rows, [10, 11, 12, 13, 14, 15])  # 15 owns no leaf
    l2[60] = l2[11]  # tie with its sibling 11
    l2[61] = rows[16]
    p2 = {10: 0, 11: 1, 12: 1, 13: 2, 14: 2, 15: 0, 60: 1, 61: 50}
    fine = _cells(rows, range(20, 40))
    fine[70] = fine[25]  # tie with its sibling 25
    fine[71] = rows[41]
    p3 = {c: 10 + c % 5 for c in range(20, 40)}
    p3.update({70: p3[25], 71: 61})
    owned2 = set(p3[c] for c in fine)
    owned1 = {p2[g] for g in l2 if g in owned2}

    def route(x):
        g1 = _best(x, {i: l1[i] for i in l1 if i in owned1}, _dot)
        g2 = _best(
            x, {i: l2[i] for i in l2 if p2[i] == g1 and i in owned2}, _dot
        )
        return _best(x, {i: fine[i] for i in fine if p3[i] == g2}, _dot)

    want = {v: route(x) for v, x in rows.items()}
    levels = [
        _table(spark, l1, "g1"),
        _table(spark, l2, "g2", p2, "g1"),
        _table(spark, fine, "cid", p3, "g2"),
    ]
    for n in (1, 7):
        got = {
            r["vec_id"]: r["cid"]
            for r in routing_tree_assign(
                df.repartition(n), levels, ["g1", "g2", "cid"]
            ).collect()
        }
        assert got == want, n


def test_ivf_topk_unusable_query_vectors_probe_nothing(spark):
    """Queries whose vector is NULL, short or has a NULL element are
    absent from ivf_topk's output; every other query gets k rows with
    the cosines of its nprobe best cells' members."""
    e = load_table(spark, "embeddings", SF).select("vec_id", "embedding")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    good = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 11)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    dims = len(good.first()["embedding"])
    bad = spark.createDataFrame(
        [(-1, None), (-2, [0.5] * (dims - 1)), (-3, [0.5, None] * (dims // 2))],
        "qid long, embedding array<float>",
    )
    out = ivf_topk(ivf_assign(e, cent), good.union(bad), cent, k=5, nprobe=2)
    rows = out.collect()
    assert sorted({r["qid"] for r in rows}) == [8, 9, 10]
    assert len(rows) == 15 and all(r["cos"] is not None for r in rows)
