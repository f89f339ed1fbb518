"""Round-9 operators: the L-level IVF routing tree (VERDICT r8
item 3) and the rewritten span-dedup shuffle shape."""
import pytest

from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.similarity import (
    ivf_assign,
    routing_tree_assign,
)
from lofar_bf_pulsar_scripts_spark.tables import load_table


def _axis(axis, a, b, dims=8):
    return [
        (a if i == axis else (b if i == axis + 1 else 0.0))
        for i in range(dims)
    ]


def test_routing_tree_three_levels_matches_flat_on_separated(spark):
    """With well-separated cells at every level, the 3-level route
    equals the flat argmax."""
    l1 = spark.createDataFrame(
        [(0, _axis(0, 1.0, 0.0)), (1, _axis(4, 1.0, 0.0))],
        "g1 long, embedding array<double>",
    )
    l2 = spark.createDataFrame(
        [
            (10, _axis(0, 1.0, 0.5)),
            (11, _axis(0, 1.0, -0.5)),
            (20, _axis(4, 1.0, 0.5)),
        ],
        "g2 long, embedding array<double>",
    )
    fine = spark.createDataFrame(
        [
            (100, _axis(0, 1.0, 0.6)),
            (101, _axis(0, 1.0, 0.4)),
            (110, _axis(0, 1.0, -0.6)),
            (200, _axis(4, 1.0, 0.6)),
        ],
        "cid long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            # argmax is by DOT product: positive second components
            # always favor fine 100 (weight 0.6) over 101 (0.4)
            (0, _axis(0, 2.0, 1.3)),   # -> g1 0, g2 10, fine 100
            (1, _axis(0, 2.0, 0.7)),   # -> fine 100 too
            (2, _axis(0, 2.0, -1.2)),  # -> g2 11, fine 110
            (3, _axis(4, 3.0, 2.0)),   # -> g1 1, fine 200
        ],
        "vec_id long, embedding array<double>",
    )
    l2g = ivf_assign(l2, l1, id_col="g2", centroid_id_col="g1")
    fine_g = ivf_assign(fine, l2, id_col="cid", centroid_id_col="g2")
    got = {
        r["vec_id"]: r["cid"]
        for r in routing_tree_assign(
            corpus, [l1, l2g, fine_g], ["g1", "g2", "cid"]
        ).collect()
    }
    assert got == {0: 100, 1: 100, 2: 110, 3: 200}
    flat = {
        r["vec_id"]: r["cid"] for r in ivf_assign(corpus, fine).collect()
    }
    assert got == flat


def test_assign_overwrites_cell_column_and_drops_null_vectors(spark):
    """Re-assigning an already-assigned frame overwrites its cell
    column instead of adding a second one, at one level (ivf_assign)
    and at two; a NULL vector gets no cell."""
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [(0, [2.0, 0.5], 7), (1, [0.1, 3.0], 7), (2, None, 7)],
        "vec_id long, embedding array<double>, cid long",
    )
    l1 = cents.filter("cid = 0").select(F.col("cid").alias("g1"), "embedding")
    fine_g = ivf_assign(cents, l1, id_col="cid", centroid_id_col="g1")
    for out in (
        ivf_assign(corpus, cents),
        routing_tree_assign(corpus, [l1, fine_g], ["g1", "cid"]),
    ):
        assert out.columns == ["vec_id", "embedding", "cid"]
        assert {r["vec_id"]: r["cid"] for r in out.collect()} == {0: 0, 1: 1}


def test_routing_tree_childless_cells_never_drop_vectors(spark):
    """A level-1 cell with no descendants must receive no traffic —
    every vector still gets an assignment (the ownership
    semi-filter chain)."""
    e = (
        load_table(spark, "embeddings", "/root/testdata/sf0.001")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 400)
    )
    l1 = e.filter(F.pmod("vec_id", F.lit(100)) == 0).select(
        F.col("vec_id").alias("g1"), "embedding"
    )
    l2 = e.filter(F.pmod("vec_id", F.lit(50)) == 0).select(
        F.col("vec_id").alias("g2"), "embedding"
    )
    fine = e.filter(F.pmod("vec_id", F.lit(25)) == 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    l2g = ivf_assign(l2, l1, id_col="g2", centroid_id_col="g1")
    # orphan one mid cell: drop every fine assigned to g2 = 0, so that
    # mid (and possibly its l1 parent) owns nothing
    fine_g = ivf_assign(fine, l2, id_col="cid", centroid_id_col="g2").filter(
        F.col("g2") != 0
    )
    if fine_g.count() == 0:
        pytest.skip("degenerate codebook: all fines in cell 0")
    out = routing_tree_assign(e, [l1, l2g, fine_g], ["g1", "g2", "cid"])
    assert out.count() == e.count()
    assert out.filter(F.col("cid").isNull()).count() == 0
    # every assigned cid is a surviving fine centroid
    valid = {r["cid"] for r in fine_g.select("cid").collect()}
    got = {r["cid"] for r in out.select("cid").distinct().collect()}
    assert got <= valid


def test_realistic_replica_preserves_within_replica_jaccard(tmp_path):
    """scale_probe --docs-mode realistic: the per-replica word rename
    is a bijection on the token alphabet, so within-replica 3-shingle
    Jaccard is EXACTLY the source corpus's and cross-replica Jaccard
    is zero — duplicate density per doc constant as the corpus grows
    (the eleventh-wave measurement's validity rests on this)."""
    import subprocess
    import sys

    import duckdb

    dst = str(tmp_path / "rep")
    subprocess.run(
        [
            sys.executable, "tools/scale_probe.py", "build",
            "--src", "/root/testdata/sf0.001", "--dst", dst,
            "--factor", "3", "--docs-mode", "realistic",
        ],
        check=True, capture_output=True, cwd="/root/repo",
    )
    con = duckdb.connect()
    jac = """
    WITH t AS (
        SELECT doc_id,
               list_distinct([
                   lower(w[i]) || ' ' || lower(w[i+1]) || ' ' || lower(w[i+2])
                   for i in range(1, len(w) - 1)
               ]) AS sh
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
              FROM read_parquet('{p}') WHERE text IS NOT NULL)
        WHERE len(w) >= 3
    )
    SELECT a.doc_id ia, b.doc_id ib,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(list_concat(a.sh, b.sh))) j
    FROM t a JOIN t b ON {cond}
    """
    src = "/root/testdata/sf0.001/documents.parquet"
    n = con.execute(f"SELECT max(doc_id)+1 FROM read_parquet('{src}')").fetchone()[0]
    # source-corpus pairwise Jaccard (first 20 docs for speed)
    base = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            jac.format(p=src, cond="a.doc_id < b.doc_id AND a.doc_id < 20 AND b.doc_id < 20")
        ).fetchall()
    }
    # replica-1 internal pairs must match base exactly
    rep = {
        (r[0] - n, r[1] - n): r[2]
        for r in con.execute(
            jac.format(
                p=f"{dst}/documents.parquet",
                cond=f"a.doc_id < b.doc_id AND a.doc_id >= {n} "
                     f"AND b.doc_id < {n}+20 AND a.doc_id >= {n} AND b.doc_id >= {n}",
            )
        ).fetchall()
    }
    assert base and rep.keys() == base.keys()
    for k in base:
        assert rep[k] == base[k], k
    # cross-replica pairs (same source doc, replicas 0 vs 1) share nothing
    cross = con.execute(
        jac.format(
            p=f"{dst}/documents.parquet",
            cond=f"b.doc_id = a.doc_id + {n} AND a.doc_id < 20",
        )
    ).fetchall()
    assert cross and all(r[2] == 0.0 for r in cross)


def test_streaming_funnel_joins_matches_tracker(spark):
    """The chained-join funnel and the applyInPandasWithState tracker
    compute the same per-step reach sets on a bounded replay."""
    from lofar_bf_pulsar_scripts_spark.registry import (
        q_streaming_funnel_exact,
        q_streaming_funnel_joins_exact,
    )

    sf = "/root/testdata/sf0.001"
    a = {
        (r["step_idx"], r["step"]): (r["n_users"], r["sum_user_id"])
        for r in q_streaming_funnel_exact(spark, sf).collect()
    }
    b = {
        (r["step_idx"], r["step"]): (r["n_users"], r["sum_user_id"])
        for r in q_streaming_funnel_joins_exact(spark, sf).collect()
    }
    assert a == b and len(a) == 3


def test_streaming_funnel_joins_rejects_empty_steps(spark):
    from lofar_bf_pulsar_scripts_spark.streaming.funnel_stream import (
        streaming_funnel_joins,
    )

    with pytest.raises(ValueError):
        streaming_funnel_joins(spark.range(1), [])


def test_routing_tree_validates_args(spark):
    e = load_table(spark, "embeddings", "/root/testdata/sf0.001").limit(4)
    with pytest.raises(ValueError):
        routing_tree_assign(e, [e], ["a", "b"])
    with pytest.raises(ValueError):
        routing_tree_assign(e, [], [])
