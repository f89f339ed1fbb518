"""vector_lake: an at-rest ANN store over seeded clustered 64-d vectors.

Once per run the base corpus is assigned to its nearest centre and
written as a cid-partitioned embedding store (the IVF layout).  Each
pass ingests one batch (upsert by centroid, then latest-wins
compaction) and probes one query set through an nprobe-pruned IVF
probe of the store.  A numpy model of the store's live contents is
kept beside it and every answer is checked against exact numpy
search.

The trained IVF-PQ and the LSH signature stores are left out to fit
the benchmark's time budget (README).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from harness import Workload, median
from metrics import BATCH, EAGER

DIMS = 64
N_BASE = 1000
N_CLUSTERS = 16
SPREAD = 0.35            # norm of each vector's noise around its centre
N_NEW, N_UPDATE = 100, 50
N_QUERIES, TOPK = 16, 10
NPROBE = 4
QID_BASE = 1 << 40       # query ids never collide with vector ids
# recall floor of the IVF probe at NPROBE; the exhaustive IVF probe
# (every cell) must be exact
IVF_RECALL_FLOOR = 0.5


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _vectors_table(ids, vecs, ver=None) -> pa.Table:
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
    }
    if ver is not None:
        cols["ver"] = pa.array(np.full(len(ids), ver), pa.int64())
    return pa.table(cols)


def exact_topk(live: dict, q: np.ndarray, k: int):
    """(ids, cosines) of the k live vectors nearest to q, exact, ties
    to the smaller id."""
    ids = np.fromiter(live.keys(), np.int64, len(live))
    mat = np.stack([live[i] for i in ids]).astype(np.float64)
    q = q.astype(np.float64)
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))[:k]
    return ids[order], cos[order]


def _cos(v: np.ndarray, q: np.ndarray) -> float:
    v, q = v.astype(np.float64), q.astype(np.float64)
    return float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))


def _by_query(rows) -> dict[int, list]:
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r["qid"] - QID_BASE, []).append(r)
    return per_q


def _read_store(path: str) -> pa.Table:
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table()


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class VectorLake(Workload):
    name = "vector_lake"
    # the build, upsert and compaction are eager: their whole cost is
    # in build_s, so they report no exec_s
    calls = [(f"plans.lake.{c}", EAGER) for c in (
        "write_embeddings_by_centroid", "upsert_embeddings_by_centroid",
        "compact_keep_latest")] + [
        ("operators.similarity.ivf_topk", BATCH)]
    extra = [
        ("lake.build_s", "s", "lower"),
        ("lake.ingest_s", "s", "lower"),
        ("lake.probe_s", "s", "lower"),
        ("lake.store_bytes_per_input_byte", "B/B", "lower"),
        ("operators.similarity.ivf_topk.recall_at_k", "ratio", "higher"),
    ]

    def prepare(self, run) -> None:
        rng = np.random.default_rng([run.seed, 2])
        self.centres = _unit(rng.standard_normal((N_CLUSTERS, DIMS)))
        ids = np.arange(N_BASE, dtype=np.int64)
        vecs = self._around(rng, rng.integers(0, N_CLUSTERS, N_BASE))
        self.base_dir = run.path("base")
        os.makedirs(self.base_dir, exist_ok=True)
        for n, part in enumerate(np.array_split(ids, 4)):
            pq.write_table(_vectors_table(part, vecs[part], ver=0),
                           os.path.join(self.base_dir, f"part{n}.parquet"))
        self.base = {int(i): vecs[i] for i in ids}
        self.cid_live = dict(self.base)            # cid store
        self.next_id = N_BASE
        self.ingested_vectors = N_BASE
        self.cid_path = run.path("stores", "by_cid")

    def _around(self, rng, cluster: np.ndarray) -> np.ndarray:
        noise = (rng.standard_normal((cluster.size, DIMS))
                 * SPREAD / np.sqrt(DIMS))
        return _unit(self.centres[cluster] + noise).astype(np.float32)

    def build(self, run) -> None:
        from lofar_bf_pulsar_scripts_spark.operators.similarity import (
            ivf_assign)
        from lofar_bf_pulsar_scripts_spark.plans.lake import (
            write_embeddings_by_centroid)

        spark = run.spark
        base = spark.read.parquet(self.base_dir)
        self.cents_df = spark.createDataFrame(
            [(c, [float(x) for x in v]) for c, v in enumerate(self.centres)],
            "cid int, embedding array<double>",
        )

        def assign_check(_):
            t = _read_store(self.cid_path)
            ids = t.column("vec_id").to_numpy()
            mat = np.stack([self.base[int(i)] for i in ids])
            want = np.argmax(mat.astype(np.float64) @ self.centres.T, axis=1)
            if sorted(ids.tolist()) != sorted(self.base):
                return "the cid store does not hold every base id once"
            if not np.array_equal(t.column("cid").to_numpy(), want):
                return "cid store assignment differs from numpy argmax"
            return None

        run.op("plans.lake.write_embeddings_by_centroid",
               lambda: write_embeddings_by_centroid(
                   ivf_assign(base, self.cents_df), self.cid_path),
               check=assign_check, once=True)

    def stage(self, run, i: int) -> dict:
        rng = np.random.default_rng([run.seed, 2, i])
        new_ids = np.arange(self.next_id, self.next_id + N_NEW)
        self.next_id += N_NEW
        live = np.array(sorted(self.cid_live), dtype=np.int64)
        upd = rng.choice(live, N_UPDATE, replace=False)
        ids = np.concatenate([new_ids, upd])
        vecs = self._around(rng, rng.integers(0, N_CLUSTERS, ids.size))
        bdir = run.path(f"pass{i}", "batch")
        os.makedirs(bdir, exist_ok=True)
        pq.write_table(_vectors_table(ids, vecs, ver=i + 1),
                       os.path.join(bdir, "batch.parquet"))
        qvecs = self._around(rng, rng.integers(0, N_CLUSTERS, N_QUERIES))
        qdir = run.path(f"pass{i}", "queries")
        os.makedirs(qdir, exist_ok=True)
        qt = _vectors_table(QID_BASE + np.arange(N_QUERIES), qvecs)
        pq.write_table(qt.rename_columns(["qid", "embedding"]),
                       os.path.join(qdir, "queries.parquet"))
        return {"batch_dir": bdir, "ids": ids, "vecs": vecs,
                "query_dir": qdir, "qvecs": qvecs}

    def run_pass(self, run, i: int, inp: dict) -> None:
        from lofar_bf_pulsar_scripts_spark.operators.similarity import (
            ivf_topk)
        from lofar_bf_pulsar_scripts_spark.plans.lake import (
            compact_keep_latest, upsert_embeddings_by_centroid)

        spark = run.spark
        batch = spark.read.parquet(inp["batch_dir"])
        n_batch = len(inp["ids"])

        run.op("plans.lake.upsert_embeddings_by_centroid",
               lambda: upsert_embeddings_by_centroid(
                   batch, self.cid_path, self.cents_df))
        self.cid_live.update(zip(inp["ids"].tolist(), inp["vecs"]))
        self.ingested_vectors += n_batch

        def compact_check(r):
            if r["rows_removed"] != N_UPDATE:
                return f"compaction removed {r['rows_removed']} rows"
            t = _read_store(self.cid_path)
            ids = t.column("vec_id").to_numpy()
            if len(ids) != len(set(ids.tolist())):
                return "an id has more than one row after compaction"
            if set(ids.tolist()) != set(self.cid_live):
                return "cid store ids differ from the live set"
            emb = t.column("embedding").to_pylist()
            for vid, v in zip(ids.tolist(), emb):
                if not np.array_equal(np.asarray(v, np.float32),
                                      self.cid_live[vid]):
                    return f"id {vid} does not hold its last upsert"
            return None

        run.op(
            "plans.lake.compact_keep_latest",
            lambda: compact_keep_latest(spark, self.cid_path, "vec_id",
                                        "ver", partition_col="cid"),
            check=compact_check,
        )

        # the probe's cosines must be exact for the ids it returns; its
        # recall is recorded against numpy's exact top-k
        live, qvecs, rec = self.cid_live, inp["qvecs"], {}

        def probe_check(rows):
            per_q = _by_query(rows)
            hits = 0
            for q, qv in enumerate(qvecs):
                got = per_q.get(q, [])
                if len(got) > TOPK:
                    return "the probe returned more than k rows"
                for r in got:
                    if r["vec_id"] not in live:
                        return f"the probe returned a dead id {r['vec_id']}"
                    if abs(r["cos"] - _cos(live[r["vec_id"]], qv)) > 1e-6:
                        return "a probe cosine differs from numpy"
                want, _ = exact_topk(live, qv, TOPK)
                hits += len(set(want.tolist())
                            & {r["vec_id"] for r in got})
            rec["recall_at_k"] = hits / (TOPK * len(qvecs))
            return None

        run.op("operators.similarity.ivf_topk",
               lambda: ivf_topk(spark.read.parquet(self.cid_path),
                                spark.read.parquet(inp["query_dir"]),
                                self.cents_df, k=TOPK, nprobe=NPROBE),
               lambda df: df.collect(), probe_check)
        run.pass_ops[i]["operators.similarity.ivf_topk"].update(rec)

    def finish(self, run, warm) -> None:
        """Exhaustive IVF probe (every cell): its cosines must equal
        numpy's exact top-k over the live store; every pass's probes
        must keep their recall floors."""
        from lofar_bf_pulsar_scripts_spark.operators.similarity import (
            ivf_topk)

        spark = run.spark
        qdir = run.path("exhaustive", "queries")
        os.makedirs(qdir, exist_ok=True)
        rng = np.random.default_rng([run.seed, 2, 1 << 20])
        qvecs = self._around(rng, rng.integers(0, N_CLUSTERS, N_QUERIES))
        qt = _vectors_table(QID_BASE + np.arange(N_QUERIES), qvecs)
        pq.write_table(qt.rename_columns(["qid", "embedding"]),
                       os.path.join(qdir, "q.parquet"))

        def check(rows):
            per_q = _by_query(rows)
            for q, qv in enumerate(qvecs):
                _, want_cos = exact_topk(self.cid_live, qv, TOPK)
                got = per_q.get(q, [])
                cos = sorted((r["cos"] for r in got), reverse=True)
                # the store holds float32 vectors, numpy scores them in
                # float64: equal within float32 rounding
                if len(cos) != TOPK or not np.allclose(
                        cos, want_cos, rtol=0, atol=1e-6):
                    return (f"exhaustive probe of query {q} differs from "
                            f"numpy's exact top-k")
            return None

        run.op("exhaustive_probe",
               lambda: ivf_topk(spark.read.parquet(self.cid_path),
                                spark.read.parquet(qdir), self.cents_df,
                                k=TOPK, nprobe=N_CLUSTERS),
               lambda df: df.collect(), check, once=True)

        def recall_check(_):
            for i, ops in run.pass_ops.items():
                r = ops.get("operators.similarity.ivf_topk", {})
                if r.get("ok") and r["recall_at_k"] < IVF_RECALL_FLOOR:
                    return (f"pass {i}: IVF recall {r['recall_at_k']:.3f} "
                            f"below {IVF_RECALL_FLOOR}")
            return None

        run.op("recall_floor", lambda: None, check=recall_check, once=True)
        run.extra["lake.store_bytes_per_input_byte"] = _dir_bytes(
            self.cid_path) / (self.ingested_vectors * DIMS * 4)

        self._phases(run, warm)

    def _phases(self, run, warm) -> None:
        """Whole-phase figures: the build once, ingest and probe as the
        median over warm passes, recall as the median over warm
        passes."""
        def phase(names):
            return median([
                sum(run.pass_ops[i][n]["build_s"]
                    + run.pass_ops[i][n]["exec_s"] for n in names)
                for i in warm])

        run.extra["lake.build_s"] = sum(
            r["build_s"] for n, r in run.once_ops.items()
            if n.startswith("plans.lake."))
        run.extra["lake.ingest_s"] = phase([
            f"plans.lake.{n}" for n in (
                "upsert_embeddings_by_centroid", "compact_keep_latest")])
        probe = "operators.similarity.ivf_topk"
        run.extra["lake.probe_s"] = phase([probe])
        run.extra[f"{probe}.recall_at_k"] = median([
            run.pass_ops[i][probe].get("recall_at_k", 0.0) for i in warm])
