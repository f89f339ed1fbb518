"""Lakehouse layout utilities (SURVEY §4 partition-pruning analog,
SCALE.md "Data layout").

The reference prunes work with filename-grammar filters BEFORE
downloading (/root/reference/LTA/lta-retrieve.py:444-455) and
processes one subband file at a time (/root/reference/subdyn.py:
410-471). The lakehouse equivalents:

* write_observation_partitioned — Hive-style obs_id/sap/tab/part
  directories so P5/P6 filters become partition pruning (zero data
  touched for excluded partitions — verified via the plan's
  PartitionFilters in tests).
* write_cube_bucketed — the D3 archive cube bucketed by (subint,
  chan): every scrunch/Q-Q/sigma-clip groupBy on those keys is then
  shuffle-free (bucketed scan reports the output partitioning to
  Catalyst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

# Rule-2 geometry default for every at-rest store this module writes:
# 16 MB row groups keep a zero-shuffle consumer's scan parallelism at
# the file's group count instead of 1 (SCALING-RULES rule 2;
# write_scan_parallel below is the general-purpose writer, the store
# writers inline the same option because they also Hive-partition).
STORE_ROWGROUP_BYTES = 16 * 1024 * 1024


def write_observation_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("obs_id", "sap", "tab", "part"),
) -> None:
    (
        df.write.mode("overwrite")
        .option("parquet.block.size", STORE_ROWGROUP_BYTES)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_observation(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_cube_bucketed(
    df: DataFrame,
    table_name: str,
    buckets: int = 32,
    bucket_cols: tuple[str, ...] = ("subint", "chan"),
) -> None:
    """Bucketed managed table (bucketBy requires saveAsTable)."""
    (
        df.write.mode("overwrite")
        .option("parquet.block.size", STORE_ROWGROUP_BYTES)
        .bucketBy(buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )


def explain_string(df: DataFrame) -> str:
    """Formatted physical plan as a string (for pruning assertions)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _store_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for a store path through the Hadoop
    FileSystem API — the only existence/delete/rename spelling that
    holds for URI-form paths (file://, hdfs://, s3a://).  Driver-local
    os.path/shutil on those silently reads False, rebuilds the store
    on every call, and then fails in os.replace only AFTER the
    expensive build (round-12 ADVICE)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _store_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _store_fs(spark, path)
    return bool(fs.exists(hpath))


def _remove_store_dir(spark: SparkSession, path: str) -> None:
    """Recursive delete through the FileSystem API, loud on a failure
    reported by return value (some implementations never throw)."""
    fs, hpath = _store_fs(spark, path)
    if fs.exists(hpath) and not fs.delete(hpath, True):
        raise RuntimeError(f"failed to remove store directory {path}")


def _build_store_once(
    spark: SparkSession, path: str, build, marker: str = "_SUCCESS"
) -> str:
    """The first-build-wins protocol of every ``ensure_*``: unless
    ``path/marker`` exists, ``build(tmp)`` writes the store into a
    fresh tmp dir, which is then promoted over the store path: delete
    any stale target, then rename.  Atomic on HDFS/local (one namenode
    op / one rename(2)); on S3A rename is a copy and the protocol
    additionally needs an external build lock — callers on object
    stores should build once from one job.  Returns ``path``."""
    if _store_exists(spark, path.rstrip("/") + "/" + marker):
        return path
    tmp = path.rstrip("/") + ".tmp"
    _remove_store_dir(spark, tmp)
    build(tmp)
    fs, hpath = _store_fs(spark, path)
    tpath = spark._jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(hpath) and not fs.delete(hpath, True):
        raise RuntimeError(f"failed to remove stale store at {path}")
    if not fs.rename(tpath, hpath):
        raise RuntimeError(f"failed to promote {tmp} into {path}")
    return path


def write_embeddings_by_centroid(
    assigned: DataFrame,
    path: str,
    centroid_col: str = "cid",
    mode: str = "overwrite",
) -> None:
    """IVF-ready on-disk layout: embeddings Hive-partitioned by their
    assigned centroid, so an nprobe-pruned query touches only the
    probed centroids' directories (PartitionFilters, zero IO for the
    rest) — the disk half of similarity.ivf_topk's scale story.

    The repartition on the centroid key is load-bearing at scale:
    without it every write task opens a file in every partition
    directory it sees, so a k-proportional-to-N codebook (k in the
    thousands) times T tasks emits T x k tiny files (measured: the
    100x probe's 3125-cid store write dominated its ingest).  With
    it, each cid's rows land in one task -> one file per directory,
    and AQE coalesces small shuffle partitions first."""
    assigned.repartition(F.col(centroid_col)).write.mode(
        mode
    ).option("parquet.block.size", STORE_ROWGROUP_BYTES).partitionBy(
        centroid_col
    ).parquet(path)


def ensure_embeddings_by_centroid(
    assigned: DataFrame,
    path: str,
    centroid_col: str = "cid",
) -> str:
    """Build the cid-partitioned embedding/assignment store once
    (atomic tmp+rename, same protocol as ensure_pq_codes); later
    calls are a no-op. This is the at-rest assignment SemDeDup and
    IVF probes share: the kmeans/ivf assign is paid once at ingest,
    every downstream consumer gets a partition-prunable scan."""
    return _build_store_once(
        assigned.sparkSession, path,
        lambda tmp: write_embeddings_by_centroid(
            assigned, tmp, centroid_col
        ),
    )


def read_probed_centroids(
    spark: SparkSession,
    path: str,
    cids: list[int],
    centroid_col: str = "cid",
) -> DataFrame:
    """Partition-pruned scan of the probed centroid buckets."""
    df = spark.read.parquet(path)
    return df.filter(df[centroid_col].isin([int(c) for c in cids]))


def write_lsh_signatures(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_bits: int = 6,
    dims: int = 64,
) -> None:
    """At-rest LSH signature store: (id, tbl, bkt) rows — the
    ``_np_sign_lsh`` buckets from one map-only Arrow-batched pass —
    Hive-partitioned by (tbl, bkt): a probe of one (table, bucket)
    pair is a partition-pruned scan (PartitionFilters, zero IO
    elsewhere), the sign-LSH mirror of the IVF layout above.  Vectors
    that are not exactly ``dims`` long are left out."""
    from ..operators.similarity import _with_lsh_buckets

    sig = _with_lsh_buckets(
        df.select(id_col, vec_col), vec_col, n_tables, n_bits, dims, 1e6
    ).select(id_col, F.posexplode("__sig").alias("tbl", "bkt"))
    sig.write.mode("overwrite").option(
        "parquet.block.size", STORE_ROWGROUP_BYTES
    ).partitionBy("tbl", "bkt").parquet(path)


def read_lsh_bucket(
    spark: SparkSession,
    path: str,
    tbl: int,
    bkt: int,
) -> DataFrame:
    """Partition-pruned scan of one LSH (table, bucket) directory."""
    df = spark.read.parquet(path)
    return df.filter((df["tbl"] == int(tbl)) & (df["bkt"] == int(bkt)))


def ensure_lsh_signatures(
    corpus: DataFrame,
    path: str,
    **kwargs,
) -> str:
    """Build the at-rest LSH signature store once (atomic: write to a
    tmp dir, rename into place); later calls are a no-op. Returns the
    path."""
    return _build_store_once(
        corpus.sparkSession, path,
        lambda tmp: write_lsh_signatures(corpus, tmp, **kwargs),
    )


def write_minhash_bands(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_k: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> None:
    """At-rest MinHash band store for the documents corpus: (id, band,
    bucket) rows — the text-dedup mirror of the sign-LSH signature
    store above.  The corpus is minhashed ONCE at ingest; every later
    incremental batch probe (``dedup.incremental_near_dup``) reads
    these integer band keys instead of re-shingling 100 TB of text —
    the store is ~4 short rows per document, orders of magnitude
    smaller than the corpus it indexes."""
    from ..operators.dedup import lsh_buckets, minhash_signature

    sigs = minhash_signature(
        docs, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, shingle_k=shingle_k,
    )
    lsh_buckets(
        sigs, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    ).write.mode("overwrite").option(
        "parquet.block.size", STORE_ROWGROUP_BYTES
    ).parquet(path)


def ensure_minhash_bands(
    docs: DataFrame,
    path: str,
    **kwargs,
) -> str:
    """Build the at-rest MinHash band store once (atomic tmp-dir
    rename, first build wins); later calls are a no-op."""
    return _build_store_once(
        docs.sparkSession, path,
        lambda tmp: write_minhash_bands(docs, tmp, **kwargs),
    )


def build_trained_pq_store(
    corpus: DataFrame,
    path: str,
    dims: int,
    m_sub: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: float = 1e3,
    max_iter: int = 10,
    train_stride: int | str = 1,
) -> str:
    """The TRAINED product-quantization store — the production recall
    path (round-11 VERDICT item 3), complementing the hash-gated
    formula-codebook ensure_pq_codes: one ingest-time pipeline
    computes the corpus Gram (exact-integer, one exchange), derives
    the OPQ rotation (eigenvalue-allocated PCA — balanced per-subspace
    information, similarity.opq_rotation), projects map-side, trains
    per-subspace Lloyd codebooks (similarity.pq_train_codebooks), and
    persists

      path/codes : (id, codes array<int>) — m_sub bytes-ish per
                   vector, rowgroup-disciplined;
      path/model : the rotation rows (kind='rotation', m=component)
                   and codebook rows (kind='codebook', m=subspace,
                   c=code) — model-sized, one file.

    Probes MUST go through trained_pq_topk, which re-reads the
    persisted model so queries are rotated and LUT'd against the
    exact codebooks the codes were encoded with — re-deriving either
    at probe time is how a store silently answers with the wrong
    geometry.  Verified by numpy parity + an anisotropic-fixture
    recall gate (tests/test_round12_trained_pq.py); the r11 OPQ
    fixture measured trained codebooks at 2,133 total distortion vs
    4,872 raw where the formula codebook cannot exploit decorrelation.
    """
    from ..operators.similarity import pq_encode_trained_batch

    spark = corpus.sparkSession
    # NULL embeddings have no code (the ivf_assign / gram_matrix
    # contract): unfiltered they crash the numpy encode's np.stack
    # and poison the training slice with NULL components
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    w, books = _train_pq_model(
        corpus, dims, m_sub=m_sub, k_codes=k_codes, id_col=id_col,
        vec_col=vec_col, quant_scale=quant_scale, max_iter=max_iter,
        train_stride=train_stride,
    )
    codes = pq_encode_trained_batch(
        corpus, w, books, id_col=id_col, vec_col=vec_col
    ).withColumn("pbucket", _pq_codes_bucket(id_col))
    (
        codes.repartition(F.col("pbucket"))
        .write.mode("overwrite")
        .option("parquet.block.size", STORE_ROWGROUP_BYTES)
        .partitionBy("pbucket")
        .parquet(path.rstrip("/") + "/codes")
    )
    _write_pq_model(spark, path, w, books)
    return path


def _train_pq_model(
    corpus: DataFrame,
    dims: int,
    m_sub: int,
    k_codes: int,
    id_col: str,
    vec_col: str,
    quant_scale: float,
    max_iter: int,
    train_stride: int | str,
) -> tuple[list, list]:
    """(OPQ rotation, Lloyd codebooks) trained on the (already
    NULL-filtered) corpus — the shared model-fitting half of
    build_trained_pq_store and build_trained_ivf_pq_store."""
    from ..operators.similarity import (
        gram_matrix,
        opq_rotation,
        pca_project,
        pq_train_codebooks,
    )

    g = gram_matrix(
        corpus, dims=dims, vec_col=vec_col, quant_scale=quant_scale
    ).collect()
    w = opq_rotation(g, dims=dims, m_sub=m_sub, quant_scale=quant_scale)
    if train_stride == "auto":
        # ~4k training rows; resolved HERE (the one build) so ensure_
        # callers don't pay a corpus count to parameterize a no-op
        train_stride = max(1, corpus.count() // 4000)
    # Lloyd's makes MANY passes (seeding rounds + iterations, per
    # subspace) — rotate and materialize the training slice ONCE
    # (``train_stride`` > 1 subsamples it, the standard codebook
    # practice — the codebook is a model, not a sketch); the full
    # corpus is rotated+encoded in ONE Arrow-batched numpy pass by
    # the caller.
    rotated_train = pca_project(
        corpus
        if int(train_stride) <= 1
        else corpus.filter(
            F.pmod(F.col(id_col), F.lit(int(train_stride))) == 0
        ),
        w, vec_col=vec_col, out_col="__rot",
    ).select(F.col(id_col), F.col("__rot").alias(vec_col)).localCheckpoint()
    books = pq_train_codebooks(
        rotated_train, dims, m_sub=m_sub, k_codes=k_codes,
        id_col=id_col, vec_col=vec_col, max_iter=max_iter,
    )
    return w, books


def _write_pq_model(
    spark: SparkSession,
    path: str,
    w: list,
    books: list,
    centroids: list | None = None,
    residual: bool | None = None,
) -> None:
    """Persist the trained model as one model-sized parquet file:
    rotation rows (kind='rotation', m=component), codebook rows
    (kind='codebook', m=subspace, c=code), and — for the IVF-pruned
    layout — coarse centroid rows (kind='centroid', m=cid) plus a
    (kind='residual', m=0|1) flag recording whether the codes encode
    x or x - centroid[cid]; the probe MUST honor it (a raw-coded
    query LUT against residual codes answers with the wrong
    geometry)."""
    model_rows = [
        ("rotation", i, 0, [float(v) for v in row])
        for i, row in enumerate(w)
    ] + [
        ("codebook", m, c, [float(v) for v in books[m][c]])
        for m in range(len(books))
        for c in range(len(books[m]))
    ] + [
        ("centroid", int(cid), 0, [float(v) for v in vec])
        for cid, vec in (centroids or [])
    ] + (
        [("residual", int(bool(residual)), 0, [])]
        if residual is not None else []
    )
    spark.createDataFrame(
        model_rows, "kind string, m int, c int, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        path.rstrip("/") + "/model"
    )


def _pq_codes_bucket(id_col: str, n_buckets: int = 64):
    """The trained-PQ codes store's id-hash partition expression —
    spec-stable xxhash64 (same rationale as the components store's
    cbucket), so right-to-be-forgotten deletes and batch upserts
    touch only the buckets holding the affected ids instead of
    rewriting the whole codes store."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(n_buckets))).cast(
        "int"
    )


def upsert_trained_pq(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest into the trained-PQ codes store: encode the
    batch with the PERSISTED model (rotation + codebooks — encoding a
    batch under a retrained model would mix geometries in one store)
    and fold it into its id-hash bucket directories LATEST-WINS: the
    touched buckets (bounded by min(|batch|, n_buckets) — the
    delete_from_shards discipline) are rewritten with the batch's ids
    anti-joined out first, so a re-upserted id has exactly ONE code
    row at rest and trained_pq_topk stays a pure scan with a full
    effective k (a round-12 ADVICE fix: the old append form returned
    the same vec_id multiple times inside top-k).  Batch ids must be
    unique — two rows for one id in a single batch have no defined
    winner, the keyed-store upsert contract.  Periodically retrain +
    rebuild when the corpus distribution drifts (the codebook is a
    model); between rebuilds, upsert."""
    spark = batch.sparkSession
    from ..operators.similarity import pq_encode_trained_batch

    w, books = read_trained_pq_model(spark, path)
    codes_path = path.rstrip("/") + "/codes"
    enc = pq_encode_trained_batch(
        batch.filter(F.col(vec_col).isNotNull()),
        w, books, id_col=id_col, vec_col=vec_col,
    ).withColumn("pbucket", _pq_codes_bucket(id_col))
    touched = sorted(
        int(r["pbucket"])
        for r in enc.select("pbucket").distinct().collect()
    )
    if not touched:
        return
    existing = spark.read.parquet(codes_path).filter(
        F.col("pbucket").isin(touched)
    )
    batch_ids = F.broadcast(enc.select(F.col(id_col)).distinct())
    # Eager localCheckpoint: the write below REPLACES files this plan
    # reads — a task/stage recompute after the overwrite commit would
    # otherwise re-read deleted code files (the delete_from_shards /
    # merge_components_store discipline; bounded by the touched
    # buckets).
    survivors = existing.join(
        batch_ids, on=id_col, how="left_anti"
    ).select(id_col, "codes", "pbucket").unionByName(
        enc.select(id_col, "codes", "pbucket")
    ).localCheckpoint()
    _overwrite_touched_partitions(
        spark, codes_path, survivors, touched, "pbucket"
    )


def ensure_trained_pq_store(corpus: DataFrame, path: str, **kwargs) -> str:
    """Build the trained PQ store once (atomic tmp-dir rename, first
    build wins); later calls are a no-op."""
    return _build_store_once(
        corpus.sparkSession, path,
        lambda tmp: build_trained_pq_store(corpus, tmp, **kwargs),
        marker="model/_SUCCESS",
    )


def read_trained_pq_model(
    spark: SparkSession, path: str
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """(rotation, codebooks) from the store's model file — driver-side
    model-sized lists ready to re-embed as plan literals."""
    import os

    rows = spark.read.parquet(os.path.join(path, "model")).collect()
    rot = sorted(
        ((int(r["m"]), [float(v) for v in r["vec"]]) for r in rows
         if r["kind"] == "rotation")
    )
    cb = {}
    for r in rows:
        if r["kind"] == "codebook":
            cb[(int(r["m"]), int(r["c"]))] = [float(v) for v in r["vec"]]
    m_sub = 1 + max(m for m, _ in cb)
    k = 1 + max(c for _, c in cb)
    books = [[cb[(m, c)] for c in range(k)] for m in range(m_sub)]
    return [v for _, v in rot], books


def _pq_lut(books, rv) -> list:
    """ADC lookup table of one rotated query ``rv`` against the PQ
    codebooks ``books`` (float64 ndarray, m_sub x k x sub): the
    m_sub*k squared distances, flattened m-major.  Each entry is a
    sequential (a-t)^2 fold over the sub dims in ascending order, so
    every probe of a trained store builds bit-identical tables."""
    import numpy as np

    n_books, k_codes, sub = books.shape
    seg = rv.reshape(n_books, sub)
    acc = np.zeros((n_books, k_codes))
    for d in range(sub):
        diff = seg[:, None, d] - books[:, :, d]
        acc = acc + diff * diff
    return [float(x) for x in acc.reshape(-1)]


def trained_pq_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """ADC top-k against the trained PQ store: rotate the queries with
    the PERSISTED rotation, LUT them against the PERSISTED codebooks,
    and score the stored codes with m_sub lookups per row — the float
    corpus is never read.  Returns (qid, vec_id, adc_dist).

    The rotation and per-query LUT are computed DRIVER-SIDE in numpy
    and shipped as broadcast DATA (r14 optimization — the same
    discipline trained_ivf_pq_rerank_topk adopted in wave 18): a
    plan-expression rotation + LUT re-embeds the dims^2 rotation and
    m*k*sub codebook literals into the plan, so every probe paid
    codegen/planning for thousands of literals (measured 5.1 s flat
    probe at sf0.1; 2.0 s after).  The collect is query-sized (the
    probe contract already collects query rows in the IVF tier); the
    rotation replicates pca_project's SEQUENTIAL per-dim fold (a BLAS
    ``@`` differs in the last 1-3 ulps — measured flipping nothing but
    the printed distance tail, but bit-identity is free here), and
    the per-entry (a-t)^2 accumulation is a sequential fold over the
    sub dims in ascending order."""
    import os

    import numpy as np
    from pyspark.sql import types as T

    from ..operators.similarity import pq_adc_distance, two_stage_topk

    w, books = read_trained_pq_model(spark, path)
    codes = spark.read.parquet(os.path.join(path, "codes"))
    qrows = (
        queries.select(query_id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .collect()
    )
    q_schema = queries.select(query_id_col).schema
    wnp = np.asarray(w, dtype=np.float64)
    bnp = np.asarray(books, dtype=np.float64)  # (m_sub, k, sub)
    n_books, k_codes, _ = bnp.shape

    def _rotate_seq(v: "np.ndarray") -> "np.ndarray":
        # pca_project's fold: per output dim j, acc += v[d]*w[j][d]
        # in ascending d — accumulate column-by-column so every
        # float64 add happens in the same order as the plan expression
        rv = np.zeros(wnp.shape[0])
        for d in range(wnp.shape[1]):
            rv = rv + v[d] * wnp[:, d]
        return rv

    lut_rows = [
        (
            r[query_id_col],
            _pq_lut(
                bnp, _rotate_seq(np.asarray(r[vec_col], dtype=np.float64))
            ),
        )
        for r in qrows
    ]
    q = F.broadcast(
        spark.createDataFrame(
            lut_rows,
            T.StructType(
                [
                    q_schema[0],
                    T.StructField("__lut", T.ArrayType(T.DoubleType())),
                ]
            ),
        ).select(F.col(query_id_col).alias("__qid"), "__lut")
    )
    dist = pq_adc_distance(
        F.col("__lut"), F.col("codes"), n_books, int(k_codes), "double"
    )
    scored = (
        codes.crossJoin(q)
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            (-dist).alias("__neg"),
        )
    )
    out = two_stage_topk(
        scored, topk, id_col=id_col, query_id_col=query_id_col,
        score_col="__neg",
    )
    return out.select(
        query_id_col, id_col, (-F.col("__neg")).alias("adc_dist")
    )


def auto_train_stride(
    n_rows: int, n_centroids: int, rows_per_cell: int = 192
) -> int:
    """The train_stride="auto" law (wave 18): the coarse fit is
    TRAINING-DATA-bound before it is cost-bound — at 200k rows the
    old fixed-4000-row auto slice left 18 rows/cell at sqrt-regime
    nlist=447 and recall@20 0.196 (wave 17 closing check).  Size the
    Lloyd slice to >= rows_per_cell rows per centroid; the 4000-row
    floor keeps the PQ codebooks' own training mass at small nlist
    (where rows_per_cell*nc < 4000 the law reduces to the old one,
    so small-nlist stores — the registry's nc=16 gates — are
    bit-identical)."""
    target = max(4000, int(rows_per_cell) * int(n_centroids))
    return max(1, int(n_rows) // target)


def build_trained_ivf_pq_store(
    corpus: DataFrame,
    path: str,
    dims: int,
    n_centroids: int = 16,
    m_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: float = 1e3,
    max_iter: int = 10,
    kmeans_iter: int = 4,
    train_stride: int | str = 1,
    train_rows_per_cell: int = 192,
    residual: bool = False,
) -> str:
    """The IVF-PRUNED trained-PQ store — the production serving layout
    that closes the last corpus-linear ANN scan (round-12 VERDICT
    item 1): ``trained_pq_topk`` scores every stored code per probe;
    here the codes are Hive-partitioned by a TRAINED coarse quantizer
    (kmeans_fit centroids — trained centroids recover planted
    structure where stride-sampled corpus points do not, measured
    0.372 vs 0.200 recall at nprobe 4), so an nprobe-pruned probe
    reads only the probed centroids' directories (PartitionFilters,
    zero IO for the rest), ADC-scores those codes with the PERSISTED
    OPQ rotation + Lloyd codebooks, and exact-reranks only the
    shortlist — the staged prune-then-score discipline of
    /root/reference/LTA/lta-retrieve.py:444-468 applied to the ANN
    store.  Layout:

      path/codes   : (id, codes array<int>) partitioned by cid —
                     the compressed fast tier;
      path/vectors : (id, embedding) partitioned by cid — the exact
                     rerank tier, pruned by the SAME partition filter
                     (a shortlisted candidate's floats live in a
                     probed cid by construction);
      path/model   : rotation + codebook + centroid rows — one
                     model-sized file, the single source of probe
                     geometry (re-deriving any of the three at probe
                     time is how a store silently answers with the
                     wrong geometry).

    One ingest pipeline pays: k-means|| + Lloyd on the training slice
    (model-sized collects only), one corpus assignment pass, one
    Arrow-batched rotate+encode pass, two partitioned writes."""
    from ..operators.similarity import (
        kmeans_assign,
        kmeans_fit,
        pq_encode_trained_batch,
        seed_slice_mult,
    )

    spark = corpus.sparkSession
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    if train_stride == "auto":
        train_stride = auto_train_stride(
            corpus.count(), n_centroids, train_rows_per_cell
        )
    train = (
        corpus
        if int(train_stride) <= 1
        else corpus.filter(
            F.pmod(F.col(id_col), F.lit(int(train_stride))) == 0
        )
    )
    # Seeding sub-slice: k-means|| scoring is train_rows x ~2k·log2 k
    # — super-linear in nlist where Lloyd is linear — and seeds only
    # need spread (Lloyd owns refinement).  Seed from a >=16 rows/cell
    # stride-multiple of the training slice (a subset, deterministic);
    # seed_mult stays 1 for every fixture/registry-scale store, so
    # existing stores are bit-identical.
    eff_stride = max(1, int(train_stride))
    seed_mult = seed_slice_mult(train.count(), n_centroids)
    seed = (
        train.filter(
            F.pmod(F.col(id_col), F.lit(eff_stride * seed_mult)) == 0
        )
        if seed_mult > 1
        else None
    )
    # coarse quantizer on the SAMPLED slice (k-means|| seeding scores
    # the corpus against ~2k·log k candidates — the sampled-fit +
    # full-assign split is the shape that holds at 100 TB, SCALE.md
    # wave 16), then ONE full-corpus assignment pass
    cent_df, _, _ = kmeans_fit(
        train.select(id_col, vec_col), n_centroids,
        max_iter=kmeans_iter, id_col=id_col, vec_col=vec_col,
        seed_corpus=(
            seed.select(id_col, vec_col) if seed is not None else None
        ),
    )
    centroids = [
        (int(r["cid"]), [float(v) for v in r[vec_col]])
        for r in cent_df.collect()
    ]
    assigned = kmeans_assign(
        corpus.select(id_col, vec_col),
        spark.createDataFrame(
            centroids, f"cid int, {vec_col} array<double>"
        ),
        id_col=id_col, vec_col=vec_col,
    )
    if residual:
        # RESIDUAL coding (the classic IVF-PQ composition): the
        # codebook spends its k_codes^m_sub cells on x - centroid[cid]
        # instead of x.  MEASURED OFF by default: on unit-normalized
        # clustered corpora (cosine serving, the embedding-table
        # shape) raw coding wins — 20k/100-cluster recall@20 at
        # nprobe 8: raw 0.39 vs residual 0.35; 4k/20-cluster: raw
        # 0.82 vs residual 0.74 (SCALE.md wave 17).  Normalization
        # leaves the residual as large as the vector itself, so the
        # residual codebook buys no precision and loses the global
        # comparability raw codes have.  The option stays for
        # UN-normalized corpora where centers carry most of the
        # energy — the regime the residual trick is for.  One
        # broadcast join + a zip_with subtraction, map-side.
        cb = F.broadcast(
            spark.createDataFrame(
                centroids, "cid int, __cvec array<double>"
            )
        )
        enc_input = assigned.join(cb, on="cid").select(
            F.col(id_col),
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("__cvec"),
                lambda x, y: x - y,
            ).alias(vec_col),
            "cid",
        )
    else:
        enc_input = assigned.select(id_col, vec_col, "cid")
    # OPQ rotation + codebooks trained on what the store ENCODES
    # (residuals in residual mode) — training on raw vectors and
    # encoding residuals would hand the codebook the wrong geometry
    w, books = _train_pq_model(
        enc_input, dims, m_sub=m_sub, k_codes=k_codes, id_col=id_col,
        vec_col=vec_col, quant_scale=quant_scale, max_iter=max_iter,
        train_stride=train_stride,
    )
    codes = pq_encode_trained_batch(
        enc_input, w, books, id_col=id_col, vec_col=vec_col,
        passthrough=("cid",),
    )
    (
        codes.repartition(F.col("cid"))
        .write.mode("overwrite")
        .option("parquet.block.size", STORE_ROWGROUP_BYTES)
        .partitionBy("cid")
        .parquet(path.rstrip("/") + "/codes")
    )
    (
        assigned.select(id_col, vec_col, "cid")
        .repartition(F.col("cid"))
        .write.mode("overwrite")
        .option("parquet.block.size", STORE_ROWGROUP_BYTES)
        .partitionBy("cid")
        .parquet(path.rstrip("/") + "/vectors")
    )
    _write_pq_model(
        spark, path, w, books, centroids=centroids,
        residual=residual,
    )
    return path


def ensure_trained_ivf_pq_store(
    corpus: DataFrame, path: str, **kwargs
) -> str:
    """Build the IVF-pruned trained-PQ store once (atomic tmp-dir
    rename, first build wins); later calls are a no-op."""
    return _build_store_once(
        corpus.sparkSession, path,
        lambda tmp: build_trained_ivf_pq_store(corpus, tmp, **kwargs),
        marker="model/_SUCCESS",
    )


def read_trained_ivf_pq_model(
    spark: SparkSession, path: str
) -> tuple[list, list, list, bool]:
    """(rotation, codebooks, centroids, residual) from the store's
    model file — centroids as (cid, vec) pairs sorted by cid, all
    driver-side model-sized lists ready to re-embed as plan
    literals.  ``residual`` defaults False for stores written before
    the flag existed (their codes encode raw vectors)."""
    rows = spark.read.parquet(path.rstrip("/") + "/model").collect()
    rot = sorted(
        (int(r["m"]), [float(v) for v in r["vec"]])
        for r in rows if r["kind"] == "rotation"
    )
    cb = {
        (int(r["m"]), int(r["c"])): [float(v) for v in r["vec"]]
        for r in rows if r["kind"] == "codebook"
    }
    m_sub = 1 + max(m for m, _ in cb)
    k = 1 + max(c for _, c in cb)
    books = [[cb[(m, c)] for c in range(k)] for m in range(m_sub)]
    cents = sorted(
        (int(r["m"]), [float(v) for v in r["vec"]])
        for r in rows if r["kind"] == "centroid"
    )
    if not cents:
        raise ValueError(
            f"store at {path} carries no coarse centroids — built by "
            "build_trained_pq_store? probe it with trained_pq_topk"
        )
    residual = any(
        r["kind"] == "residual" and int(r["m"]) == 1 for r in rows
    )
    return [v for _, v in rot], books, cents, residual


def upsert_trained_ivf_pq(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental ingest into the IVF-pruned trained-PQ store (r13
    VERDICT item 5 — the store could previously only be rebuilt from
    scratch, forcing a full retrain+rewrite per nightly batch):

      - assign the batch to the PERSISTED coarse centroids
        (kmeans_assign — bit-identical to the build's
        partitioning, so an upserted vector lands exactly where a
        rebuild under the SAME centroids would put it);
      - encode with the PERSISTED rotation + codebooks, honoring the
        store's residual flag (encoding under a retrained model would
        mix geometries in one store — the upsert_trained_pq
        contract);
      - LATEST-WINS rewrite of the touched cid partitions on BOTH
        tiers.  Touched = the batch's new cells UNION the batch ids'
        OLD cells, located by one column-pruned (id, cid) scan of the
        codes tier (the delete_from_shards locate discipline — the
        footer-indexed minimum for not keeping an id->partition
        index): a re-upserted vector whose value moved it to a
        different nearest centroid would otherwise leave a stale
        duplicate answering probes from its old, untouched partition.

    Batch ids must be unique and vectors non-NULL (NULL vectors are
    dropped — ivf_assign's contract; duplicate ids have no defined
    winner, the keyed-store upsert contract).

    CENTROID STALENESS is the documented drift: between rebuilds the
    partition layout stays the build's — a batch from a drifted
    distribution packs into the nearest EXISTING cells, degrading
    probe recall, never correctness (exhaustive probe remains exact).
    Periodically rebuild when cell occupancy skews; between rebuilds,
    upsert.  Reference analog: the incremental set-difference staging
    of /root/reference/LTA/lta-retrieve.py:509-518 — never re-stage
    what is already at rest.

    Returns {"upserted": n, "touched_cids": [...], "moved_ids": n}.
    """
    spark = batch.sparkSession
    from ..operators.similarity import (
        kmeans_assign,
        pq_encode_trained_batch,
    )

    w, books, cents, residual = read_trained_ivf_pq_model(spark, path)
    base = path.rstrip("/")
    codes_path, vec_path = f"{base}/codes", f"{base}/vectors"
    src = batch.select(id_col, vec_col).filter(
        F.col(vec_col).isNotNull()
    )
    cdf = spark.createDataFrame(
        [(c, v) for c, v in cents], f"cid int, {vec_col} array<double>"
    )
    # batch-sized localCheckpoint: re-used for the new-cell set, the
    # vectors-tier rewrite, and the encode input — and the rewrites
    # below REPLACE files a lazy plan would re-read
    assigned = kmeans_assign(
        src, cdf, id_col=id_col, vec_col=vec_col,
    ).localCheckpoint()
    n_batch = assigned.count()
    if n_batch == 0:
        return {"upserted": 0, "touched_cids": [], "moved_ids": 0}
    if residual:
        cb = F.broadcast(
            spark.createDataFrame(
                [(c, v) for c, v in cents], "cid int, __cvec array<double>"
            )
        )
        enc_input = assigned.join(cb, on="cid").select(
            F.col(id_col),
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("__cvec"),
                lambda x, y: x - y,
            ).alias(vec_col),
            "cid",
        )
    else:
        enc_input = assigned.select(id_col, vec_col, "cid")
    enc = pq_encode_trained_batch(
        enc_input, w, books, id_col=id_col, vec_col=vec_col,
        passthrough=("cid",),
    )
    new_cells = {
        int(r["cid"])
        for r in assigned.select("cid").distinct().collect()
    }
    batch_ids = F.broadcast(assigned.select(id_col).distinct())
    # ONE column-pruned locate scan for the ids' current cells —
    # bounded output (collect_set <= n_centroids; ids are unique at
    # rest, so the broadcast join is batch-bounded)
    loc = (
        spark.read.parquet(codes_path)
        .select(id_col, F.col("cid").alias("__old_cid"))
        .join(
            F.broadcast(assigned.select(id_col, "cid")), on=id_col
        )
        .agg(
            F.collect_set("__old_cid").alias("cells"),
            F.sum(
                (F.col("__old_cid") != F.col("cid")).cast("int")
            ).alias("moved"),
        )
        .first()
    )
    old_cells = {int(c) for c in (loc["cells"] or [])}
    moved = int(loc["moved"] or 0)
    touched = sorted(new_cells | old_cells)
    # cast the batch's vectors to the tier's AT-REST element type
    # (the build wrote the corpus's own type, commonly array<float>):
    # a double-typed batch would otherwise rewrite the touched
    # partitions as array<double> while untouched ones stay float —
    # a mixed-schema store that the plain parquet read resolves from
    # ONE footer, corrupting or failing later probes
    vec_dtype = spark.read.parquet(vec_path).schema[vec_col].dataType

    def _rewrite_tier(spec: tuple) -> None:
        tier_path, tier_new, cols = spec
        existing = spark.read.parquet(tier_path).filter(
            F.col("cid").isin(touched)
        )
        # eager localCheckpoint: the write REPLACES files this plan
        # reads (the delete_from_shards discipline)
        survivors = (
            existing.join(batch_ids, on=id_col, how="left_anti")
            .select(*cols)
            .unionByName(tier_new.select(*cols))
            .localCheckpoint()
        )
        _overwrite_touched_partitions(
            spark, tier_path, survivors, touched, "cid"
        )

    # the two tiers are independent (distinct paths, inputs already
    # checkpointed batch-side) — overlap them so one tier's commit
    # tail back-fills the other's jobs (guide §2.6, the
    # forget_documents discipline; per-write partitionOverwriteMode,
    # no session-conf race)
    from concurrent.futures import ThreadPoolExecutor

    tiers = (
        (codes_path, enc, (id_col, "codes", "cid")),
        (
            vec_path,
            assigned.select(
                id_col, F.col(vec_col).cast(vec_dtype).alias(vec_col),
                "cid",
            ),
            (id_col, vec_col, "cid"),
        ),
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(_rewrite_tier, tiers))
    return {
        "upserted": int(n_batch),
        "touched_cids": touched,
        "moved_ids": int(moved),
    }


def trained_ivf_pq_rerank_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    topk: int = 3,
    nprobe: int = 8,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    score_scale: float = 1e12,
) -> DataFrame:
    """Staged probe of the IVF-pruned trained-PQ store: (1) rank the
    PERSISTED coarse centroids per query in exact-integer L2 (the
    SAME metric kmeans_assign partitioned the store under — ranking
    by raw dot against non-unit-norm Lloyd centroids would probe the
    wrong cells) and keep ``nprobe``; (2) partition-pruned scan of
    ONLY the probed cids' code directories, ADC-scored against the
    query's trained LUT (m_sub integer lookups per row — the float
    corpus is never read here); (3) exact cosine rerank of the
    ``shortlist`` survivors against path/vectors, pruned by the SAME
    cid filter and joined on a broadcast of the shortlist (|queries|
    x shortlist rows — query-sized, never corpus-sized).  Returns
    (qid, vec_id, cos) exact-ranked, ties to the smaller id.

    PQ quantization error decides the SHORTLIST, never the final
    ranking; recall lost to pruning is the nprobe dial (measured on
    the clustered corpus in tests/test_round13_trained_ivf_pq.py and
    SCALE.md wave 17).  Residual-coded stores (the default build)
    get a PER-CELL query LUT over rotate(q - centroid[cell]) — the
    probe honors the store's persisted residual flag either way.

    The query side is collected ONCE (probe-request-sized by
    contract — the same bound the broadcast already assumes) and the
    centroid ranking computed driver-side against the model-sized
    centroid table with kmeans_assign's own numpy kernels
    (_np_quantized_scores: the per-dim floor(x*y*scale + 0.5) integer
    form the kmeans_update_step oracle SQL evaluates), so probe
    selection is bit-identical to the store's partitioning and the
    whole probe costs one collect job up front instead of a
    crossJoin + window + collect chain per call."""
    import numpy as np

    from ..operators.similarity import (
        _np_quantized_scores,
        _np_self_scores,
        cosine,
        pq_adc_distance,
        two_stage_topk,
    )
    from pyspark.sql import Window

    w, books, cents, residual = read_trained_ivf_pq_model(spark, path)
    q_schema = queries.select(query_id_col, vec_col).schema
    qrows = queries.select(query_id_col, vec_col).collect()
    if not qrows:
        empty = spark.createDataFrame([], q_schema)
        return empty.select(
            F.col(query_id_col),
            F.lit(None).cast("long").alias(id_col),
            F.lit(None).cast("double").alias("cos"),
        )
    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cmat = np.asarray([v for _, v in cents], dtype=np.float64)
    wnp = np.asarray(w, dtype=np.float64)
    qx = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in qrows]
    )
    # argmin L2 == argmax(2 q.c - |c|^2), every per-dim product
    # floored at score_scale — int64 sums through the same kernels
    # kmeans_assign partitioned the store with, not float64: a
    # float64 sum of floored products drifts from the
    # store's partitioning once |sum| exceeds 2^53, flipping near-tie
    # probe selection
    qc = _np_quantized_scores(qx, cmat, score_scale)
    cc = _np_self_scores(cmat, score_scale)
    dq = 2 * qc - cc[None, :]
    # ranking ties break to the smaller cid: lexsort on (-dq, cid)
    order = np.lexsort((cids[None, :].repeat(len(qx), 0), -dq), axis=-1)
    # per-(query, probed cell) ADC lookup table, computed DRIVER-SIDE
    # in the same numpy double arithmetic the store's batch encode
    # used: in residual mode each probed cell gets its OWN LUT over
    # rotate(q - centroid[cell]) — the IVF-PQ residual contract; in
    # raw mode every probed cell of a query shares one LUT.  The LUT
    # ships as DATA (|queries| x nprobe rows of m_sub*k doubles), not
    # as a plan expression: a column-form LUT re-embeds the m*k*sub
    # codebook literal in the plan, and at 8-bit codebooks (k=256 ->
    # 16k literals) codegen/planning dominated the probe (~16 s flat
    # regardless of nprobe — wave 18; the SCALE.md pitfall-1 literal
    # class).  The LUT is ``_pq_lut``, the same fold as
    # trained_pq_topk's.
    bnp = np.asarray(books, dtype=np.float64)  # (m_sub, k, sub)

    probe_rows = []
    for r, row in zip(qrows, order):
        qv = np.asarray(r[vec_col], dtype=np.float64)
        shared = None if residual else _pq_lut(bnp, qv @ wnp.T)
        for j in row[: int(nprobe)]:
            lut_vals = (
                _pq_lut(bnp, (qv - cmat[j]) @ wnp.T) if residual else shared
            )
            probe_rows.append(
                (r[query_id_col], int(cids[j]), lut_vals)
            )
    probed_cids = sorted({c for _, c, _ in probe_rows})
    # the probed-cid union is bounded by min(|queries| x nprobe,
    # n_centroids) — literal ints that turn BOTH store scans into
    # static PartitionFilters; the probe frame itself is query-sized
    # data with the LUT precomputed (no join at all — the earlier
    # two-literal join planned as a SortMergeJoin)
    probe = F.broadcast(
        spark.createDataFrame(
            probe_rows,
            T.StructType(
                [
                    q_schema[0],
                    T.StructField("cid", T.IntegerType()),
                    T.StructField(
                        "__lut", T.ArrayType(T.DoubleType())
                    ),
                ]
            ),
        ).select(
            F.col(query_id_col).alias("__qid"),
            "cid",
            "__lut",
        )
    )
    codes = spark.read.parquet(path.rstrip("/") + "/codes").filter(
        F.col("cid").isin(probed_cids)
    )
    dist = pq_adc_distance(
        F.col("__lut"), F.col("codes"), len(books), len(books[0]), "double"
    )
    scored = (
        codes.join(probe, on="cid")
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            (-dist).alias("__neg"),
        )
    )
    short = two_stage_topk(
        scored, int(shortlist), id_col=id_col,
        query_id_col=query_id_col, score_col="__neg",
    ).select(query_id_col, id_col)
    vectors = spark.read.parquet(path.rstrip("/") + "/vectors").filter(
        F.col("cid").isin(probed_cids)
    )
    qv = F.broadcast(
        spark.createDataFrame(qrows, q_schema).select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec")
        )
    )
    cand = (
        vectors.join(
            F.broadcast(short), on=id_col
        )
        .join(qv, on=query_id_col)
        .select(
            query_id_col,
            F.col(id_col),
            cosine(F.col("__qvec"), F.col(vec_col)).alias("cos"),
        )
    )
    wnd = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.col(id_col)
    )
    return (
        cand.withColumn("__rk", F.row_number().over(wnd))
        .filter(F.col("__rk") <= int(topk))
        .drop("__rk")
    )


def write_components_store(
    comp: DataFrame,
    path: str,
    node_col: str = "node",
    comp_col: str = "component",
    n_buckets: int = 64,
) -> None:
    """At-rest (node, component) label store — the persisted half of
    the incremental connected-components story (round-11 VERDICT item
    2): the corpus is clustered ONCE at ingest; every nightly batch
    folds its edges in through ``merge_components_store`` instead of
    re-deriving the 100 TB graph's closure.

    Layout: Hive-partitioned by ``cbucket = pmod(xxhash64(component),
    n_buckets)`` — every member of one component lands in ONE bucket,
    so a merge that relabels a set of components rewrites exactly the
    buckets holding their members plus the buckets their new labels
    hash to (the delete_from_shards touched-partition discipline;
    membership-bounded IO is the honest floor — relabeling a cluster
    must touch its members' rows no matter the layout).  xxhash64 is
    a spec-stable algorithm (fixed seed), so a store written under
    one Spark version prunes correctly under another — unlike
    F.hash, whose Murmur3 seed is an implementation detail.
    ``n_buckets`` rides along as a constant column (RLE-compressed to
    nothing) so the store is self-describing: the merge recomputes
    the same bucket expression without a side-channel meta file."""
    out = (
        comp.select(
            F.col(node_col).alias("node"),
            F.col(comp_col).alias("component"),
        )
        .withColumn(
            "cbucket",
            F.pmod(
                F.xxhash64("component"), F.lit(int(n_buckets))
            ).cast("int"),
        )
        .withColumn("n_buckets", F.lit(int(n_buckets)))
    )
    out.repartition(F.col("cbucket")).write.mode("overwrite").option(
        "parquet.block.size", STORE_ROWGROUP_BYTES
    ).partitionBy("cbucket").parquet(path)


def ensure_components_store(comp, path: str, **kwargs) -> str:
    """Build the at-rest components store once (atomic tmp-dir rename,
    first build wins); later calls are a no-op.  ``comp`` may be a
    (node, component) DataFrame or a ZERO-ARG CALLABLE returning one:
    connected_components' driver union-find path collects edges at
    CALL time, so a caller passing the DataFrame directly would pay
    the full clustering on every ensure even when the store already
    exists — the thunk defers that work to the one build that needs
    it."""
    spark = (
        comp.sparkSession
        if isinstance(comp, DataFrame)
        else SparkSession.getActiveSession()
    )
    if spark is None:
        raise RuntimeError(
            "ensure_components_store with a thunk needs an active "
            "SparkSession to probe the store path"
        )
    return _build_store_once(
        spark, path,
        lambda tmp: write_components_store(
            comp() if callable(comp) else comp, tmp, **kwargs
        ),
    )


def read_components_store(
    spark: SparkSession,
    path: str,
    node_col: str = "node",
    comp_col: str = "component",
) -> DataFrame:
    """The (node, component) view of the store — bucket/meta columns
    dropped, names mapped to the caller's."""
    return spark.read.parquet(path).select(
        F.col("node").alias(node_col),
        F.col("component").alias(comp_col),
    )


def merge_components_store(
    spark: SparkSession,
    path: str,
    new_edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> dict:
    """Fold a batch of new edges into the at-rest components store IN
    PLACE, rewriting only the touched ``cbucket`` partitions.  The
    contraction core is shared with merge_components_incremental
    (pipeline._merge_components_parts), so the persisted merge and the
    oracle-gated in-memory merge cannot drift.

    Scale shape: ONE corpus-scale scan (the contraction probe's
    broadcast-semi store prune — no store shuffle at any size),
    a batch-sized CC, then a partition-pruned read of ONLY the
    buckets that hold a touched component's members or will receive a
    merged label / new cluster — sum-of-touched-bucket-sizes IO, the
    same shape as the delete path; untouched buckets keep their files
    byte-identical.  Re-running the same batch is a no-op (the labels
    are already merged, so the relabel map is empty).

    Returns {"relabeled_components": n, "new_nodes": n,
    "buckets_rewritten": [...]}."""
    from ..operators.pipeline import _merge_components_parts

    store = spark.read.parquet(path)
    head = store.select("n_buckets").first()
    if head is None:
        raise ValueError(f"merge_components_store: empty store at {path}")
    nb = int(head["n_buckets"])
    small, new_node_ids = _merge_components_parts(
        store, new_edges,
        node_col="node", comp_col="component",
        src_col=src_col, dst_col=dst_col, max_iter=max_iter,
    )
    # both parts feed several consumers below — materialize once
    # (batch-sized, never the store)
    small = small.localCheckpoint()
    new_node_ids = new_node_ids.localCheckpoint()
    # stored labels whose component CHANGED (identity rows and new
    # nodes excluded — a new node's id is not a stored label, and its
    # self-labeled cluster only needs the append below)
    changed = (
        small.filter(F.col("node") != F.col("component"))
        .join(F.broadcast(new_node_ids), "node", "left_anti")
        .select(
            F.col("node").alias("__old"), F.col("component").alias("__new")
        )
        .localCheckpoint()
    )
    new_nodes = small.join(
        F.broadcast(new_node_ids), "node", "left_semi"
    ).select("node", "component")
    bucket_of = lambda c: F.pmod(F.xxhash64(c), F.lit(nb)).cast("int")  # noqa: E731
    targets = sorted(
        {
            r["b"]
            for r in (
                changed.select(bucket_of("__old").alias("b"))
                .unionByName(changed.select(bucket_of("__new").alias("b")))
                .unionByName(new_nodes.select(bucket_of("component").alias("b")))
                .distinct()
                .collect()
            )
        }
    )
    n_changed = changed.count()
    n_new = new_nodes.count()
    if not targets:
        return {
            "relabeled_components": 0, "new_nodes": 0,
            "buckets_rewritten": [],
        }
    cur = store.filter(F.col("cbucket").isin(targets)).select(
        "node", "component"
    )
    updated = (
        cur.join(
            F.broadcast(changed), cur["component"] == F.col("__old"), "left"
        )
        .select(
            "node",
            F.coalesce("__new", F.col("component")).alias("component"),
        )
        .unionByName(new_nodes)
        .withColumn("cbucket", bucket_of("component"))
        .withColumn("n_buckets", F.lit(nb))
        # the write REPLACES files this plan reads — materialize first
        # (touched-bucket-bounded, never the corpus)
        .localCheckpoint()
    )
    _overwrite_touched_partitions(spark, path, updated, targets, "cbucket")
    return {
        "relabeled_components": n_changed,
        "new_nodes": n_new,
        "buckets_rewritten": targets,
    }


def write_pq_codes(
    assigned: DataFrame,
    path: str,
    dims: int,
    m_sub: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_col: str = "cid",
) -> None:
    """At-rest compressed ANN tier: (id, cid, codes) with the PQ
    encode paid ONCE at ingest, Hive-partitioned by centroid — an
    nprobe-pruned ADC probe is a partition-pruned scan of a few-bytes-
    per-vector store, never the float corpus. This is the layout that
    turns the IVF+PQ stack's per-probe cost into ~(corpus/nlist) *
    m_sub byte lookups."""
    from ..operators.similarity import pq_encode

    enc = assigned.select(
        F.col(id_col),
        F.col(centroid_col),
        pq_encode(F.col(vec_col), dims, m_sub, k_codes).alias("codes"),
    )
    enc.write.mode("overwrite").option(
        "parquet.block.size", STORE_ROWGROUP_BYTES
    ).partitionBy(centroid_col).parquet(path)


def ensure_pq_codes(
    assigned: DataFrame,
    path: str,
    **kwargs,
) -> str:
    """Build the at-rest PQ code store once (atomic tmp+rename, same
    protocol as ensure_lsh_signatures); later calls are a no-op."""
    return _build_store_once(
        assigned.sparkSession, path,
        lambda tmp: write_pq_codes(assigned, tmp, **kwargs),
    )


def lsh_ann_topk_stored(
    corpus: DataFrame,
    queries: DataFrame,
    store_path: str,
    k: int = 5,
    n_tables: int = 4,
    n_bits: int = 6,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    scale: float = 1e6,
    partial_buckets: int = 32,
    hamming_probes: int = 0,
) -> DataFrame:
    """Sign-LSH ANN probing the AT-REST signature store — the 100 TB
    shape of ``lsh_ann_topk`` (same buckets, same results,
    parity-pinned): the corpus's signatures are read from the
    (tbl, bkt)-partitioned parquet written by
    ``write_lsh_signatures`` instead of being recomputed per probe.

    Probe plan: the query set is bounded by definition, so its
    signatures are computed DRIVER-SIDE (``_lsh_query_probes``, the
    same kernel and Hamming-1 multi-probe expansion as
    ``lsh_ann_topk``). The distinct (tbl, bkt) pairs become a STATIC
    disjunctive filter on the store's partition columns, so the store
    scan is partition-pruned at plan time (PartitionFilters,
    plan-asserted; no reliance on runtime DPP). Candidate ids join
    back to the corpus through a broadcast of the candidate set — the
    corpus is never shuffled and only candidate rows are scored.
    Signature computation for the corpus is amortized into the store
    build instead of being paid on every probe."""
    from functools import reduce as _reduce

    from ..operators.similarity import (
        _lsh_query_probes,
        cosine,
        two_stage_topk,
    )

    spark = corpus.sparkSession
    probes, pairs = _lsh_query_probes(
        queries, query_id_col, vec_col,
        n_tables, n_bits, dims, scale, hamming_probes,
    )
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    empty = f"{query_id_col} {qid_type}, {id_col} {id_type}, cos double"
    # Listing-level pruning (r15, guide §6): a plain
    # spark.read.parquet(root) runs partition DISCOVERY over every
    # leaf directory of the store (2^n_bits x n_tables dirs) on the
    # driver before the partition filter ever applies — measured
    # 1.5 s per probe against 0.08 s when only the probed (tbl, bkt)
    # leaf dirs are handed to the reader with an explicit schema
    # (basePath keeps the partition columns).  The probed dirs ARE
    # the partition filter, so rows are identical; the redundant
    # pred keeps the pruning visible in the plan (PartitionFilters,
    # test-asserted) and guards against stray files.  Missing dirs
    # (an empty probed bucket) are skipped exactly as the pruned
    # scan skipped them.
    base = store_path.rstrip("/")
    leaf = [
        p
        for p in (f"{base}/tbl={t}/bkt={b}" for t, b in pairs)
        if _store_exists(spark, p)
    ]
    if not leaf:
        return spark.createDataFrame([], empty)
    pred = _reduce(
        lambda a, b: a | b,
        [
            (F.col("tbl") == t) & (F.col("bkt") == b)
            for t, b in pairs
        ],
    )
    store = (
        spark.read.schema(f"{id_col} {id_type}, tbl int, bkt bigint")
        .option("basePath", base)
        .parquet(*leaf)
        .filter(pred)
    )
    cand = (
        store.join(F.broadcast(probes), on=["tbl", "bkt"])
        .filter(F.col(id_col) != F.col("__qid"))
        .groupBy("__qid", id_col)
        .agg(F.first("__qvec").alias("__qvec"))
    )
    fetched = corpus.select(id_col, vec_col).join(
        F.broadcast(cand), on=id_col
    )
    scored = fetched.select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        cosine(F.col("__qvec"), F.col(vec_col)).alias("cos"),
    )
    return two_stage_topk(
        scored, k, id_col=id_col, query_id_col=query_id_col,
        partial_buckets=partial_buckets,
    )


def compact_parquet_dir(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — the standing operational task of any
    100 TB lake (streaming sinks and fine-grained partitioning leave
    thousands of KB-sized files; every one costs a task + a footer
    read per query). Sizes the output by the INPUT'S actual bytes:
    binaryFile listing with only the ``length`` column selected (the
    source is columnar about it — content is never read), then one
    repartition to ceil(total/target) files. Returns the file count
    written.

    Note: the output is UNPARTITIONED — Hive partition columns of a
    partitioned source are read back as ordinary data columns and the
    directory layout is flattened. Compact partitioned sources one
    partition directory at a time to keep the layout."""
    sizes = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(src)
        .select(F.sum("length").alias("b"))
        .first()
    )
    total = int(sizes["b"] or 0)
    if total == 0:
        raise ValueError(
            f"compact_parquet_dir: no *.parquet files found under {src!r}"
        )
    n_files = max(1, -(-total // int(target_file_bytes)))
    df = spark.read.parquet(src)
    df.repartition(n_files).write.mode("overwrite").option(
        "parquet.block.size", STORE_ROWGROUP_BYTES
    ).parquet(dst)
    return n_files


def write_training_shards(
    df: DataFrame,
    path: str,
    docs_per_shard: int,
    id_col: str = "doc_id",
    seed: str = "shard",
    num_buckets: int = 256,
) -> DataFrame:
    """Training-data export sink: shuffle the corpus into a
    reproducible pseudo-random global order, cut it into consecutive
    shards of ``docs_per_shard`` rows, and write one Hive partition
    per shard. Returns the shard manifest (shard, n_docs, min_rank,
    max_rank) — the index a training loader reads instead of listing
    files.

    Why rank-based and not hash-mod sharding: trainers stream shards
    sequentially, so shard i must be a CONTIGUOUS slice of the global
    shuffle order for single-epoch coverage without a shuffle buffer
    spanning shards; hash-mod would give balanced but order-
    interleaved shards. The global order is the deterministic md5
    shuffle key (engine-portable, partition-invariant), ranked with
    global_rank (one shuffle + one map, offsets bounded by the bucket
    count — no single-partition window), so the export is
    bit-reproducible across runs and cluster sizes. Every shard
    except the last has exactly ``docs_per_shard`` rows.

    At 100 TB: one exchange for the rank, one write job; shard
    directories are partition-pruned by loaders that resume
    mid-epoch (``WHERE shard >= k`` touches no earlier shard)."""
    from ..operators.pipeline import (
        global_rank,
        hex_prefix_bucket,
        shuffle_key,
    )

    if docs_per_shard <= 0:
        raise ValueError("docs_per_shard must be positive")
    keyed = df.withColumn(
        "__sk", shuffle_key(F.col(id_col), seed)
    )
    ranked = global_rank(
        keyed,
        ["__sk", id_col],
        hex_prefix_bucket(F.col("__sk"), num_buckets),
        rank_col="__rank",
    )
    sharded = ranked.withColumn(
        "shard",
        ((F.col("__rank") - 1) / F.lit(int(docs_per_shard)))
        .cast("bigint"),
    )
    # published shards carry DATA columns only — __sk/__rank are
    # internal bookkeeping and must not leak into the release files
    sharded.drop("__sk", "__rank").write.mode("overwrite").option(
        "parquet.block.size", STORE_ROWGROUP_BYTES
    ).partitionBy("shard").parquet(path)
    # manifest from the written files: a shard-grouped count touches
    # only footer metadata + the partition column; the rank bounds are
    # arithmetic (shard i is the contiguous slice starting at
    # i*docs_per_shard+1), so no second execution of the upstream plan
    out = sharded.sparkSession.read.parquet(path)
    dps = F.lit(int(docs_per_shard))
    return (
        out.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "shard",
            "n_docs",
            (F.col("shard") * dps + 1).alias("min_rank"),
            (F.col("shard") * dps + F.col("n_docs")).alias("max_rank"),
        )
        .orderBy("shard")
    )


def write_cobucketed_pair(
    left: DataFrame,
    right: DataFrame,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    buckets: int = 16,
) -> None:
    """Co-bucket two FACT tables on their join key (orders/lineitem on
    the orderkey being the canonical case): both sides hash into the
    same bucket count, so the join needs NO exchange on either side —
    at 100 TB this turns the biggest shuffle in the warehouse into a
    per-bucket local merge. Broadcast covers dim joins; co-bucketing
    is the fact-fact answer."""
    for df, name, key in (
        (left, left_table, left_key),
        (right, right_table, right_key),
    ):
        (
            df.write.mode("overwrite")
            .bucketBy(buckets, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )


def cobucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Join two co-bucketed tables on their bucket keys. The bucketed
    scans report their hash distribution to Catalyst, so the plan is
    SortMergeJoin with ZERO Exchange operators (asserted in
    test_lake_layout) — only the per-bucket sort (already satisfied
    when written sortBy) and the merge remain.

    The merge hint matters: under the raised 64 MB broadcast
    threshold a small-SF side gets broadcast instead, and the planner
    then DISABLES bucketed reading entirely ("Bucketed: false") —
    co-bucketing is the fact-fact strategy for sides too big to
    broadcast, so the join is pinned to the shape it exists for."""
    lt = spark.table(left_table).hint("merge")
    rt = spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key])


def write_scan_parallel(
    df: DataFrame,
    path: str,
    rowgroup_bytes: int = STORE_ROWGROUP_BYTES,
    file_bytes: int = 128 * 1024 * 1024,
    mode: str = "overwrite",
) -> None:
    """Write parquet with an explicit ROW-GROUP geometry contract
    (SCALING-RULES rule 2): Spark file splits materialize only where
    a row group starts, so a downstream map-side plan's task-count
    ceiling is the file's row-group count — a file written with one
    giant group serializes every zero-shuffle consumer no matter how
    many executors the cluster has (measured: a 2-group 100x probe
    file ran a map-side pipeline 3.4x slower than a shuffled shape;
    SCALE.md twelfth wave, harness lie #1).

    ``parquet.block.size`` is the writer's row-group target in bytes
    (a hadoop write option, honored per-write); 16 MB gives a 128 MB
    HDFS-block-sized file 8 splits and a 1 GB file 64 — small enough
    to parallelize, large enough that column-chunk encoding stays
    efficient.  ``spark.sql.files.maxRecordsPerFile`` caps file size
    only by ROWS, so the file target is enforced the same way
    compact_parquet_dir sizes its output: callers with a known row
    width can pre-repartition; this helper enforces the intra-file
    contract every file obeys regardless of file count.

    Use for every at-rest store the engine builds (band stores, cid
    stores, PQ codes, shards): ``rowgroup_report`` audits the result.
    """
    (
        df.write.mode(mode)
        .option("parquet.block.size", int(rowgroup_bytes))
        # page size bounds the minimum useful group: keep default 1MB
        # pages from forcing oversized groups on narrow tables
        .option("parquet.page.size", min(1024 * 1024, int(rowgroup_bytes)))
        .parquet(path)
    )


def rowgroup_report(spark: SparkSession, path: str) -> DataFrame:
    """Audit a parquet directory's scan-parallelism geometry: one row
    per data file with (file, n_rowgroups, n_rows, bytes) read from
    FOOTER metadata only (pyarrow ParquetFile — content is never
    decoded; cost is one footer read per file, the same price any
    Spark scan already pays at planning).

    The driver-side listing is bounded by the file count, not data
    volume — at 100 TB with 128 MB files that is ~800k footer reads,
    which is a metadata job to run ON the cluster: for lakes that
    large, wrap the same pyarrow body in mapInPandas over the
    binaryFile listing.  Here it is the audit tool the tests and the
    scale harness use to verify rule 2 before trusting any map-side
    measurement."""
    import glob as _glob
    import os

    import pyarrow.parquet as _pq

    rows = []
    for f in sorted(_glob.glob(os.path.join(path, "**", "*.parquet"),
                               recursive=True)):
        meta = _pq.ParquetFile(f).metadata
        rows.append(
            (
                os.path.relpath(f, path),
                meta.num_row_groups,
                meta.num_rows,
                os.path.getsize(f),
            )
        )
    return spark.createDataFrame(
        rows, "file string, n_rowgroups int, n_rows bigint, bytes bigint"
    )


def upsert_embeddings_by_centroid(
    batch: DataFrame,
    path: str,
    centroids: DataFrame,
    centroid_col: str = "cid",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest into the cid-partitioned vector store — the
    vector-side dual of the MinHash band store's incremental story
    (dedup.incremental_near_dup): the at-rest corpus pays NOTHING, the
    new batch is assigned against the existing codebook (map-side,
    zero batch exchanges beyond the per-cid write repartition) and
    appended to its centroid directories.  Only the touched cid
    partitions gain files; readers see the union immediately
    (partition-pruned probes and SemDeDup slices keep working
    unchanged).

    Same-id semantics are APPEND (parquet has no merge); dedupe ids
    upstream or run a compaction that keeps the latest.  The codebook
    must be the store's own — assigning a batch with a different
    codebook would split one logical cluster across cid values.  At
    100 TB a day's batch is ~1/365 of the corpus: this is the
    difference between re-clustering 100 TB nightly and writing a few
    hundred GB into existing directories.  Periodically re-fit k ∝ N
    (SCALING-RULES rule 5) and rebuild; between rebuilds, upsert.

    Bloom sidecar lifecycle (round-10 VERDICT item 4, append side): a
    sidecar that is FRESH at entry is maintained through the append —
    the batch's bloom bits are OR-merged into the touched rows and
    the new store fingerprint stamped, so id-locate deletes keep
    their pruned path across upserts.  Merging only ADDS bits and the
    batch's own ids are included, so the no-false-negatives contract
    holds by construction.  The freshness check runs BEFORE the
    append: merging onto an already-stale sidecar and then stamping
    the new fingerprint would LAUNDER its staleness into false
    negatives — stale sidecars stay stale (rebuild with
    write_shard_bloom_index)."""
    from ..operators.similarity import ivf_assign

    spark = batch.sparkSession
    assigned = ivf_assign(
        batch, centroids,
        id_col=id_col, vec_col=vec_col, centroid_id_col=centroid_col,
    )
    m_bits = _sidecar_m_bits_if_fresh(spark, path, id_col=id_col)
    if m_bits is not None:
        # the merge re-reads the batch after the append — materialize
        # once (batch-sized, never the store)
        assigned = assigned.localCheckpoint()
    # ONE writer recipe for the store (round-10 review): any future
    # geometry/repartition change to the full build applies to the
    # incremental path by construction
    write_embeddings_by_centroid(
        assigned, path, centroid_col=centroid_col, mode="append"
    )
    if m_bits is not None:
        _merge_bloom_after_append(
            spark, path, assigned, id_col, m_bits,
            partition_col=centroid_col,
        )


def _sidecar_m_bits_if_fresh(
    spark: SparkSession, path: str, id_col: str | None = None
) -> int | None:
    """m_bits of the store's Bloom sidecar iff it exists, its
    fingerprint matches the store's CURRENT state, AND (when the
    caller names one) its stamped ``id_col`` matches the column the
    caller is about to hash; None otherwise.  Same probe
    locate_shards_bloom opens with (Hadoop FS existence +
    metadata-only fingerprint).  The id_col check exists because an
    incremental maintainer hashing a DIFFERENT column than the build
    (upsert default 'vec_id' vs build default 'doc_id') would keep
    stamping the sidecar fresh while its appended ids never bloom —
    the exact false-negative class the freshness fingerprint prevents
    (round-11 ADVICE); a sidecar from before the stamp existed (no
    id_col column) is treated as unverifiable → stale."""
    idx_path = _shard_bloom_path(path)
    jvm = spark._jvm
    success = jvm.org.apache.hadoop.fs.Path(idx_path + "/_SUCCESS")
    if not success.getFileSystem(spark._jsc.hadoopConfiguration()).exists(
        success
    ):
        return None
    idx = spark.read.parquet(idx_path)
    if id_col is not None:
        if "id_col" not in idx.columns:
            return None
        head = idx.select("store_fp", "m_bits", "id_col").first()
        if head is None or head["id_col"] != id_col:
            return None
    else:
        head = idx.select("store_fp", "m_bits").first()
        if head is None:
            return None
    if head["store_fp"] != _store_fingerprint(spark, path):
        return None
    return int(head["m_bits"])


def _merge_bloom_after_append(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str,
    m_bits: int,
    partition_col: str = "shard",
) -> None:
    """OR-merge the appended batch's bloom bits into the sidecar and
    stamp the post-append store fingerprint.  Cost is sidecar-size +
    batch-size (explode both to (shard, word, bits), bit_or, re-map)
    — never the store.  Bits only turn ON, and every batch id
    contributes its positions, so a fresh-at-entry sidecar stays
    exactly what a full rebuild would produce minus deletions' stale
    positive bits (harmless: false positives re-checked exactly)."""
    idx_path = _shard_bloom_path(path)
    old = spark.read.parquet(idx_path)
    batch_rows = _shard_bloom_rows(
        batch.select(partition_col, id_col), id_col, m_bits,
        partition_col=partition_col,
    )
    exploded = old.select(
        "shard", F.explode("bloom").alias("w", "bits")
    ).unionByName(
        batch_rows.select("shard", F.explode("bloom").alias("w", "bits"))
    )
    merged = (
        exploded.groupBy("shard", "w")
        .agg(F.bit_or("bits").alias("bits"))
        .groupBy("shard")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "bits"))
            ).alias("bloom")
        )
    )
    out = (
        merged.withColumn("m_bits", F.lit(int(m_bits)))
        .withColumn("store_fp", F.lit(_store_fingerprint(spark, path)))
        # preserve the build-time id-column stamp: the caller's
        # _sidecar_m_bits_if_fresh(id_col=...) gate already proved it
        # matches this merge's column
        .withColumn("id_col", F.lit(id_col))
        # the write REPLACES the files this plan reads — materialize
        # first (sidecar-sized), same rule as the delete-side refresh
        .localCheckpoint()
    )
    out.write.mode("overwrite").parquet(idx_path)


def delete_from_shards(
    spark: SparkSession,
    path: str,
    ids: list,
    id_col: str = "doc_id",
    partition_col: str = "shard",
) -> dict:
    """Targeted deletion from a partitioned store (the
    right-to-be-forgotten path a training-data release must support):
    locate which partitions contain the ids (ONE scan, column-pruned
    to (id, partition) — the footer-indexed minimum; at 100 TB this
    is the cost of not keeping an id->partition index), then rewrite
    ONLY the touched partition directories under dynamic partition
    overwrite — untouched partitions keep their files byte-identical,
    so downstream consumers re-read a few hundred MB, not the corpus.
    ``partition_col`` defaults to the training-shard layout
    ("shard"); pass "cid" to delete vectors from the IVF embedding
    store (write_embeddings_by_centroid) — forgetting a document is
    incomplete while its embedding still answers ANN probes.

    Returns {"deleted": n, "shards_rewritten": [...]}.  A Bloom
    sidecar (write_shard_bloom_index) upgrades the locate to a
    candidate-shard pruned scan; a sidecar that was fresh at entry is
    incrementally REFRESHED after the rewrite (only the touched
    shards' rows recompute, plus the new store fingerprint), so a
    delete→delete sequence keeps the pruned locate path.  A sidecar
    that was already stale (e.g. an append since its build) stays
    stale — rebuild with write_shard_bloom_index; silently rebuilding
    here would hide a full-store job inside a bounded delete.  Shard
    sizes become ragged where deletions land
    (shard i no longer holds exactly docs_per_shard rows); rebuild
    with write_training_shards when raggedness matters more than
    rewrite cost.  Deletion is by id equality via an anti-join (NULL
    ids in the store are never equal to anything, so they always
    survive — a ~isin() filter dropped them under three-valued logic,
    caught in review); callers wanting near-dup-closure deletes
    should expand the id set with dup_clusters first.  ``ids`` is
    broadcast as a one-column dimension, so batch size is bounded by
    broadcast capacity (millions), not by isin-literal plan size."""
    idvals = [i for i in ids]
    if not idvals:
        return {"deleted": 0, "shards_rewritten": []}
    if any(v is None for v in idvals):
        # a NULL id cannot identify any row (NULL never equals
        # anything) — and str(None) would cast to the literal string
        # 'None' against a string id column, deleting the WRONG row
        raise ValueError(
            "delete_from_shards: NULL in the deletion id list"
        )
    store = spark.read.parquet(path)
    # ids arrive as whatever Python type the caller had; build the
    # dimension as strings and CAST to the store column's type so the
    # old isin() coercion behavior is kept (ints against a string id
    # column and vice versa keep working — review finding).  An id
    # the cast NULLifies (e.g. '12x' against bigint) would silently
    # match nothing and report a delete that did not happen: refuse.
    id_type = store.schema[id_col].dataType
    # try_cast, not cast: under ANSI mode (Spark 4 default) a plain
    # cast THROWS NumberFormatException mid-job on the first bad id —
    # try_cast yields NULL so the check below can name every bad one
    raw_ids = spark.createDataFrame(
        [(str(v),) for v in idvals], "__raw string"
    ).select(
        F.col("__raw"), F.col("__raw").try_cast(id_type).alias(id_col)
    )
    bad = [
        r["__raw"]
        for r in raw_ids.filter(F.col(id_col).isNull()).collect()
    ]
    if bad:
        raise ValueError(
            f"delete_from_shards: ids not castable to the store's "
            f"{id_type.simpleString()} id column: {bad[:5]}"
        )
    ids_df = F.broadcast(raw_ids.select(id_col).distinct())
    # NULL-shard rows are invisible to BOTH locate paths (NULL IN
    # (...) is NULL; the bloom candidates filter drops them the same
    # way), so check for them directly.  Rule-14 ordering: a healthy
    # store has no __HIVE_DEFAULT_PARTITION__ directory, so the check
    # is ONE filesystem existence probe (measured: the unconditional
    # semi-join cost ~1 s at 2,000 shards — as much as the locate it
    # was guarding); only when the directory exists does the Spark
    # semi-join run to see whether a requested id lives there.
    jvm = spark._jvm
    null_part = jvm.org.apache.hadoop.fs.Path(
        f"{path}/{partition_col}=__HIVE_DEFAULT_PARTITION__"
    )
    if null_part.getFileSystem(spark._jsc.hadoopConfiguration()).exists(
        null_part
    ):
        null_shard_hit = (
            store.filter(F.col(partition_col).isNull())
            .join(ids_df, id_col, "left_semi")
            .limit(1)
            .count()
        )
        if null_shard_hit:
            raise ValueError(
                "delete_from_shards: a requested id lives in a "
                "NULL-shard row — repair the store layout first (the "
                "rewrite cannot address that partition)"
            )
    # Bloom sidecar, when present and fresh, shrinks the locate scan
    # to its candidate shards (partition-pruned); the exact semi-join
    # inside the candidates removes Bloom false positives, and a
    # stale/absent sidecar falls back to the full column-pruned scan
    candidates = locate_shards_bloom(
        spark, path, idvals, id_col=id_col, id_type=id_type
    )
    locate_src = (
        store.filter(F.col(partition_col).isin(candidates))
        if candidates is not None
        else store
    )
    touched = [
        r[partition_col]
        for r in (
            locate_src.join(ids_df, id_col, "left_semi")
            .select(partition_col)
            .distinct()
            .collect()
        )
    ]
    if not touched:
        return {"deleted": 0, "shards_rewritten": []}
    affected = store.filter(F.col(partition_col).isin(touched))
    n_before = affected.count()
    # the write REPLACES files this plan reads — materialize the
    # survivors first (eager localCheckpoint, bounded by the touched
    # shards, never the corpus) or the overwrite job would scan the
    # very files it is deleting
    survivors = affected.join(ids_df, id_col, "left_anti").localCheckpoint()
    n_after = _overwrite_touched_partitions(
        spark, path, survivors, touched, partition_col
    )
    # Bloom sidecar lifecycle: the rewrite just moved the store
    # fingerprint, so a sidecar that was FRESH at entry (candidates is
    # not None) would now read stale and every later delete would pay
    # the full locate scan until someone rebuilt it.  The index is
    # shard-keyed, so refresh ONLY the touched shards' rows — cost
    # bounded by the shards this delete already rewrote, never the
    # store (round-10 VERDICT item 4).  A sidecar that was already
    # stale/absent stays as it was: silently rebuilding the whole
    # index here would hide an unbounded full-store job inside a
    # bounded delete.
    if candidates is not None:
        _refresh_shard_bloom_after_delete(
            spark, path, survivors, touched, id_col,
            partition_col=partition_col,
        )
    return {
        "deleted": n_before - n_after,
        "shards_rewritten": sorted(touched),
    }


def _overwrite_touched_partitions(
    spark: SparkSession,
    path: str,
    survivors: DataFrame,
    touched: list,
    partition_col: str,
) -> int:
    """Shared rewrite tail for the store-mutating plans
    (delete_from_shards, compact_keep_latest): write the materialized
    survivors over the touched partition directories and remove
    fully-emptied ones.  Returns the survivor row count.

    Dynamic partition overwrite is a per-WRITE DataFrameWriter option
    (Spark 2.4+), not a session-conf flip — mutating
    spark.sql.sources.partitionOverwriteMode would put any concurrent
    write in the same session under dynamic mode too (round-10
    ADVICE).  Dynamic overwrite replaces only partitions PRESENT in
    the written data: a fully-emptied partition writes nothing and
    its old files would silently survive — a compliance failure
    reported as success (caught in review).  Those directories are
    removed through the Hadoop FileSystem API (NOT driver-local
    shutil: a URI-form store path would silently skip the removal),
    refusing loudly when a directory is missing or the delete call
    reports failure by return value."""
    # one job yields both the survivor count and the kept set
    per_shard = survivors.groupBy(partition_col).count().collect()
    n_after = sum(r["count"] for r in per_shard)
    kept = {r[partition_col] for r in per_shard}
    (
        survivors.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("parquet.block.size", STORE_ROWGROUP_BYTES)
        .partitionBy(partition_col)
        .parquet(path)
    )
    emptied = [s for s in touched if s not in kept]
    if emptied:
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        for s in emptied:
            hpath = jvm.org.apache.hadoop.fs.Path(
                f"{path}/{partition_col}={s}"
            )
            if not fs.exists(hpath):
                raise RuntimeError(
                    f"emptied partition directory {hpath} not found — "
                    "store layout does not match the read path; its "
                    "rows were NOT removed"
                )
            if not fs.delete(hpath, True):
                # Hadoop FileSystem.delete reports failure by RETURN
                # VALUE on some implementations — treating it as void
                # would report a removal that did not happen
                raise RuntimeError(
                    f"failed to remove emptied partition directory "
                    f"{hpath}"
                )
    return n_after


def _refresh_shard_bloom_after_delete(
    spark: SparkSession,
    path: str,
    survivors: DataFrame,
    touched: list,
    id_col: str,
    partition_col: str = "shard",
) -> None:
    """Incremental sidecar maintenance: recompute the Bloom rows for
    the rewritten shards from the already-materialized survivor rows
    (the delete's localCheckpoint — bounded by the touched shards, no
    store re-read, and no schema-inference crash when the delete
    emptied the whole store), keep every untouched shard's row as-is,
    drop rows for shards the delete emptied, and stamp the new store
    fingerprint.  Deletion can only CLEAR ids, so recomputing touched
    rows keeps the no-false-negatives contract; stale positive bits
    in untouched rows were never possible (their files are
    byte-identical)."""
    idx_path = _shard_bloom_path(path)
    old = spark.read.parquet(idx_path)
    head = old.select("m_bits").first()
    m_bits = int(head["m_bits"])
    # NULL-safe keep filter: ~isin() is NULL for a NULL shard, which
    # would silently DROP an (unhealthy-store) NULL-shard bloom row on
    # every refresh — the same three-valued-logic class as the r10
    # ~isin() id-deletion bug; touched never contains NULL (the locate
    # paths can't see NULL shards and the guard raises if one matters)
    kept_rows = old.select("shard", "bloom").filter(
        F.col("shard").isNull() | ~F.col("shard").isin(touched)
    )
    new_rows = _shard_bloom_rows(
        survivors.select(partition_col, id_col), id_col, m_bits,
        partition_col=partition_col,
    )
    out = (
        kept_rows.unionByName(new_rows)
        .withColumn("m_bits", F.lit(m_bits))
        .withColumn(
            "store_fp", F.lit(_store_fingerprint(spark, path))
        )
        # preserve the build-time id-column stamp (validated fresh by
        # the caller's _sidecar_m_bits_if_fresh(id_col=...) gate)
        .withColumn("id_col", F.lit(id_col))
        # the write REPLACES the files this plan reads — materialize
        # first (shard-count-sized, never the corpus), same rule as
        # the survivor rewrite above
        .localCheckpoint()
    )
    out.write.mode("overwrite").parquet(idx_path)


def _shard_bloom_path(path: str) -> str:
    return path.rstrip("/") + ".bloom_index"


def _store_fingerprint(spark: SparkSession, path: str) -> str:
    """Filesystem-level fingerprint of a store: md5 over the sorted
    (relative path, size) of every data file.  Pure metadata — no
    Spark job, no data read — so a freshness check against it costs
    one directory listing, not a scan.  Any mutation (append, delete,
    rewrite) moves it.

    URI-form stores (hdfs://, s3a://) list through the Hadoop
    FileSystem API, matching delete_from_shards' delete path: a
    driver-local os.walk returned an EMPTY listing for them, so the
    sidecar embedded a fingerprint of nothing and silently never
    activated (round-10 ADVICE).  Plain local paths keep os.walk;
    the URI branch is BATCHED (round-11 VERDICT item 5) — see
    _hadoop_listing_entries.  Both branches emit identical
    (relpath, size) entries so a store fingerprinted under either
    spelling agrees (test-pinned)."""
    import hashlib
    import os
    from urllib.parse import urlparse

    scheme = urlparse(path).scheme
    entries = []
    if scheme in ("", "file"):
        root = urlparse(path).path if scheme == "file" else path
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    full = os.path.join(dirpath, f)
                    entries.append(
                        (
                            os.path.relpath(full, root),
                            os.path.getsize(full),
                        )
                    )
    else:
        entries = _hadoop_listing_entries(spark, path)
    return hashlib.md5(repr(sorted(entries)).encode()).hexdigest()


def _hadoop_listing_entries(spark: SparkSession, path: str) -> list:
    """BATCHED (relpath, size) listing of a URI-form store: ONE
    metadata-only Spark listing job through the ``binaryFile`` source
    (content is never read — selecting only path/length keeps the
    format at its FileIndex; one Arrow-batched collect), so the py4j
    cost is constant regardless of file count, and past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32
    directories) the listing itself DISTRIBUTES across executors —
    the only form that holds at an 800k-file 100 TB store (round-11
    VERDICT item 5).  Measured at 2,000 local shards: 3.7 s vs
    23.0 s for the r11 per-file py4j iterator (a glob + JVM-side
    stringOf batch measured 42 s — FileStatus.toString triggers
    RawLocalFileSystem's per-file permission exec, a trap any
    toString-parsing approach inherits).  Entries are byte-identical
    to the os.walk branch's (test-pinned), so a store fingerprinted
    under either spelling agrees.  This IS a (metadata-only) Spark
    job, unlike the local branch — the honest price of an object
    store, where even one LIST round-trip dwarfs a local stat."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    root_str = fs.makeQualified(hpath).toString()
    rows = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "length")
        .collect()
    )
    return [
        (r["path"][len(root_str):].lstrip("/"), int(r["length"]))
        for r in rows
    ]


def write_shard_bloom_index(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    m_bits: int = 1 << 17,
    partition_col: str = "shard",
) -> str:
    """Per-shard Bloom sidecar over the shard store's ids: one row per
    shard carrying (shard, bloom map<word,bits>, m_bits, store_fp),
    built with the
    same engine-portable position hash the dedup Bloom uses
    (dedup.bloom_positions).  Sized at the default 2^17 bits/shard a
    10-bits-per-id budget covers ~13k docs per shard — raise m_bits
    with docs_per_shard.  The store's filesystem fingerprint at build
    time ships alongside (``_store_fingerprint``: metadata-only, no
    scan) so consumers detect a STALE index — appends after the build
    would give the one thing a Bloom must never give: false
    negatives — and fall back to the exact scan.  Mutations through
    this module's own plans keep the index fresh incrementally
    (delete_from_shards refreshes touched rows;
    upsert_embeddings_by_centroid OR-merges the batch); only an
    out-of-band append leaves it stale until rebuilt.  A first cut
    verified freshness with per-shard row counts instead; that
    re-read the same store metadata the locate scan reads and was
    MEASURED SLOWER than the scan it replaced (7.96 s vs 5.19 s at
    2,000 shards) — the fingerprint walk is the no-job form."""
    store = spark.read.parquet(path).select(partition_col, id_col)
    idx = _shard_bloom_rows(
        store, id_col, int(m_bits), partition_col=partition_col
    )
    out = _shard_bloom_path(path)
    (
        idx.withColumn("m_bits", F.lit(int(m_bits)))
        .withColumn("store_fp", F.lit(_store_fingerprint(spark, path)))
        # the id column the bloom was hashed over is part of the
        # sidecar's contract: a consumer probing a DIFFERENT column
        # (e.g. an upsert merging under id_col='vec_id' onto a sidecar
        # built over 'doc_id') would stamp a fresh-reading sidecar
        # whose appended ids never bloom — a silent false-negative
        # class (round-11 ADVICE).  Stamp it so every reader/merger
        # validates the match and degrades to stale instead.
        .withColumn("id_col", F.lit(id_col))
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def _shard_bloom_rows(
    store_slice: DataFrame,
    id_col: str,
    m_bits: int,
    partition_col: str = "shard",
) -> DataFrame:
    """(shard, bloom) rows from a (partition, id) slice — ONE builder
    shared by the full sidecar build and the post-delete incremental
    refresh, so any change to the hash/word layout applies to both by
    construction (the write_embeddings_by_centroid one-recipe rule).
    The SIDECAR column is always named "shard" whatever the store's
    partition column is called — the sidecar schema is its own
    contract (locate and the refresh keep working on a cid store
    without a schema migration)."""
    from ..operators.dedup import _bit_masks, bloom_positions

    pos = store_slice.select(
        F.col(partition_col).alias("shard"),
        F.explode(
            bloom_positions(F.col(id_col).cast("string"), int(m_bits))
        ).alias("p"),
    ).distinct()
    words = pos.groupBy(
        "shard", (F.col("p") / F.lit(32)).cast("long").alias("w")
    ).agg(
        F.bit_or(
            F.element_at(
                _bit_masks(), F.pmod(F.col("p"), F.lit(32)).cast("int") + 1
            )
        ).alias("bits")
    )
    return words.groupBy("shard").agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias(
            "bloom"
        )
    )


def locate_shards_bloom(
    spark: SparkSession,
    path: str,
    ids: list,
    id_col: str = "doc_id",
    id_type=None,
) -> list | None:
    """Candidate shards for the ids via the Bloom sidecar — or None
    when the sidecar is absent or STALE (the store's filesystem
    fingerprint moved since the build: appends would mean false
    negatives, the one failure a locate must never have; deletions
    are safe but move the fingerprint too — rebuild after any
    mutation).  The freshness check is a metadata-only directory
    walk, never a Spark job.  False positives are expected and
    harmless: the caller re-checks exactly inside the candidate
    shards, partition-pruned.  Probe ids that fail the id-type
    round-trip RAISE (mirroring delete_from_shards' pre-validation):
    silently excluding a malformed id from the candidate search is
    the same silent-miss failure the delete path refuses."""
    idx_path = _shard_bloom_path(path)
    # Hadoop FS existence probe, not os.path.exists: a URI-form store
    # (hdfs://, s3a://) would read as absent and silently disable the
    # sidecar (round-10 ADVICE — same fix as _store_fingerprint)
    jvm = spark._jvm
    success = jvm.org.apache.hadoop.fs.Path(idx_path + "/_SUCCESS")
    if not success.getFileSystem(spark._jsc.hadoopConfiguration()).exists(
        success
    ):
        return None
    idx = spark.read.parquet(idx_path)
    # a sidecar hashed over a DIFFERENT id column than the probe's
    # would return confidently wrong candidates (bloom false
    # negatives against the probed column) — validate the build-time
    # stamp and fall back to the exact scan on mismatch; a pre-stamp
    # sidecar (no id_col column) is unverifiable → same fallback
    if "id_col" not in idx.columns:
        return None
    head = idx.select("store_fp", "m_bits", "id_col").first()
    if (
        head is None
        or head["id_col"] != id_col
        or head["store_fp"] != _store_fingerprint(spark, path)
    ):
        return None
    from ..operators.dedup import _bit_masks, bloom_positions

    # the index hashed cast(stored_id AS string); probe ids must be
    # normalized through the SAME type round-trip or a differently
    # spelled id ('007' for bigint 7) hashes differently and produces
    # a bloom FALSE NEGATIVE — the one failure a locate must never
    # have (round-10 fourth review).  Callers that already hold the
    # store schema pass id_type to skip a second 2,000-directory
    # listing (measured: the re-list cost more than the whole probe)
    if id_type is None:
        id_type = spark.read.parquet(path).schema[id_col].dataType
    raw = spark.createDataFrame(
        [(str(i),) for i in ids], "__raw string"
    ).select(
        "__raw",
        F.col("__raw").try_cast(id_type).cast("string").alias("__fp"),
    )
    bad = [r["__raw"] for r in raw.filter(F.col("__fp").isNull()).collect()]
    if bad:
        raise ValueError(
            f"locate_shards_bloom: ids not castable to the store's "
            f"{id_type.simpleString()} id column: {bad[:5]}"
        )
    ids_df = raw.select("__fp").distinct()
    m_bits = head["m_bits"]
    bloom = F.col("bloom")
    probe = F.forall(
        bloom_positions(F.col("__fp"), int(m_bits)),
        lambda p: (
            F.coalesce(
                F.element_at(bloom, (p / F.lit(32)).cast("long")),
                F.lit(0).cast("long"),
            ).bitwiseAND(
                F.element_at(
                    _bit_masks(), F.pmod(p, F.lit(32)).cast("int") + 1
                )
            )
            != 0
        ),
    )
    hits = (
        idx.crossJoin(F.broadcast(ids_df))
        .filter(probe)
        .select("shard")
        .distinct()
        .collect()
    )
    return [r["shard"] for r in hits]


def expand_ids_with_duplicates(
    edges: DataFrame,
    ids: list,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    out_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Near-duplicate closure of a deletion id set: every id sharing a
    connected component with a seed in the (LSH-bounded) near-dup edge
    graph, plus the seeds themselves (a seed with no edges is its own
    closure).  This is the expansion delete_from_shards' docstring
    asks callers to run first — right-to-be-forgotten over training
    data is incomplete if a byte-identical or near-identical copy of
    the forgotten document survives under a different id.

    Scale shape: connected_components over the edge list (bucket-
    bounded, never corpus²; driver union-find below 2M edges), then
    two BROADCAST semi-joins — the seed set and the touched-component
    set are request-sized, so the expansion never shuffles the
    component table.  Output is one distinct ``out_col`` column."""
    from ..operators.pipeline import connected_components

    spark = edges.sparkSession
    if any(v is None for v in ids):
        raise ValueError(
            "expand_ids_with_duplicates: NULL in the seed id list"
        )
    node_type = edges.schema[src_col].dataType
    seeds = spark.createDataFrame(
        [(v,) for v in ids],
        T.StructType([T.StructField("node", node_type, False)]),
    ).distinct()
    comp = connected_components(
        edges, max_iter=max_iter, src_col=src_col, dst_col=dst_col
    )
    hit = (
        comp.join(F.broadcast(seeds), "node", "left_semi")
        .select("component")
        .distinct()
    )
    members = comp.join(
        F.broadcast(hit), "component", "left_semi"
    ).select("node")
    return (
        members.unionByName(seeds)
        .distinct()
        .withColumnRenamed("node", out_col)
    )


def delete_with_closure(
    spark: SparkSession,
    path: str,
    ids: list,
    edges: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 20,
    **near_dup_kwargs,
) -> dict:
    """Right-to-be-forgotten deletion WITH near-duplicate closure in
    one plan: expand the requested ids to their dup-cluster members
    (expand_ids_with_duplicates), then rewrite only the touched shard
    directories (delete_from_shards — Bloom-pruned locate, dynamic
    partition overwrite, incremental sidecar refresh).

    ``edges`` is the near-dup edge graph to close over.  Pass a
    precomputed one (e.g. candidate pairs from the incremental
    MinHash band store — ensure_minhash_bands / incremental_near_dup
    keep it current at append time, so the delete pays NO corpus
    scan for candidates); with ``edges=None`` the plan computes
    verified_near_dup_edges over the store's (id, text) itself — one
    corpus scan, the ad-hoc form for stores without a band sidecar.

    Returns delete_from_shards' report plus ``requested`` (distinct
    seed ids) and ``closure`` (ids after expansion, >= requested).
    Doc-store-only form of forget_documents (one shared
    implementation — a drifted copy of the closure/validation logic
    is how two "identical" plans diverge)."""
    rep = forget_documents(
        spark, path, ids, vec_store=None, edges=edges,
        id_col=id_col, text_col=text_col, max_iter=max_iter,
        **near_dup_kwargs,
    )
    out = dict(rep["docs"])
    out["requested"] = rep["requested"]
    out["closure"] = rep["closure"]
    return out


def compact_keep_latest(
    spark: SparkSession,
    path: str,
    id_col: str,
    order_col: str,
    partition_col: str = "shard",
) -> dict:
    """Latest-wins compaction for an append-mode store — the merge
    step parquet doesn't have, and the companion
    upsert_embeddings_by_centroid's docstring promises ("same-id
    semantics are APPEND ... run a compaction that keeps the
    latest"): for every id with more than one row, keep only the row
    with the greatest ``order_col`` (ties and remaining columns break
    by the greatest full-row struct — a deterministic total order, so
    re-running compaction is idempotent and byte-repeatable), and
    rewrite ONLY the partitions that contain a duplicated id.

    Scale shape: one column-pruned scan finds duplicated ids (hash
    agg on id — map-side combined); the touched-partition set is the
    partitions holding any of them (an id's copies may span
    partitions — e.g. upserts after a codebook refit — and every
    partition holding a duplicated id is touched BY DEFINITION, so
    the per-id max never needs to look outside the affected slice);
    the rewrite is bounded by the touched partitions, reusing the
    delete path's overwrite tail (dynamic per-write overwrite,
    emptied-directory removal) and its Bloom-sidecar refresh — the id
    SET only shrinks per partition, so refreshing touched rows keeps
    the no-false-negatives contract.

    NULL-id rows pass through untouched (NULL is not "the same id" as
    another NULL — collapsing them would destroy distinct rows; the
    same three-valued-logic trap as the delete path's ~isin()).

    Returns {"rows_removed": n, "partitions_rewritten": [...]}."""
    store = spark.read.parquet(path)
    dup_ids = (
        store.filter(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select(id_col)
    )
    # NULL-partition guard, mirrored from delete_from_shards: a
    # duplicated id with a copy in a NULL/__HIVE_DEFAULT_PARTITION__
    # row would put None into `touched` — isin(touched) then silently
    # EXCLUDES those rows from the rewrite (NULL IN (...) is NULL) and
    # the emptied-directory check would raise only AFTER the store was
    # partially rewritten (and sorted(touched) TypeErrors on
    # None/int).  Same rule-14 ordering: ONE filesystem existence
    # probe (a healthy store has no such directory); the Spark
    # semi-join runs only when the directory exists — and the raise
    # happens BEFORE any rewrite.
    jvm = spark._jvm
    null_part = jvm.org.apache.hadoop.fs.Path(
        f"{path}/{partition_col}=__HIVE_DEFAULT_PARTITION__"
    )
    if null_part.getFileSystem(spark._jsc.hadoopConfiguration()).exists(
        null_part
    ):
        null_part_hit = (
            store.filter(F.col(partition_col).isNull())
            .join(dup_ids, id_col, "left_semi")
            .limit(1)
            .count()
        )
        if null_part_hit:
            raise ValueError(
                "compact_keep_latest: a duplicated id lives in a "
                "NULL-partition row — repair the store layout first "
                "(the rewrite cannot address that partition)"
            )
    touched = [
        r[partition_col]
        for r in store.join(dup_ids, id_col, "left_semi")
        .select(partition_col)
        .distinct()
        .collect()
    ]
    if not touched:
        return {"rows_removed": 0, "partitions_rewritten": []}
    fresh_m_bits = _sidecar_m_bits_if_fresh(spark, path, id_col=id_col)
    affected = store.filter(F.col(partition_col).isin(touched))
    n_before = affected.count()
    other = [
        c for c in store.columns if c not in (id_col, order_col)
    ]
    winners = (
        affected.filter(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(F.max(F.struct(order_col, *other)).alias("__w"))
        .select(id_col, "__w.*")
        .select(*store.columns)
    )
    survivors = (
        winners.unionByName(
            affected.filter(F.col(id_col).isNull())
        )
        # the write REPLACES files this plan reads — materialize first
        # (touched-partition-bounded, never the corpus)
        .localCheckpoint()
    )
    n_after = _overwrite_touched_partitions(
        spark, path, survivors, touched, partition_col
    )
    if fresh_m_bits is not None:
        _refresh_shard_bloom_after_delete(
            spark, path, survivors, touched, id_col,
            partition_col=partition_col,
        )
    return {
        "rows_removed": n_before - n_after,
        "partitions_rewritten": sorted(touched),
    }


def forget_documents(
    spark: SparkSession,
    doc_store: str,
    ids: list,
    vec_store: str | None = None,
    edges: DataFrame | None = None,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_partition_col: str = "cid",
    text_col: str = "text",
    max_iter: int = 20,
    pq_store: str | None = None,
    ivf_pq_store: str | None = None,
    **near_dup_kwargs,
) -> dict:
    """The COMPLETE right-to-be-forgotten plan: expand the requested
    ids over the near-dup graph ONCE (expand_ids_with_duplicates),
    then delete the closure from the document shard store AND — when
    ``vec_store`` is given — from the cid-partitioned embedding store
    (doc ids and vec ids share the id space in this engine, as the
    hybrid/ANN gates assume) AND — when ``pq_store`` is given — from
    the trained-PQ codes store (build_trained_pq_store's layout: a
    compressed CODE of a forgotten document still answers ADC probes
    after the text and the float vector are gone — every derived
    representation must forget) AND — when ``ivf_pq_store`` is given
    — from BOTH tiers of the IVF-pruned trained store
    (build_trained_ivf_pq_store's cid-partitioned codes AND vectors
    directories; each is a touched-partition-bounded rewrite like the
    rest).  Forgetting is incomplete if a
    near-copy of the text survives under another id or any
    representation keeps answering queries; this plan closes all of
    them in one call, each store rewritten only in its touched
    partitions (id-hash ``pbucket`` dirs for the codes store) with
    its Bloom sidecar refreshed where one exists.

    ``edges`` as in delete_with_closure: a precomputed near-dup edge
    graph (the band store's candidates — zero corpus scan), or None
    to compute verified edges from the doc store's text ad hoc.

    Returns {"requested", "closure", "docs": <doc-store report>,
    "vectors": <vector-store report or None>, "pq_codes":
    <codes-store report or None>}."""
    idvals = list(ids)
    if not idvals:
        empty = {"deleted": 0, "shards_rewritten": []}
        return {
            "requested": 0, "closure": 0,
            "docs": dict(empty),
            "vectors": None if vec_store is None else dict(empty),
            "pq_codes": None if pq_store is None else dict(empty),
            "ivf_pq": None if ivf_pq_store is None else {
                "codes": dict(empty), "vectors": dict(empty),
            },
        }
    if any(v is None for v in idvals):
        raise ValueError("forget_documents: NULL in the deletion ids")
    if edges is None:
        from ..operators.dedup import verified_near_dup_edges

        docs = spark.read.parquet(doc_store).select(id_col, text_col)
        edges = verified_near_dup_edges(
            docs, id_col=id_col, text_col=text_col, **near_dup_kwargs
        )
        src, dst = "id_a", "id_b"
    else:
        src = near_dup_kwargs.pop("src_col", "id_a")
        dst = near_dup_kwargs.pop("dst_col", "id_b")
        if near_dup_kwargs:
            raise TypeError(
                "forget_documents: near-dup kwargs "
                f"{sorted(near_dup_kwargs)} only apply when edges=None"
            )
    expanded = [
        r[0]
        for r in expand_ids_with_duplicates(
            edges, idvals, src_col=src, dst_col=dst,
            out_col=id_col, max_iter=max_iter,
        ).collect()
    ]
    # The per-store deletes are INDEPENDENT (distinct store paths,
    # same already-collected closure list), and each is a chain of
    # small jobs (cast check, locate scan, touched-partition rewrite)
    # whose tails leave most executors idle — submit them from a
    # small thread pool so the next store's jobs back-fill the
    # current one's stragglers (guide §2.6 overlap-independent-jobs;
    # Spark's scheduler runs concurrent actions FIFO, which is the
    # back-fill behavior wanted).  Measured sf0.1 same-session A/B on
    # the forget gate (doc+vec stores): 8.54 -> 6.01 s min-of-5.
    # Results are collected by store name, so report structure and
    # values are unchanged; the touched-partition writes go to
    # DISTINCT store paths and use the per-write partitionOverwriteMode
    # option (no session-conf race — see _overwrite_touched_partitions).
    import os
    from concurrent.futures import ThreadPoolExecutor

    tasks: dict[str, tuple] = {
        "docs": (doc_store, id_col, "shard"),
    }
    if vec_store is not None:
        tasks["vectors"] = (vec_store, vec_id_col, vec_partition_col)
    if pq_store is not None:
        tasks["pq_codes"] = (
            os.path.join(pq_store, "codes"), vec_id_col, "pbucket",
        )
    if ivf_pq_store is not None:
        base = ivf_pq_store.rstrip("/")
        tasks["ivf_pq_codes"] = (f"{base}/codes", vec_id_col, "cid")
        tasks["ivf_pq_vectors"] = (f"{base}/vectors", vec_id_col, "cid")

    def _delete(spec: tuple) -> dict:
        p, idc, pc = spec
        return delete_from_shards(
            spark, p, expanded, id_col=idc, partition_col=pc
        )

    with ThreadPoolExecutor(max_workers=min(3, len(tasks))) as pool:
        futs = {name: pool.submit(_delete, spec) for name, spec in tasks.items()}
        reports = {name: f.result() for name, f in futs.items()}
    doc_report = reports["docs"]
    vec_report = reports.get("vectors")
    pq_report = reports.get("pq_codes")
    ivf_pq_report = None
    if ivf_pq_store is not None:
        ivf_pq_report = {
            "codes": reports["ivf_pq_codes"],
            "vectors": reports["ivf_pq_vectors"],
        }
    return {
        "requested": len(set(idvals)),
        "closure": len(expanded),
        "docs": doc_report,
        "vectors": vec_report,
        "pq_codes": pq_report,
        "ivf_pq": ivf_pq_report,
    }
