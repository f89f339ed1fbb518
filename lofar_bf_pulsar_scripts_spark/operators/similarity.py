"""Similarity search over embedding columns (BASELINE.json north
star): brute-force cosine top-k as the exact baseline, IVF-bucketed
approximate variant as the 100 TB scale path.

Scale design:
* Query set is broadcast (it is small by definition); candidate scoring
  is a map-side projection over the corpus — no shuffle of the corpus.
* Top-k uses a two-stage aggregation (partial top-k per partition-ish
  bucket, then final) rather than a global row_number window, so no
  single reducer sees the whole corpus per query.
* Dot products are sequential left-folds over the array — bit-identical
  to the DuckDB oracle's list_aggregate('sum').
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float arrays (double acc)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def int8_quantize(vec: Column) -> tuple[Column, Column]:
    """Symmetric int8 quantization of a float-vector column: scale =
    max|x|/127, q_i = floor(x_i/max|x| * 127 + 0.5) (all-zero vectors
    quantize to zeros). Returns (max_abs, quantized BIGINT array).

    Embedding stores ship int8 for 4x less IO; the quantization is a
    per-row sequential array expression — codegen'd, no shuffle, and
    bit-deterministic across engines (float->double widening is exact;
    every op is one fixed IEEE expression per element).

    Both the widened array and its max are bound ONCE as lambda
    variables (``transform(array(...), ...)[0]``): a captured outer
    expression inside a HOF lambda is re-evaluated per element, so the
    original form recomputed array_max(|x|) for EVERY element —
    O(dims²) per row (the word_shingles/pitfall-1 lambda class, caught
    by the r5 noop audit)."""

    def with_xd(xd: Column) -> Column:
        m = F.array_max(F.transform(xd, lambda x: F.abs(x)))

        def with_m(m: Column) -> Column:
            q = F.when(
                m > 0,
                F.transform(
                    xd, lambda x: F.floor(x / m * 127 + F.lit(0.5))
                ),
            ).otherwise(F.transform(xd, lambda x: F.lit(0).cast("bigint")))
            return F.struct(m.alias("m"), q.alias("q"))

        return F.transform(F.array(m), with_m)[0]

    st = F.transform(
        F.array(F.transform(vec, lambda x: x.cast("double"))), with_xd
    )[0]
    return st["m"], st["q"]


def two_stage_topk(
    scored: DataFrame,
    k: int,
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    score_col: str = "cos",
    partial_buckets: int = 32,
) -> DataFrame:
    """Distributed top-k reduction over (query, id, score) rows.

    Stage 1 groups by (query, id-hash bucket) keeping the k best per
    bucket (map-side combinable HashAggregate); stage 2 merges the
    per-bucket lists — any single reducer sees at most k×buckets
    candidates, never the corpus. Ties break to the smaller id
    (deterministic). Shared by the exact, IVF, and LSH top-k paths.
    """
    # rank struct: higher score first, then smaller id — encoded so
    # that array_sort ascending yields the best first.
    rank = F.struct(
        (-F.col(score_col)).alias("neg"),
        F.col(id_col).alias("id"),
        F.col(score_col).alias("s"),
    )
    partial = scored.groupBy(
        query_id_col,
        F.pmod(F.crc32(F.col(id_col).cast("string")), partial_buckets).alias(
            "__bkt"
        ),
    ).agg(F.slice(F.array_sort(F.collect_list(rank)), 1, k).alias("__top"))
    return (
        partial.groupBy(query_id_col)
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list(F.col("__top")))), 1, k
            ).alias("__top")
        )
        .select(query_id_col, F.explode("__top").alias("__t"))
        .select(
            query_id_col,
            F.col("__t.id").alias(id_col),
            F.col("__t.s").alias(score_col),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    partial_buckets: int = 32,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries, score all
    corpus rows, two-stage top-k (see ``two_stage_topk``).
    Returns (qid, vec_id, cos) with exactly k rows per query.
    """
    from .skew import spread_small_scan

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
        )
    )
    # the per-row cosine fold is interpreted HOF work fused into the
    # corpus scan — spread a single-task sandbox scan so it does not
    # run on one core (r15; no-op at corpus scale)
    scored = (
        spread_small_scan(corpus.select(id_col, vec_col)).crossJoin(q)
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            cosine(F.col("__qvec"), F.col(vec_col)).alias("cos"),
        )
    )
    return two_stage_topk(
        scored, k, id_col=id_col, query_id_col=query_id_col,
        partial_buckets=partial_buckets,
    )


def _np_quantized_scores(X, C, scale: float):
    """Integer-quantized pairwise dot products: s[i, j] =
    sum_d floor((X[i,d] * C[j,d]) * scale + 0.5) as int64.  Every
    per-dim product is floored to an integer (one fixed IEEE float64
    expression per element, < 2^53 so exactly representable) and int64
    sums are associative, so nearest-centroid comparisons over this
    score can never flip with summation order — the same expression
    the DuckDB oracle SQL evaluates.  With unit-ish embeddings and 64
    dims the score is bounded by ~64 * scale/4, far inside int64 at
    scale 1e12.  Chunked over both axes so the B x k x d intermediate
    stays ~tens of MB."""
    import numpy as np

    out = np.empty((len(X), len(C)), dtype=np.int64)
    row_step = max(1, (1 << 23) // max(1, C.shape[0] * C.shape[1]))
    for i0 in range(0, len(X), row_step):
        Xc = X[i0:i0 + row_step]
        for j0 in range(0, len(C), 128):
            Cc = C[j0:j0 + 128]
            prods = np.floor((Xc[:, None, :] * Cc[None, :, :]) * scale + 0.5)
            out[i0:i0 + row_step, j0:j0 + 128] = prods.astype(
                np.int64
            ).sum(axis=-1, dtype=np.int64)
    return out


def _np_self_scores(X, scale: float):
    """Quantized self dot product x.x per row, same exactness
    contract as _np_quantized_scores."""
    import numpy as np

    prods = np.floor((X * X) * scale + 0.5)
    return prods.astype(np.int64).sum(axis=-1, dtype=np.int64)


def _np_l2_scores(X, C, scale: float):
    """Quantized 2*x.c - |c|^2 per (row, centroid): argmax over it is
    argmin |x - c|^2, in the integer form the oracle SQL evaluates."""
    return 2 * _np_quantized_scores(X, C, scale) - _np_self_scores(C, scale)


def _np_dot_scores(X, C):
    """Pairwise dot products s[i, j] = X[i] . C[j] as a sequential
    float64 fold over the dims in ascending order: one product and one
    add per dim, in the order the column ``dot`` folds them, so the
    scores are bit-identical to it."""
    import numpy as np

    out = np.zeros((len(X), len(C)))
    for d in range(C.shape[1]):
        out += X[:, d, None] * C[None, :, d]
    return out


def _np_top_cells(S, n: int):
    """Column indices of the ``n`` best cells per row of the score
    matrix ``S``, best first, under the order (score desc, cell id
    asc) — the columns of ``S`` must be in ascending cell-id order, so
    the stable sort breaks ties toward the smaller id."""
    import numpy as np

    return np.argsort(-S, axis=1, kind="stable")[:, :n]


def _np_valid(vectors, dims: int):
    """(mask, X): which of ``vectors`` (an Arrow list array, or
    collected lists with None for NULL) are usable — non-NULL, exactly
    ``dims`` long, no NULL or NaN element (a NULL element reads as NaN)
    — and those vectors as a float64 matrix.  Nearest-cell selection
    ignores every other vector: it has no nearest cell."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if not isinstance(vectors, pa.Array):
        vectors = pa.array(vectors, type=pa.list_(pa.float64()))
    mask = pc.fill_null(
        pc.equal(pc.list_value_length(vectors), dims), False
    ).to_numpy(zero_copy_only=False).copy()
    X = (
        vectors.filter(pa.array(mask)).flatten()
        .to_numpy(zero_copy_only=False).astype(np.float64)
        .reshape(int(mask.sum()), dims)
    )
    ok = ~np.isnan(X).any(axis=1)
    mask[mask] = ok
    return mask, X[ok]


def _collect_cells(cells: DataFrame, id_col: str, vec_col: str, *extra):
    """A codebook-sized cell table on the driver, sorted by cell id:
    (ids, vectors as a float64 matrix, *extra id columns), each an
    array over the cells with a usable vector."""
    import numpy as np

    rows = sorted(
        cells.select(id_col, vec_col, *extra).collect(), key=lambda r: r[0]
    )
    dims = next((len(r[1]) for r in rows if r[1] is not None), 0)
    keep, C = _np_valid([r[1] for r in rows], dims)
    ids = np.asarray(
        [[r[0], *r[2:]] for r in rows], dtype=np.int64
    ).reshape(len(rows), 1 + len(extra))[keep]
    return (ids[:, 0], C, *ids[:, 1:].T)


def _assign_cells(
    corpus: DataFrame,
    vec_col: str,
    cell_col: str,
    cell_field: T.StructField,
    dims: int,
    route,
) -> DataFrame:
    """``corpus`` plus ``cell_col`` = ``route(X)`` (cell ids of the
    float64 vector matrix ``X``), in ONE Arrow-batched mapInArrow pass
    that carries every corpus column through: zero exchanges, no
    id-join back.  Rows whose vector is not usable (``_np_valid``) are
    DROPPED — a NULL vector has no nearest cell, and parking it on a
    fixed one would skew that cell's occupancy.  An existing
    ``cell_col`` is overwritten in place; the column takes the type of
    ``cell_field``."""
    from pyspark.sql.pandas.types import to_arrow_type

    fields = [cell_field if f.name == cell_col else f for f in corpus.schema]
    if cell_col not in corpus.columns:
        fields.append(cell_field)
    names = [f.name for f in fields]
    cell_type = to_arrow_type(cell_field.dataType)

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            keep, X = _np_valid(b.column(vec_col), dims)
            if not len(X):
                continue
            b = b.filter(pa.array(keep))
            cols = dict(zip(b.schema.names, b.columns))
            cols[cell_col] = pa.array(route(X)).cast(cell_type)
            yield pa.RecordBatch.from_arrays(
                [cols[n] for n in names], names=names
            )

    return corpus.mapInArrow(assign, schema=T.StructType(fields))


def kmeans_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    score_scale: float = 1e12,
) -> DataFrame:
    """Lloyd assignment step with a deterministic argmax: nearest
    centroid in L2 via the identity argmin|x-c|^2 = argmax(2*x.c -
    |c|^2), both terms integer-quantized (_np_quantized_scores); ties
    break toward the smallest centroid id. A raw dot product would be
    wrong here: the mean centroids kmeans_update produces are NOT
    unit-norm, and dot biases assignment toward large-norm centroids
    (dot is only a nearest-neighbor order for normalized vectors, as
    in ivf_assign's cosine setting).

    The centroids are collected to the driver (a model, never
    data-sized) and scored in ONE Arrow-batched numpy pass
    (``_assign_cells``).  Output is the corpus columns plus
    ``centroid_id_col``, typed as in ``centroids``; rows whose vector
    is NULL are dropped, the same contract as ``ivf_assign``."""
    cids, C = _collect_cells(centroids, centroid_id_col, vec_col)

    def route(X):
        return cids[_np_top_cells(_np_l2_scores(X, C, score_scale), 1)[:, 0]]

    return _assign_cells(
        corpus, vec_col, centroid_id_col,
        centroids.schema[centroid_id_col], C.shape[1], route,
    )


def kmeans_update(
    assigned: DataFrame,
    centroid_id_col: str = "cid",
    vec_col: str = "embedding",
    quant_scale: float = 1e6,
) -> DataFrame:
    """Lloyd update step in exact integer form: per (centroid, dim)
    the quantized coordinate sum and member count — the new centroid
    is sum_q / n / quant_scale, derived by the caller. posexplode is a
    map-side fan-out (x dims); the aggregation is one hash agg with
    map-side combine on a (n_centroids x dims) keyspace. The SUM runs
    in decimal(38,0) so partial aggregation cannot wrap int64
    silently; the bigint output cast then fails LOUDLY on a genuinely
    over-int64 total (Spark ANSI decimal->bigint overflow throws, and
    the DuckDB oracle's CAST(HUGEINT AS BIGINT) errors the same way)
    instead of propagating a wrapped value into the centroid."""
    exploded = assigned.select(
        F.col(centroid_id_col),
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    )
    vq = F.floor(F.col("__v").cast("double") * F.lit(float(quant_scale)) + F.lit(0.5))
    return exploded.groupBy(centroid_id_col, "dim").agg(
        F.sum(vq.cast("decimal(19,0)")).cast("bigint").alias("sum_q"),
        F.count(F.lit(1)).alias("n"),
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid (max dot, ties to the smaller centroid id) — the
    one-level case of ``routing_tree_assign``.  Results are
    bit-identical to the aggregation form the DuckDB oracles mirror
    FOR NON-NULL VECTORS.  Rows whose embedding is NULL are DROPPED,
    by contract: a null vector has no nearest centroid, and parking it
    on centroid 0 would skew that cell's occupancy (round-10 ADVICE:
    divergence documented).  An existing ``centroid_id_col`` in the
    corpus is overwritten; the output column takes the type of the
    centroids' id column."""
    return routing_tree_assign(
        corpus, [centroids], [centroid_id_col],
        id_col=id_col, vec_col=vec_col,
    )


def routing_tree_assign(
    corpus: DataFrame,
    levels: list[DataFrame],
    level_id_cols: list[str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L-level IVF routing tree (VERDICT r8 item 3 — the general form
    of two-level IVF ingest assignment): ``levels`` are centroid tables
    coarsest to finest; ``levels[0]`` carries (level_id_cols[0],
    vec_col), every deeper ``levels[i]`` additionally carries its
    parent's id column ``level_id_cols[i-1]`` (normally produced by
    ``ivf_assign(levels[i], levels[i-1])`` — codebook-sized jobs,
    negligible beside the corpus pass).

    Scale shape: with a codebook k proportional to N (the SemDeDup
    ingest contract), two-level routing through a CONSTANT-stride
    coarse codebook still pays N x k1 dots with k1 itself linear in
    N — the measured N^1.5-ish floor. An L-level tree with branching
    b = k^(1/L) pays N * L * b dots: L=3 turns the corpus cost into
    N^(4/3).  The level tables are codebook-sized: they are collected
    once to the driver, and the whole route — every level — runs in
    ONE Arrow-batched numpy pass over the corpus (``_assign_cells``),
    which scores each vector only against its parent cell's children
    (``_np_dot_scores``, the column ``dot``'s sequential fold bit for
    bit) and picks under (score desc, id asc) — the order the
    aggregation form the oracle mirrors uses.  The corpus pays ZERO
    exchanges.

    Transitive leaf ownership is enforced top-down, on the driver: a
    level-i centroid routes traffic only if some leaf centroid
    descends from it, else vectors routed into a childless cell would
    vanish from the assignment (measured at 2.3% of the 100x corpus
    under the earlier two-level router).

    Rows whose vector is NULL are dropped; the finest level's id
    column is added, or overwritten when the corpus already has it."""
    import numpy as np

    if len(levels) != len(level_id_cols) or not levels:
        raise ValueError("levels and level_id_cols must match, non-empty")
    tables = [_collect_cells(levels[0], level_id_cols[0], vec_col)]
    for lvl, lid, par in zip(levels[1:], level_id_cols[1:], level_id_cols):
        tables.append(_collect_cells(lvl, lid, vec_col, par))
    # transitive ownership, finest to coarsest
    for i in range(len(tables) - 2, -1, -1):
        owned = np.isin(tables[i][0], tables[i + 1][2])
        tables[i] = tuple(t[owned] for t in tables[i])
    ids0, C0 = tables[0][:2]
    # per level: parent cell id -> (child ids, child vectors)
    children = [
        {p: (ids[pars == p], C[pars == p]) for p in np.unique(pars)}
        for ids, C, pars in tables[1:]
    ]

    def route(X):
        cell = ids0[_np_top_cells(_np_dot_scores(X, C0), 1)[:, 0]]
        for kids in children:
            nxt = np.empty_like(cell)
            for p in np.unique(cell):
                rows = cell == p
                ids, C = kids[p]
                nxt[rows] = ids[
                    _np_top_cells(_np_dot_scores(X[rows], C), 1)[:, 0]
                ]
            cell = nxt
        return cell

    if not len(ids0):  # no cell owns a leaf: nothing can be routed
        corpus = corpus.limit(0)
    from .skew import spread_small_scan

    # the assigned corpus feeds per-row HOF work downstream (the IVF
    # probes' cosine, pq_encode): spread a single-task sandbox scan so
    # that work does not run on one core (a no-op at corpus scale)
    return _assign_cells(
        spread_small_scan(corpus), vec_col, level_id_cols[-1],
        levels[-1].schema[level_id_cols[-1]], C0.shape[1], route,
    )


def _ivf_query_probes(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    vec_col: str,
    query_id_col: str,
    centroid_id_col: str,
) -> DataFrame:
    """The IVF probes of a bounded query set, selected DRIVER-SIDE (a
    Spark pass would pay a crossJoin and a window for a handful of
    rows): each query's ``nprobe`` best centroids by dot under (score
    desc, cid asc).  Returns the broadcast probe rows
    ``(query_id_col, __qvec array<double>, centroid_id_col)``.  Queries
    whose vector is not usable (``_np_valid``: NULL, not exactly
    ``dims`` long, a NULL element) probe nothing, as in
    ``_lsh_query_probes`` — such a query would otherwise come back
    with NULL-cosine rows instead of being absent."""
    cids, C = _collect_cells(centroids, centroid_id_col, vec_col)
    qrows = queries.select(query_id_col, vec_col).collect()
    keep, Q = _np_valid([r[1] for r in qrows], C.shape[1])
    qids = [r[0] for r, k in zip(qrows, keep) if k]
    top = _np_top_cells(_np_dot_scores(Q, C), int(nprobe))
    rows = [
        (qid, [float(x) for x in qv], int(cids[j]))
        for qid, qv, js in zip(qids, Q, top)
        for j in js
    ]
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    cid_type = centroids.schema[centroid_id_col].dataType.simpleString()
    return F.broadcast(
        queries.sparkSession.createDataFrame(
            rows,
            f"`{query_id_col}` {qid_type}, __qvec array<double>, "
            f"`{centroid_id_col}` {cid_type}",
        )
    )


def ivf_topk(
    corpus_assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    centroid_id_col: str = "cid",
    partial_buckets: int = 32,
) -> DataFrame:
    """Approximate top-k: each query probes only its ``nprobe``
    closest centroids' partitions (``_ivf_query_probes``) — the corpus
    side can be partitioned by cid on disk, so a probe is a
    partition-pruned scan at scale.

    The final reduction is the same two-stage partial top-k as
    ``brute_force_topk`` (per-(query, id-bucket) k-best, then merge):
    a hot probed partition never funnels its whole candidate list
    through one reducer."""
    probes = _ivf_query_probes(
        queries, centroids, nprobe, vec_col, query_id_col, centroid_id_col
    )
    cand = corpus_assigned.join(probes, on=centroid_id_col).filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = cand.select(
        query_id_col,
        F.col(id_col),
        cosine(F.col("__qvec"), F.col(vec_col)).alias("cos"),
    )
    return two_stage_topk(
        scored, k, id_col=id_col, query_id_col=query_id_col,
        partial_buckets=partial_buckets,
    )


def kmeans_parallel_seeds(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int | None = None,
    rounds: int | None = None,
    score_scale: float = 1e12,
) -> tuple[list[list[float]], int]:
    """k-means|| seeding (Bahmani et al., VLDB 2012): O(log k) corpus
    passes instead of farthest-first's k-1 sequential scans — the
    shape that survives IVF-codebook k (2^14-2^16) on 100 TB, where
    k-1 full scans are tens of thousands of jobs.

    Per round: one pass computes each point's exact-integer squared
    distance to its nearest current candidate (broadcast candidates,
    the same argmax identity as kmeans_assign) and the total cost phi;
    each point is then admitted iff u(x) * phi < l * d2(x), where
    u(x) is a DETERMINISTIC uniform from md5(round, id) — Bahmani's
    independent sampling with the coin flips derandomized, expected l
    admissions per round. A final pass weights every candidate by its
    nearest-point count, and a driver-side weighted farthest-first
    over the ~l*rounds candidates (model-sized, never the corpus)
    selects the k seeds. Deterministic end-to-end: hash coins,
    integer-quantized distances, id-sorted candidate order, argmax
    ties to the lowest index.

    Each round's nearest-candidate scores are ONE Arrow-batched numpy
    pass (_np_quantized_scores) — an interpreted corpus x candidates
    crossJoin made codebook-scale k a minutes-per-fit affair (SCALE.md
    wave 16/17: the binding cost capping nlist at ~100).  Rows with a
    NULL vector take no part (kmeans_assign's drop contract).

    Returns (seed_vectors, n_rounds); n_rounds <= ceil(log2 k) + 1.
    """
    import math

    import numpy as np

    spark = corpus.sparkSession
    ell = int(oversample) if oversample else 2 * k
    n_rounds = (
        int(rounds) if rounds else max(1, math.ceil(math.log2(max(k, 2))))
    )
    src = corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    first = (
        src.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("kmeans seeding: corpus is empty")
    cand = [[float(x) for x in first[0][vec_col]]]
    rounds_run = 0
    for rnd in range(n_rounds):
        rounds_run = rnd + 1
        C = np.asarray(cand, dtype=np.float64)

        def d2_batches(batches, C=C):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                smax = _np_l2_scores(X, C, score_scale).max(axis=1)
                d2q = _np_self_scores(X, score_scale) - smax
                yield pd.DataFrame(
                    {id_col: pdf[id_col], vec_col: pdf[vec_col], "__d2q": d2q}
                )

        d2 = src.mapInPandas(
            d2_batches,
            schema=T.StructType(
                list(src.schema) + [T.StructField("__d2q", T.LongType())]
            ),
        )
        phi = d2.agg(F.sum("__d2q")).first()[0]
        phi = int(phi or 0)
        if phi <= 0:  # every point coincides with a candidate
            break
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.lit(str(rnd)), F.col(id_col).cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(float(16**15))
        )
        picked = (
            d2.filter(u * F.lit(float(phi)) < F.lit(float(ell)) * F.col("__d2q"))
            .select(id_col, vec_col)
            .collect()
        )
        for row in sorted(picked, key=lambda r: r[id_col]):
            cand.append([float(x) for x in row[vec_col]])
    # weight candidates by nearest-point counts (one assign-shaped pass)
    cdf = spark.createDataFrame(
        list(enumerate(cand)), f"cid int, {vec_col} array<double>"
    )
    wrows = (
        kmeans_assign(src, cdf, vec_col=vec_col, score_scale=score_scale)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    weights = np.zeros(len(cand))
    for r in wrows:
        weights[r["cid"]] = float(r["w"])
    vecs = np.array(cand, dtype="float64")
    if len(cand) <= k:  # degenerate: fewer candidates than seeds
        seeds = list(cand)
        while len(seeds) < k:
            seeds.append(seeds[len(seeds) % len(cand)])
        return seeds, rounds_run
    # deterministic weighted farthest-first over the candidate set
    chosen = [int(np.argmax(weights))]
    dmin = ((vecs - vecs[chosen[0]]) ** 2).sum(axis=1)
    while len(chosen) < k:
        nxt = int(np.argmax(weights * dmin))
        chosen.append(nxt)
        dmin = np.minimum(dmin, ((vecs - vecs[nxt]) ** 2).sum(axis=1))
    return [[float(x) for x in vecs[i]] for i in chosen], rounds_run


def seed_slice_mult(n_train: int, n_centroids: int) -> int:
    """Stride multiplier for the k-means|| seeding sub-slice: seeds
    need >= ~16 rows/cell of SPREAD, not the Lloyd slice's full
    refinement mass — and seeding cost is the one super-linear
    training term (train_rows x ~2k·log2 k scorings).  Stays 1 for
    every fixture/registry-scale fit (<= 8000 training rows at small
    k), so existing models are bit-identical."""
    seed_target = max(4000, 16 * int(n_centroids))
    return max(1, int(n_train) // seed_target)


def kmeans_fit(
    corpus: DataFrame,
    k: int,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: float = 1e6,
    score_scale: float = 1e12,
    tol_q: int = 0,
    seed_corpus: DataFrame | None = None,
):
    """Full Lloyd iteration to (near-)convergence. Returns
    (centroids_df, assigned_df, n_iters).

    Distance is exact-integer L2 argmin via the identity
    argmin|x-c|^2 = argmax(2*x.c - |c|^2), both terms integer-
    quantized — assignment is bit-deterministic in every iteration.

    Scale shape: each iteration is ONE distributed pass (driver-held
    centroids, Arrow-batched numpy scoring, hash agg on a (k x dims)
    keyspace);
    the per-iteration collect is k x dims rows — bounded by the model
    size, never the data. Centroids re-enter each iteration as a fresh
    literal DataFrame, so the corpus lineage never grows (the
    iterative-plan trap handled the same way as connected_components'
    truncation). Init is deterministic k-means|| seeding
    (``kmeans_parallel_seeds``): O(log k) corpus passes, so seeding
    stays cheap even at IVF-codebook k — unlike farthest-first's k-1
    sequential scans — while still spreading seeds across true
    clusters (which naive hash-order seeding does not, stranding Lloyd
    in split/merged local optima). Empty clusters keep their previous
    centroid.

    Train on a SAMPLED slice at codebook-scale k (pass
    ``corpus.filter(pmod(id, s) == 0)`` — the codebook is a model,
    not a sketch, and sampling is standard practice): the seeding
    scores the corpus against ~(2k·log k) candidates — the sampled
    fit plus a full-corpus kmeans_assign is the shape that holds at
    100 TB.  Rows with a NULL vector are dropped (kmeans_assign).

    ``seed_corpus`` (optional) seeds k-means|| from a SUB-slice of the
    training corpus while Lloyd iterates on the full one: the seeding
    rounds are the one remaining super-linear training term
    (train_rows x ~2k·log2 k scorings), but seeds only need SPREAD
    across true clusters — Lloyd owns refinement, and refinement is
    where training-data mass buys recall (wave 18: the 200k recall
    gap was Lloyd-data-bound, not seed-bound). Pass a deterministic
    subset (e.g. a stride multiple of the training slice) to keep the
    fit deterministic; None preserves the seed-on-everything form
    bit-for-bit."""
    spark = corpus.sparkSession

    seed_vecs, _ = kmeans_parallel_seeds(
        corpus if seed_corpus is None else seed_corpus,
        k, id_col=id_col, vec_col=vec_col,
        score_scale=score_scale,
    )
    cents = list(enumerate(seed_vecs))
    dims = len(cents[0][1]) if cents else 0
    n_iters = 0
    assigned = None
    for n_iters in range(1, max_iter + 1):
        cdf = spark.createDataFrame(
            cents, f"cid int, {vec_col} array<double>"
        )
        # kmeans_assign scores argmax(2*x.c - |c|^2) — exact-integer L2
        assigned = kmeans_assign(
            corpus.select(id_col, vec_col), cdf,
            vec_col=vec_col, score_scale=score_scale,
        )
        upd = {
            (r["cid"], r["dim"]): (r["sum_q"], r["n"])
            for r in kmeans_update(assigned, "cid", vec_col, quant_scale).collect()
        }
        new_cents, shift_q = [], 0
        for cid, vec in cents:
            if (cid, 0) not in upd:  # empty cluster keeps its centroid
                new_cents.append((cid, vec))
                continue
            nv = [
                upd[(cid, d)][0] / upd[(cid, d)][1] / quant_scale
                for d in range(dims)
            ]
            shift_q = max(
                shift_q,
                max(
                    abs(int(round(a * quant_scale)) - int(round(b * quant_scale)))
                    for a, b in zip(nv, vec)
                ),
            )
            new_cents.append((cid, nv))
        cents = new_cents
        if shift_q <= tol_q:
            break
    cdf = spark.createDataFrame(cents, f"cid int, {vec_col} array<double>")
    return cdf, assigned, n_iters


# --------------------------------------------------------------------
# Random-hyperplane (sign) LSH — the bucketed ANN alternative to IVF
# --------------------------------------------------------------------

_LSH_KNUTH = 2654435761  # Knuth multiplicative-hash constant
_LSH_MOD = 4294967296  # 2^32


def _np_sign_lsh(X, n_tables: int, n_bits: int, dims: int, scale: float):
    """Sign-LSH bucket ids of the rows of ``X`` (float64, n x dims) as
    int64[n, n_tables]: ``bucket_t = Σ_b bit(t*n_bits+b) << b``, where
    the bit is the sign of the integer-quantized dot of the row with
    hyperplane ``p = t*n_bits + b``.

    ``h_p[i] = ((1 + p*dims + i) * 2654435761 mod 2^32) / 2^32 - 0.5``
    for 1-based dim ``i``: an integer below 2^32 over a power of two,
    minus 0.5, is exact in a double, so any engine evaluating the
    closed form gets the same planes — no plane table to ship or
    store.  Each per-dim term is ``floor(x*h*scale + 0.5)``, one fixed
    IEEE double expression, and the terms are summed in int64, which
    is associative: the sign cannot flip with summation order.  This
    is the DuckDB oracle's arithmetic (registry ``_LSH_SIG_BASE``) bit
    for bit.  Collision probability rises with cosine similarity
    (Charikar sign-LSH); more tables trade compute for recall."""
    import numpy as np

    p = np.arange(n_tables * n_bits, dtype=np.int64)[:, None]
    i = np.arange(1, dims + 1, dtype=np.int64)[None, :]
    planes = ((1 + p * dims + i) * _LSH_KNUTH % _LSH_MOD) / _LSH_MOD - 0.5
    weights = np.left_shift(1, np.arange(n_bits, dtype=np.int64))
    out = np.empty((len(X), n_tables), dtype=np.int64)
    step = max(1, (1 << 21) // planes.size)  # ~16 MB of terms a chunk
    for r0 in range(0, len(X), step):
        terms = np.floor(X[r0:r0 + step, None, :] * planes * scale + 0.5)
        bits = terms.astype(np.int64).sum(axis=-1) > 0
        out[r0:r0 + step] = (
            bits.reshape(-1, n_tables, n_bits) * weights
        ).sum(axis=-1)
    return out


def _with_lsh_buckets(
    df: DataFrame,
    vec_col: str,
    n_tables: int,
    n_bits: int,
    dims: int,
    scale: float,
) -> DataFrame:
    """``df`` plus ``__sig array<bigint>``, the ``_np_sign_lsh`` buckets
    of each row, in ONE Arrow-batched mapInPandas pass that carries
    every input column through (no shuffle, no id-join back).  Rows
    whose vector is not exactly ``dims`` long are DROPPED — NULL
    included, size(NULL) = -1: such a vector has no buckets, and
    parking it in a fixed one would hand every query of that bucket a
    junk candidate (the degenerate-bucket trap ``lsh_buckets`` guards
    against for empty MinHash signatures)."""
    import numpy as np

    out_schema = T.StructType(
        list(df.schema)
        + [T.StructField("__sig", T.ArrayType(T.LongType()))]
    )

    def sign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            pdf["__sig"] = list(
                _np_sign_lsh(X, n_tables, n_bits, dims, scale)
            )
            yield pdf

    return df.filter(F.size(F.col(vec_col)) == dims).mapInPandas(
        sign, schema=out_schema
    )


def _lsh_query_probes(
    queries: DataFrame,
    query_id_col: str,
    vec_col: str,
    n_tables: int,
    n_bits: int,
    dims: int,
    scale: float,
    hamming_probes: int,
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """The sign-LSH probes of a bounded query set, hashed DRIVER-SIDE
    with ``_np_sign_lsh`` (a Spark pass would pay a job and a Python
    worker for a handful of rows).  Returns the probe rows
    ``(__qid, __qvec array<double>, tbl int, bkt bigint)``, one per
    query, table and probed bucket, and the sorted distinct
    ``(tbl, bkt)`` pairs they probe.

    ``hamming_probes=h`` is multi-probe LSH: each query also probes
    the h buckets at Hamming distance 1 obtained by flipping bit
    j < h of its own bucket, per table.  Queries whose vector is not
    exactly ``dims`` long (NULL included) probe nothing, as on the
    corpus side — such a query would otherwise come back with k
    NULL-cosine rows instead of being absent."""
    import numpy as np

    h = int(hamming_probes)
    if not 0 <= h <= n_bits:
        raise ValueError(
            f"hamming_probes={h} out of range [0, n_bits={n_bits}]"
        )
    qrows = [
        (r[0], [float(x) for x in r[1]])
        for r in queries.select(query_id_col, vec_col).collect()
        if r[1] is not None and len(r[1]) == dims
    ]
    sig = _np_sign_lsh(
        np.asarray([v for _, v in qrows], dtype=np.float64),
        n_tables, n_bits, dims, scale,
    )
    rows = [
        (qid, qv, t, b)
        for (qid, qv), buckets in zip(qrows, sig.tolist())
        for t, bkt in enumerate(buckets)
        for b in [bkt] + [bkt ^ (1 << j) for j in range(h)]
    ]
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    probes = queries.sparkSession.createDataFrame(
        rows, f"__qid {qid_type}, __qvec array<double>, tbl int, bkt bigint"
    )
    return probes, sorted({(t, b) for _, _, t, b in rows})


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
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
    """Approximate cosine top-k via random-hyperplane LSH buckets —
    the LSH-bucketed ANN variant complementing ``ivf_topk``.

    ``hamming_probes=h`` enables multi-probe LSH (see
    ``_lsh_query_probes``) — the standard recall lever when the
    corpus gives LSH little to work with (a near neighbour that
    disagrees on ONE hyperplane sign is invisible to exact-bucket
    probing but caught here).  Cost is a (1+h)x larger query-side
    broadcast and candidate set — the corpus side (and the at-rest
    store) is untouched, so the probe stays partition-pruned at
    100 TB.  Measured on the isotropic sf0.01 corpus: mean recall@20
    0.21 (h=0) -> 0.44 (h=2) -> 0.63 (h=6) (SCALE.md round 11).

    Scale shape: the corpus is hashed by one Arrow-batched numpy pass
    (``_with_lsh_buckets``, no shuffle); the bounded query set is
    hashed on the driver.  Candidates come from a BROADCAST hash join
    of the corpus's exploded (table, bucket) pairs against the query
    probes — the corpus is never shuffled and no all-pairs product
    ever forms (candidate count per query is bounded by Σ_t
    |bucket_t|, the same guarantee as the MinHash-LSH dedup path in
    dedup.py). Multi-table duplicate hits collapse through one hash
    agg on (query, id) — candidate-sized, not corpus-sized — and the
    final reduction is the shared ``two_stage_topk``.

    At rest the corpus persists the same buckets through
    ``plans.lake.write_lsh_signatures``, partitioned by (tbl, bkt) —
    then a probe is a partition-pruned scan + id-fetch
    (``plans.lake.lsh_ann_topk_stored``), exactly like the IVF layout.

    Vectors that are not exactly ``dims`` long are excluded on both
    sides.  A query with an empty bucket in every table returns < k
    rows (honest ANN recall semantics, mirrored by the oracle).
    """
    probes, _ = _lsh_query_probes(
        queries, query_id_col, vec_col,
        n_tables, n_bits, dims, scale, hamming_probes,
    )
    c_ex = _with_lsh_buckets(
        corpus.select(id_col, vec_col), vec_col,
        n_tables, n_bits, dims, scale,
    ).select(id_col, vec_col, F.posexplode("__sig").alias("tbl", "bkt"))
    cand = (
        c_ex.join(F.broadcast(probes), on=["tbl", "bkt"])
        .filter(F.col(id_col) != F.col("__qid"))
        .groupBy("__qid", id_col)
        .agg(
            F.first(vec_col).alias(vec_col),
            F.first("__qvec").alias("__qvec"),
        )
    )
    scored = cand.select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        cosine(F.col("__qvec"), F.col(vec_col)).alias("cos"),
    )
    return two_stage_topk(
        scored, k, id_col=id_col, query_id_col=query_id_col,
        partial_buckets=partial_buckets,
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_id_col: str = "qid",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one:
    per query, |approx ∩ exact| / k. Evaluation harness for tuning
    n_tables/n_bits (LSH) or nprobe (IVF) — run on a sampled query
    set, never the full corpus. One semi-join on (query, id) + one
    tiny agg; both inputs are k·|queries| rows by construction."""
    hits = approx.join(
        exact.select(query_id_col, id_col),
        on=[query_id_col, id_col],
        how="left_semi",
    )
    per_q = hits.groupBy(query_id_col).agg(
        (F.count(F.lit(1)) / F.lit(float(k))).alias("recall")
    )
    # queries with zero hits drop out of the semi-join — restore at 0
    all_q = exact.select(query_id_col).distinct()
    return all_q.join(per_q, on=query_id_col, how="left").select(
        query_id_col, F.coalesce("recall", F.lit(0.0)).alias("recall")
    )


# --- Product quantization (PQ) ----------------------------------------

PQ_MULT = 2_654_435_761  # Knuth multiplicative constant (same as LSH)
PQ_MOD = 193  # prime; codebook values land in [-96, 96]


def pq_codebook_value(m, c, d):
    """Closed-form integer codebook entry for (subspace m, code c,
    within-subspace dim d): ((1 + 101m + 31c + 7d) * PQ_MULT) mod 193
    − 96. Like the sign-LSH hyperplanes, the codebook is a formula —
    nothing to ship, bit-identical in any engine (all-integer
    arithmetic, max product ≈ 2^44 « 2^63). Real deployments would
    train codebooks per subspace with kmeans_fit; the closed form
    keeps the ENCODE path (the scale-relevant part) exactly testable
    cross-engine."""
    return (
        F.pmod(
            (F.lit(1) + m * F.lit(101) + c * F.lit(31) + d * F.lit(7))
            * F.lit(PQ_MULT),
            F.lit(PQ_MOD),
        )
        - F.lit(96)
    )


def pq_encode(vec: Column, dims: int, m_sub: int = 4, k: int = 16) -> Column:
    """Product-quantization codes for a float vector: int8-quantize,
    split into ``m_sub`` subspaces, and per subspace emit the code of
    the nearest (exact integer L2) codebook entry — the compression
    tier of the ANN family (IVF prunes which partitions a probe
    scans; PQ shrinks what each scan reads: 64 float32 dims → 4
    codes, 64x smaller).

    Exactness: distances are sums of squared INTEGER differences
    (quantized vector in [-127, 127], codebook in [-96, 96] — per-
    subspace distance ≤ 16·223² < 2^20), and the argmin folds the
    integer key ``dist·k + c`` so ties break to the smaller code —
    the whole encode is engine-exact, which is what lets the driver
    hash-gate a PQ pipeline at all. Every array/lambda value is
    BOUND, never captured (pitfall-1 class): qv via the
    transform(array(..))[0] trick, m/c/d as lambda variables.

    Per-row cost is O(m_sub · k · sub_dims) integer ops with a
    constant-size expression tree (pitfall 7); no shuffle, no join —
    a 100 TB encode is a pure scan+project."""
    if dims % m_sub != 0:
        raise ValueError(f"dims={dims} not divisible by m_sub={m_sub}")
    sub = dims // m_sub
    _, qv_expr = int8_quantize(vec)

    def with_qv(qv: Column) -> Column:
        def code_for(m: Column) -> Column:
            def dist(c: Column) -> Column:
                return F.aggregate(
                    F.sequence(F.lit(0), F.lit(sub - 1)),
                    F.lit(0).cast("bigint"),
                    lambda acc, d: acc
                    + F.pow(
                        F.element_at(qv, (m * F.lit(sub) + d + 1).cast("int"))
                        - pq_codebook_value(m, c, d),
                        F.lit(2),
                    ).cast("bigint"),
                )

            best_key = F.aggregate(
                F.sequence(F.lit(0), F.lit(k - 1)),
                F.lit(2**62).cast("bigint"),
                lambda acc, c: F.least(acc, dist(c) * F.lit(k) + c),
            )
            return F.pmod(best_key, F.lit(k))

        return F.transform(F.sequence(F.lit(0), F.lit(m_sub - 1)), code_for)

    return F.transform(F.array(qv_expr), with_qv)[0]


def pq_query_lut(vec: Column, dims: int, m_sub: int = 4, k: int = 16) -> Column:
    """Per-query ADC lookup table: lut[m·k + c] = exact-integer L2
    between the query's int8-quantized subvector m and codebook entry
    (m, c). Computed ONCE per query row (O(m_sub·k·sub_dims) ops);
    scoring a corpus row then costs m_sub element_at lookups — the
    whole point of PQ's asymmetric distance computation."""
    if dims % m_sub != 0:
        raise ValueError(f"dims={dims} not divisible by m_sub={m_sub}")
    sub = dims // m_sub
    _, qv_expr = int8_quantize(vec)

    def with_qv(qv: Column) -> Column:
        def entry(i: Column) -> Column:
            m = (i / F.lit(k)).cast("int")
            c = F.pmod(i, F.lit(k))
            return F.aggregate(
                F.sequence(F.lit(0), F.lit(sub - 1)),
                F.lit(0).cast("bigint"),
                lambda acc, d: acc
                + F.pow(
                    F.element_at(qv, (m * F.lit(sub) + d + 1).cast("int"))
                    - pq_codebook_value(m, c, d),
                    F.lit(2),
                ).cast("bigint"),
            )

        return F.transform(
            F.sequence(F.lit(0), F.lit(m_sub * k - 1)), entry
        )

    return F.transform(F.array(qv_expr), with_qv)[0]


def pq_adc_distance(
    lut: Column, codes: Column, m_sub: int, k: int, dtype: str
) -> Column:
    """Asymmetric PQ distance of one code row: the sequential sum over
    subspaces m of ``lut[m*k + codes[m]]``, a fold from a ``dtype``
    zero (``bigint`` for the integer codebooks, ``double`` for trained
    ones) — m_sub table lookups, no float math on the corpus side."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        F.lit(0).cast(dtype),
        lambda acc, m: acc
        + F.element_at(
            lut,
            (m * F.lit(k) + F.element_at(codes, (m + 1).cast("int")) + 1)
            .cast("int"),
        ),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    topk: int = 3,
    m_sub: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """PQ asymmetric-distance top-k: encode the corpus once (pure
    scan+project, 64x smaller than the float vectors), broadcast the
    queries WITH their precomputed lookup tables, and score each
    (query, corpus row) with m_sub table lookups — no float math in
    the hot loop, no corpus shuffle, two-stage top-k reduction.
    Returns (qid, vec_id, adc_dist) with ties broken to the smaller
    id. Exact-integer throughout, so results are engine-exact."""
    from .skew import spread_small_scan

    # pq_encode is an interpreted per-row HOF fold fused into the
    # corpus scan — spread a single-task sandbox scan (r15; no-op at
    # corpus scale)
    enc = spread_small_scan(corpus.select(id_col, vec_col)).select(
        F.col(id_col), pq_encode(F.col(vec_col), dims, m_sub, k_codes).alias(
            "__codes"
        )
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            pq_query_lut(F.col(vec_col), dims, m_sub, k_codes).alias("__lut"),
        )
    )
    dist = pq_adc_distance(
        F.col("__lut"), F.col("__codes"), m_sub, k_codes, "bigint"
    )
    scored = (
        enc.crossJoin(q)
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


def ivf_pq_topk(
    corpus_assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    dims: int,
    k: int = 3,
    nprobe: int = 2,
    m_sub: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    centroid_id_col: str = "cid",
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """The composed modern ANN stack: IVF decides WHICH partitions a
    probe scans (nprobe nearest centroids — at rest the corpus is
    cid-partitioned, so this is partition pruning), PQ decides how
    CHEAP each scanned row is (4 integer table lookups against the
    query's precomputed ADC table instead of a 64-dim float dot).
    Returns (qid, vec_id, adc_dist), ties to the smaller id,
    exact-integer scoring throughout — hash-gateable like its two
    component tiers.

    ``codes_df`` (columns: id_col, centroid_id_col, codes) supplies
    PRECOMPUTED PQ codes — the at-rest compressed tier
    (plans/lake.write_pq_codes): production probes never touch the
    float vectors of the corpus at all, only the code store."""
    if codes_df is not None:
        enc = codes_df.select(
            F.col(id_col),
            F.col(centroid_id_col),
            F.col("codes").alias("__codes"),
        )
    else:
        enc = corpus_assigned.select(
            F.col(id_col),
            F.col(centroid_id_col),
            pq_encode(F.col(vec_col), dims, m_sub, k_codes).alias("__codes"),
        )
    qprobe = _ivf_query_probes(
        queries, centroids, nprobe, vec_col, query_id_col, centroid_id_col
    ).select(
        query_id_col, centroid_id_col,
        pq_query_lut(F.col("__qvec"), dims, m_sub, k_codes).alias("__lut"),
    )
    cand = enc.join(F.broadcast(qprobe), on=centroid_id_col).filter(
        F.col(id_col) != F.col(query_id_col)
    )
    dist = pq_adc_distance(
        F.col("__lut"), F.col("__codes"), m_sub, k_codes, "bigint"
    )
    scored = cand.select(
        query_id_col, F.col(id_col), (-dist).alias("__neg")
    )
    out = two_stage_topk(
        scored, k, id_col=id_col, query_id_col=query_id_col,
        score_col="__neg",
    )
    return out.select(
        query_id_col, id_col, (-F.col("__neg")).alias("adc_dist")
    )


def ivf_pq_rerank_topk(
    corpus_assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    dims: int,
    k: int = 3,
    shortlist: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    centroid_id_col: str = "cid",
) -> DataFrame:
    """Retrieve-then-rerank: the IVF+PQ tier shortlists ``shortlist``
    candidates per query at table-lookup cost, then ONLY those rows
    pay an exact cosine against the full float vectors — the standard
    production ANN pattern (PQ's quantization error decides the
    shortlist, never the final ranking). The exact pass joins the
    shortlist (a per-query constant) back to the corpus on id: at
    scale that is a broadcast semi-join touching ``shortlist x
    |queries|`` rows, while the corpus-wide work stays in the cheap
    tiers. Returns (qid, vec_id, cos) exact-ranked, ties to the
    smaller id."""
    short = ivf_pq_topk(
        corpus_assigned, queries, centroids, dims,
        k=shortlist, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        centroid_id_col=centroid_id_col,
    ).select(query_id_col, id_col)
    qv = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    cand = (
        short.join(
            corpus_assigned.select(F.col(id_col), F.col(vec_col)),
            on=id_col,
        )
        .join(F.broadcast(qv), on=query_id_col)
        .select(
            query_id_col,
            F.col(id_col),
            cosine(F.col("__qvec"), F.col(vec_col)).alias("cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.col(id_col)
    )
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def semantic_dedup(
    corpus_assigned: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cid",
) -> DataFrame:
    """SemDeDup-style cluster-bounded semantic dedup (Abbas et al.
    2023): pairwise cosine comparison happens only WITHIN each coarse
    cluster of an ``ivf_assign`` pass, and a vector is dropped iff a
    lower-id vector in its cluster is more similar than ``tau`` — the
    deterministic single-pass edge rule (the min-id endpoint of every
    over-threshold edge is the kept representative).

    Returns per-cluster stats: (cid, n_vectors, n_dropped, n_kept,
    sum_dropped_ids) — the id sum pins WHICH vectors were dropped,
    not just how many.

    Scale shape: the corpus is never compared all-pairs — the
    self-join is an equi-join on the cluster id, so candidate pairs
    are bounded by per-cluster occupancy.  The caller's contract is
    to size the codebook so occupancy stays roughly CONSTANT as the
    corpus grows (k proportional to N, e.g. a kmeans_fit codebook
    with N/k ~ a few hundred): pair work is then N x occupancy —
    linear — and the shuffle is one cluster-keyed exchange plus an
    aggregation.  A fixed small k would make pair work quadratic;
    that is a mis-sized codebook, not a property of the operator.

    Production wiring (what the registry gate exercises): the
    assignment is materialized ONCE to a cid-partitioned at-rest
    store (``plans/lake.ensure_embeddings_by_centroid``) so the
    assign cost is paid at ingest, the full dedup reads the store
    straight into the cid equi-join, and a slice dedup (new batch vs
    the clusters it touches) is a PartitionFilters-pruned scan
    (plan-asserted in tests/test_plan_shapes.py).
    """
    # norms are computed once per VECTOR (not once per pair), so the
    # pair predicate pays only the dot product; dot > tau*|a|*|b| is
    # the same comparison as cos > tau with both sides' norms positive
    a = corpus_assigned.select(
        F.col(cluster_col).alias("__cid"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__ea"),
        norm(F.col(vec_col)).alias("__na"),
    )
    b = corpus_assigned.select(
        F.col(cluster_col).alias("__cid"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__eb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    dropped = (
        a.join(b, "__cid")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(
            dot(F.col("__ea"), F.col("__eb"))
            > F.lit(float(tau)) * F.col("__na") * F.col("__nb")
        )
        .select("__cid", "__idb")
        .distinct()
    )
    per_cluster = corpus_assigned.groupBy(
        F.col(cluster_col).alias("__cid")
    ).agg(F.count(F.lit(1)).alias("n_vectors"))
    drop_stats = dropped.groupBy("__cid").agg(
        F.count(F.lit(1)).alias("n_dropped"),
        F.sum("__idb").alias("sum_dropped_ids"),
    )
    return (
        per_cluster.join(drop_stats, "__cid", "left")
        .select(
            F.col("__cid").alias(cluster_col),
            "n_vectors",
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (
                F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0))
            ).alias("n_kept"),
            F.coalesce("sum_dropped_ids", F.lit(0)).alias("sum_dropped_ids"),
        )
    )


def gram_matrix(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    quant_scale: float = 1e3,
) -> DataFrame:
    """Exact-integer Gram matrix G = X^T X over the quantized
    embedding column: (i, j, s) rows for the upper triangle
    (i <= j, 0-based), with x quantized to floor(x*scale + 0.5) so
    the per-pair products and their sums are exact integers — the
    aggregation is order-invariant and DuckDB-oracle-checkable, the
    same discipline as every exact-mode fit in this repo.

    Shape: one Arrow-batched mapInPandas computes a PARTIAL int64
    Gram per batch (numpy matmul over the quantized block — dims^2
    values per partition, never per row; an explode of (i, j) pairs
    would be N x dims^2 rows), then dims*(dims+1)/2 grouped integer
    sums combine the partials map-side.  One exchange of
    partition-count x dims^2 rows total — at 100 TB the reduce input
    is executor-count-sized, not corpus-sized.

    Overflow headroom: |xq| <= scale * max|x|; a partial over R rows
    bounds each cell by R * (scale*max|x|)^2.  At scale=1e3 and unit-
    normalized embeddings that allows R ~ 9e12 rows per PARTITION in
    int64, and the final combine sums partition partials as
    decimal(38,0) (int128 headroom, matching DuckDB HUGEINT).  This
    is the PCA/OPQ ingredient: eigendecompose the (tiny) result on
    the driver and project map-side (pca_rotation / pca_project)."""
    import numpy as np
    import pandas as pd

    d = int(dims)
    q = float(quant_scale)

    def partial(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        # worst-case |cell| bound, tracked in arbitrary-precision
        # Python ints: numpy int64 WRAPS silently on overflow, which
        # would corrupt the "exact-integer" contract without an error
        # (review finding; same refuse-rather-than-mislead discipline
        # as bloom_positions' m_bits ceiling)
        bound = 0
        for pdf in batches:
            vecs = pdf[vec_col].to_numpy()
            if len(vecs) == 0:
                continue
            xf = (
                np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
                * q
                + 0.5
            )
            # pre-cast gate: .astype(np.int64) WRAPS non-finite and
            # >=2^63 floats to INT64_MIN silently (and |INT64_MIN|
            # stays negative, so the post-cast bound below would then
            # read only the valid components and miss the corruption)
            if not np.isfinite(xf).all():
                raise ValueError(
                    "gram_matrix: non-finite embedding component — "
                    "repair or filter the vectors upstream"
                )
            if np.abs(xf).max(initial=0.0) >= float(1 << 63):
                raise OverflowError(
                    "gram_matrix: a quantized component exceeds int64 "
                    "range; lower quant_scale"
                )
            x = np.floor(xf).astype(np.int64)
            bound += len(x) * int(np.abs(x).max(initial=0)) ** 2
            if bound >= (1 << 63) - 1:
                raise OverflowError(
                    "gram_matrix: per-partition int64 partial would "
                    f"overflow (worst-case cell bound {bound:.3e}); "
                    "lower quant_scale or repartition to smaller "
                    "partitions"
                )
            acc += x.T @ x
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {"i": iu.astype("int32"), "j": ju.astype("int32"),
             "s": acc[iu, ju]}
        )

    part = df.select(vec_col).filter(F.col(vec_col).isNotNull()).mapInPandas(
        partial, schema="i int, j int, s long"
    )
    return (
        part.groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .select("i", "j", F.col("s").cast("decimal(38,0)").alias("s"))
    )


def pca_rotation(
    gram_rows: list,
    dims: int,
    out_dims: int,
    quant_scale: float = 1e3,
    whiten: bool = False,
    eps: float = 1e-9,
) -> list[list[float]]:
    """Driver-side eigendecomposition of the collected Gram rows
    (dims x dims — bounded by the embedding width, never the corpus):
    returns the top-``out_dims`` principal directions as a plain
    nested list (row r = the r-th output component's weights), ready
    to embed as a plan literal.  ``whiten=True`` scales each
    direction by 1/sqrt(eigenvalue).  Note this is the UNCENTERED
    PCA (second-moment) rotation — the OPQ-style energy-compacting
    pre-rotation for PQ; subtract the mean upstream if centered PCA
    is wanted."""
    import numpy as np

    d, k = int(dims), int(out_dims)
    g = np.zeros((d, d), dtype=np.float64)
    for r in gram_rows:
        g[int(r["i"]), int(r["j"])] = float(r["s"])
        g[int(r["j"]), int(r["i"])] = float(r["s"])
    g /= float(quant_scale) ** 2
    vals, vecs = np.linalg.eigh(g)  # ascending
    order = np.argsort(vals)[::-1][:k]
    w = vecs[:, order]  # d x k
    if whiten:
        w = w / np.sqrt(np.maximum(vals[order], eps))
    # deterministic sign convention: make the largest-|w| component
    # of each direction positive (eigh's sign is arbitrary)
    for c in range(w.shape[1]):
        pivot = np.argmax(np.abs(w[:, c]))
        if w[pivot, c] < 0:
            w[:, c] = -w[:, c]
    return [[float(v) for v in w[:, c]] for c in range(w.shape[1])]


def pca_project(
    df: DataFrame,
    rotation: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Map-side projection onto the PCA rotation: the rotation ships
    as ONE array-of-arrays plan literal (out_dims x dims — codebook-
    sized, same feasibility bound as the map-side ivf_assign), each
    output component an in-row zip_with dot.  Zero exchanges; the
    scan stage's parallelism is the ceiling (rule 2)."""
    w = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in row])
            for row in rotation
        ]
    )
    proj = F.transform(
        w,
        lambda row: F.aggregate(
            F.zip_with(F.col(vec_col), row, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return df.withColumn(out_col, proj.cast("array<double>"))


def opq_eigen_allocation(eigvals: list, m_sub: int) -> list[int]:
    """Parametric OPQ eigenvalue allocation (Ge et al., "Optimized
    Product Quantization", CVPR 2013 §4): assign the principal
    directions to ``m_sub`` PQ subspaces so the PRODUCT of
    eigenvalues per subspace is balanced — the free-rotation degree
    PCA leaves open (any permutation of eigendirections is still a
    diagonalizing rotation) spent on the thing PQ cares about, equal
    per-subspace information.  Greedy: directions in descending-
    eigenvalue order, each to the not-yet-full subspace with the
    smallest current log-product.  Driver-side over dims scalars —
    never data-sized.

    Two candidate assignments are built and the one with the smaller
    log-product spread wins: (a) the paper's greedy (each direction,
    descending, to the not-yet-full subspace with the smallest
    current log-product) and (b) snake round-robin (blocks of m_sub
    directions dealt out boustrophedon).  Greedy is optimal-ish on
    flat-ish spectra but DEGENERATES on steeply decaying ones — with
    a monotone log sequence the minimum bucket keeps winning until
    it hits capacity, so one subspace eats a consecutive run and the
    spread explodes (measured 37.0 in log-product on the 2^(-i/6)
    fixture, where snake achieves 0.20).

    Returns the permutation ``perm`` such that output component
    ``perm[i]`` of the PCA rotation goes to slot ``i`` (subspace
    i // (dims/m_sub))."""
    import numpy as np

    d = len(eigvals)
    if d % m_sub != 0:
        raise ValueError(f"dims={d} not divisible by m_sub={m_sub}")
    sub = d // m_sub
    lv = np.log(
        np.maximum(np.asarray(eigvals, dtype=np.float64), 1e-300)
    )
    order = np.argsort(np.asarray(eigvals, dtype=np.float64))[::-1]

    def greedy() -> list[list[int]]:
        logs = [0.0] * m_sub
        slots: list[list[int]] = [[] for _ in range(m_sub)]
        for idx in order:
            open_slots = [j for j in range(m_sub) if len(slots[j]) < sub]
            j = min(open_slots, key=lambda s: logs[s])
            slots[j].append(int(idx))
            logs[j] += float(lv[idx])
        return slots

    def snake() -> list[list[int]]:
        slots = [[] for _ in range(m_sub)]
        for blk in range(sub):
            idxs = list(order[blk * m_sub:(blk + 1) * m_sub])
            if blk % 2:
                idxs = idxs[::-1]
            for pos, idx in enumerate(idxs):
                slots[pos].append(int(idx))
        return slots

    def spread(slots: list[list[int]]) -> float:
        sums = [float(sum(lv[i] for i in slot)) for slot in slots]
        return max(sums) - min(sums)

    best = min((greedy(), snake()), key=spread)
    return [i for slot in best for i in slot]


def opq_rotation(
    gram_rows: list,
    dims: int,
    m_sub: int,
    quant_scale: float = 1e3,
) -> list[list[float]]:
    """OPQ pre-rotation: the full-rank PCA rotation with its output
    components PERMUTED by opq_eigen_allocation, ready for
    pca_project -> pq_encode.  Same driver-side eigh over the
    collected Gram rows as pca_rotation (dims x dims — bounded by
    embedding width, never the corpus); the permutation step is what
    turns "PCA then PQ" (which CONCENTRATES energy into the first
    subspace and makes PQ balance worse — the round-10 measured
    non-result) into "OPQ then PQ" (balanced per-subspace
    information).  Validated on an anisotropic fixture in
    tests/test_round11_opq.py; on an isotropic corpus the rotation is
    a no-op by construction (all eigenvalues equal)."""
    import numpy as np

    d = int(dims)
    g = np.zeros((d, d), dtype=np.float64)
    for r in gram_rows:
        g[int(r["i"]), int(r["j"])] = float(r["s"])
        g[int(r["j"]), int(r["i"])] = float(r["s"])
    g /= float(quant_scale) ** 2
    vals, vecs = np.linalg.eigh(g)  # ascending
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    for c in range(vecs.shape[1]):
        pivot = np.argmax(np.abs(vecs[:, c]))
        if vecs[pivot, c] < 0:
            vecs[:, c] = -vecs[:, c]
    perm = opq_eigen_allocation([float(v) for v in vals], m_sub)
    return [[float(v) for v in vecs[:, p]] for p in perm]


# --- Trained-codebook PQ (the recall path) ---------------------------
#
# pq_encode/pq_adc_topk above keep a CLOSED-FORM integer codebook so
# the approximate structure itself is engine-exact and hash-gateable.
# The round-11 OPQ fixture measured what that trades away: trained
# Lloyd's codebooks reach 2,133 total distortion where the formula
# codebook cannot exploit decorrelation (4,872 raw / 5,603 PCA —
# tests/test_round11_opq.py).  This family is the production RECALL
# path (round-11 VERDICT item 3): OPQ-rotate, train per-subspace
# codebooks with the same kmeans_fit the IVF tier uses, encode
# (pq_encode_trained_batch), and ADC-probe (plans/lake.py
# trained_pq_topk) — floats throughout, verified by numpy parity tests
# and a recall gate on the anisotropic fixture rather than a DuckDB
# hash (k-means training is not SQL-expressible).


def pq_train_codebooks(
    corpus: DataFrame,
    dims: int,
    m_sub: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
) -> list[list[list[float]]]:
    """Per-subspace trained PQ codebooks: slice the (already rotated)
    corpus into ``m_sub`` subspaces and run the shared ``kmeans_fit``
    (k-means|| seeding, exact-integer assignment) on each.  Returns
    ``codebooks[m][c] = centroid vector`` — a driver-side model of
    m_sub x k_codes x (dims/m_sub) floats, never data-sized.  Cost is
    m_sub independent Lloyd fits over one column slice each; at 100 TB
    train on a sampled slice (the codebook is a model, not a sketch —
    sampling is standard PQ practice)."""
    if int(dims) % int(m_sub) != 0:
        raise ValueError(f"dims={dims} not divisible by m_sub={m_sub}")
    sub = int(dims) // int(m_sub)
    # Seeding sub-slice (wave 18, the coarse-quantizer discipline
    # applied to the codebook fits): k-means|| seeding is the one
    # super-linear term, and at k_codes=256 over a rows-per-cell
    # Lloyd slice it dominated the build.  Deterministic hash filter
    # (not a stride: the incoming ids already carry the caller's
    # stride); mult stays 1 at fixture/registry scale, so existing
    # models are bit-identical.
    n_train = corpus.count()
    mult = seed_slice_mult(n_train, k_codes)
    seed = (
        corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(mult)) == 0
        )
        if mult > 1
        else None
    )
    books: list[list[list[float]]] = []
    for m in range(int(m_sub)):
        sliced = corpus.select(
            F.col(id_col),
            F.slice(
                F.col(vec_col).cast("array<double>"), m * sub + 1, sub
            ).alias(vec_col),
        )
        seed_sliced = (
            seed.select(
                F.col(id_col),
                F.slice(
                    F.col(vec_col).cast("array<double>"),
                    m * sub + 1, sub,
                ).alias(vec_col),
            )
            if seed is not None
            else None
        )
        cdf, _, _ = kmeans_fit(
            sliced, int(k_codes), max_iter=max_iter,
            id_col=id_col, vec_col=vec_col, seed_corpus=seed_sliced,
        )
        rows = {
            int(r["cid"]): [float(v) for v in r[vec_col]]
            for r in cdf.collect()
        }
        books.append([rows[c] for c in range(int(k_codes))])
    return books


def pq_encode_trained_batch(
    df: DataFrame,
    rotation: list,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple = (),
) -> DataFrame:
    """Arrow-batched rotate+encode against TRAINED codebooks — the one
    trained-PQ encoder: ONE mapInPandas corpus pass computes X @ W^T
    and the per-subspace argmin codes with numpy matmuls (measured
    ~100x an interpreted column-expression encode, which ran 20k rows
    in 307 s: nested higher-order lambdas evaluate interpreted, and a
    struct-least fold allocates per candidate — the §2.10 Arrow-batch
    boundary).  Ties break to the smallest code (np.argmin); the store
    build and its upserts both encode through this one form, so
    at-rest codes are self-consistent.  ``passthrough`` columns (e.g.
    an IVF cid) ride the Arrow batch untouched — carrying them HERE is
    free, joining them back by id afterwards would shuffle the corpus.
    Returns (id_col long, codes array<int>, *passthrough)."""
    import numpy as np
    import pandas as pd

    w = np.asarray(rotation, dtype=np.float64)
    cents = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m_sub = len(cents)
    sub = cents[0].shape[1]

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            xr = x @ w.T
            codes = np.zeros((len(x), m_sub), dtype=np.int32)
            for m in range(m_sub):
                seg = xr[:, m * sub:(m + 1) * sub]
                d = ((seg[:, None, :] - cents[m][None]) ** 2).sum(-1)
                codes[:, m] = d.argmin(1)
            out = {id_col: pdf[id_col], "codes": list(codes)}
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
        + [df.schema[c] for c in passthrough]
    )
    # NULL embeddings have no code (ivf_assign's drop contract) and
    # would crash np.stack with a 0-d nan array
    return (
        df.select(id_col, vec_col, *passthrough)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(enc, schema=out_schema)
    )


def subspace_energy(
    df: DataFrame,
    dims: int,
    m_sub: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-PQ-subspace second-moment energy: (m, energy) with energy
    = sum over rows of ||x[m·sub : (m+1)·sub]||² — the OPQ balance
    diagnostic (imbalance = max/min across m).  One scan, m_sub
    map-side sums; the slice/aggregate tree is per-row constant-size,
    so this stays a pure scan+project at any corpus size."""
    sub = int(dims) // int(m_sub)
    if int(dims) % int(m_sub) != 0:
        raise ValueError(f"dims={dims} not divisible by m_sub={m_sub}")
    aggs = [
        F.sum(
            F.aggregate(
                F.slice(F.col(vec_col), m * sub + 1, sub),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias(f"__e{m}")
        for m in range(int(m_sub))
    ]
    wide = df.select(*aggs)
    stack = ", ".join(f"{m}, __e{m}" for m in range(int(m_sub)))
    return wide.selectExpr(
        f"stack({int(m_sub)}, {stack}) as (m, energy)"
    )
