"""Brute-force exact kNN over a DataFrame corpus, and the engine's one
map-side top-k scan (``scan_topk``) that every vector search path runs.

Reference parity: ``exact_topk`` (QUAKE_working_demo.ipynb c1:212-215 /
adaptive_ivf.mjs:364-369) — full-scan ground truth, also the oracle for
the IVF path (O15 in SURVEY.md §2.1).

Scale design (the part the reference, a single-process NumPy loop,
doesn't have): queries are broadcast to every corpus partition; each
Arrow batch computes a *local* top-k per query from one score matrix
(for L2 one BLAS matmul, `l2_batch`, the x²+y²−2xyᵀ trick) and emits at
most k rows per query — so the single shuffle carries
O(partitions · nq · k) candidate rows, never the O(n · nq) distance
matrix, and never a crossJoin. The global stage is a window
`row_number() <= k` with deterministic (score, vec_id ASC) tie-break.
At 1000 executors this is an embarrassingly-parallel scan + a tiny
shuffle. ``scan_topk`` owns that whole shape; the brute-force
operators below, ``IVFIndex.search`` and the quantized scans
(PQ/OPQ ADC, IVF+PQ, binary hamming, anisotropic MIPS) each supply
only a scorer and a direction.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from quake_vector_search_spark.functions.vector import (
    arrow_vectors_to_matrix,
    l2_batch,
    topk_cols_2d,
)

# Queries are collected to the driver and broadcast — the standard ANN
# batch shape (small query block vs huge corpus). Guard against misuse.
MAX_BROADCAST_QUERIES = 100_000


def _collect_queries(queries, query_id_col: str, query_vec_col: str):
    """Normalize queries into (ids: int64[nq], mat: float64[nq, d])."""
    if isinstance(queries, DataFrame):
        rows = queries.select(query_id_col, query_vec_col).collect()
        if len(rows) > MAX_BROADCAST_QUERIES:
            raise ValueError(
                f"{len(rows)} queries exceed broadcast limit "
                f"{MAX_BROADCAST_QUERIES}; chunk the query set into batches")
        qids = np.array([r[0] for r in rows], dtype=np.int64)
        qmat = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    else:  # (ids, matrix) pair
        qids, qmat = queries
        qids = np.asarray(qids, dtype=np.int64)
        qmat = np.asarray(qmat, dtype=np.float64)
    if len(qids) == 0:
        qmat = qmat.reshape(0, qmat.shape[1] if qmat.ndim == 2 else 0)
    return qids, qmat


def _empty_result(spark, score_col: str) -> DataFrame:
    return spark.createDataFrame(
        [], f"query_id long, vec_id long, {score_col} double, rank int")


def scan_topk(frame: DataFrame, qids: np.ndarray, qdata, score, k: int,
              *, width: int, id_col: str = "vec_id",
              vec_col: str = "embedding", out_id_col: str = "vec_id",
              score_col: str = "dist", descending: bool = False,
              probe_map: dict | None = None) -> DataFrame:
    """Exact top-``k`` per query of ``score`` over ``frame`` — the one
    map-side top-k scan behind every vector search path.

    ``(qids, qdata, probe_map)`` is broadcast once. One ``mapInArrow``
    pass decodes each non-empty batch's ``vec_col`` (a list column of
    ``width`` values per row, integer codes kept as stored) and calls
    ``score(qdata, qpos, rows, pid) -> [len(qpos), n]``, where ``qpos``
    selects the query rows of ``qdata`` to score (``slice(None)`` for
    all of them). Without a probe map that is one call per batch with
    ``pid=None``; with ``probe_map`` ({partition id → query positions})
    the batch's rows are grouped by ``partition_id`` and each group is
    scored only against the queries that probe it (``score`` may return
    None to drop a group). Per call the local top-k is taken under the
    engine tie-break (``topk_cols_2d``: score asc — or desc — then id
    asc); the global ``row_number()`` window over the same total order
    keeps ``rank <= k``.

    Returns (query_id, ``out_id_col``, ``score_col``, rank)."""
    bc = frame.sparkSession.sparkContext.broadcast((qids, qdata, probe_map))
    cols = [id_col, vec_col] + ([] if probe_map is None
                                else ["partition_id"])

    def local_topk(batches):
        import pyarrow as pa

        qids_l, qdata_l, pmap = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            rows = arrow_vectors_to_matrix(rb.column(vec_col), width,
                                           dtype=None)
            ids = rb.column(id_col).to_numpy(
                zero_copy_only=False).astype(np.int64)
            if pmap is None:
                groups = [(slice(None), None, slice(None))]
            else:
                pids = rb.column("partition_id").to_numpy(
                    zero_copy_only=False).astype(np.int64)
                groups = [(pmap[p], p, pids == p)
                          for p in map(int, np.unique(pids)) if pmap.get(p)]
            out_q, out_i, out_s = [], [], []
            for qpos, pid, sel in groups:
                g_ids = ids[sel]
                s = score(qdata_l, qpos, rows[sel], pid)
                if s is None:
                    continue
                kk = min(k, len(g_ids))
                part = topk_cols_2d(s, g_ids, kk, descending=descending)
                out_q.append(np.repeat(qids_l[qpos], kk))
                out_i.append(g_ids[part].ravel())
                out_s.append(np.take_along_axis(s, part, axis=1)
                             .ravel().astype(np.float64, copy=False))
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(out_q)),
                     pa.array(np.concatenate(out_i)),
                     pa.array(np.concatenate(out_s))],
                    ["query_id", out_id_col, score_col])

    if frame.columns != cols:
        frame = frame.select(*cols)
    local = frame.mapInArrow(
        local_topk,
        f"query_id long, {out_id_col} long, {score_col} double")
    order = F.col(score_col).desc() if descending else F.col(score_col).asc()
    w = (Window.partitionBy("query_id")
         .orderBy(order, F.col(out_id_col).asc()))
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _l2_scores(qmat, qpos, rows, _pid):
    return l2_batch(qmat[qpos], rows)


def _dot_scores(qmat, qpos, rows, _pid):
    return qmat[qpos] @ rows.astype(np.float64).T


def _cosine_scores(qmat, qpos, rows, _pid):
    q = qmat[qpos]
    vecs = rows.astype(np.float64)
    qnorm = np.linalg.norm(q, axis=1) + 1e-12
    vnorm = np.linalg.norm(vecs, axis=1) + 1e-12
    return (q @ vecs.T) / (qnorm[:, None] * vnorm[None, :])


def _exact_topk(corpus_df, queries, k, id_col, vec_col, query_id_col,
                query_vec_col, score, score_col, descending) -> DataFrame:
    """The brute-force operators: every corpus row scored against the
    collected query block, top-k under (score, vec_id ASC)."""
    qids, qmat = _collect_queries(queries, query_id_col, query_vec_col)
    if len(qids) == 0:
        return _empty_result(corpus_df.sparkSession, score_col)
    return scan_topk(corpus_df, qids, qmat, score, k, width=qmat.shape[1],
                     id_col=id_col, vec_col=vec_col, score_col=score_col,
                     descending=descending)


def knn_bruteforce(corpus_df: DataFrame,
                   queries,
                   k: int = 10,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   query_id_col: str = "query_id",
                   query_vec_col: str = "embedding",
                   squared: bool = False) -> DataFrame:
    """Exact top-k nearest neighbors for each query.

    Returns (query_id LONG, vec_id LONG, dist DOUBLE, rank INT), rank
    1..k per query ordered by (dist ASC, vec_id ASC). ``dist`` is L2
    (or squared L2 when ``squared=True``, matching the reference's d2).
    """
    out = _exact_topk(corpus_df, queries, k, id_col, vec_col,
                      query_id_col, query_vec_col, _l2_scores, "dist",
                      False)
    if not squared:
        out = out.withColumn("dist", F.sqrt(F.col("dist")))
    return out.select("query_id", "vec_id", "dist", "rank")


def cosine_topk(corpus_df: DataFrame,
                queries,
                k: int = 10,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                query_id_col: str = "query_id",
                query_vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine similarity (descending), same batch shape as
    `knn_bruteforce`. Tie-break (sim DESC, vec_id ASC)."""
    return _exact_topk(corpus_df, queries, k, id_col, vec_col,
                       query_id_col, query_vec_col, _cosine_scores, "sim",
                       True)


def dot_topk(corpus_df: DataFrame,
             queries,
             k: int = 10,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             query_id_col: str = "query_id",
             query_vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by maximum inner product (descending) — the scoring
    used by unnormalized-embedding retrieval. Same batch shape as
    `knn_bruteforce`: one matmul per (query block, corpus batch), local
    top-k, global windowed top-k. Tie-break (score DESC, vec_id ASC)."""
    return _exact_topk(corpus_df, queries, k, id_col, vec_col,
                       query_id_col, query_vec_col, _dot_scores, "score",
                       True)


def hard_negatives(corpus_df: DataFrame, queries_df: DataFrame,
                   k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   query_id_col: str = "query_id") -> DataFrame:
    """Contrastive hard-negative mining (training-pipeline op, beyond
    the reference): for each query, its exact k nearest corpus vectors
    whose label DIFFERS from the query's — the negatives that sit
    closest to the decision boundary, the standard pick for
    contrastive / triplet training.

    Shape: one `knn_bruteforce` branch per DISTINCT query label over
    the corpus filtered to `label != L` — the per-query predicate
    becomes a per-branch static filter, so each branch keeps the
    broadcast-queries + per-partition local-top-k + single tiny
    shuffle plan, and the label filter pushes into the corpus scan.
    Branch count is the query-label cardinality (bounded by the label
    vocabulary, not the query count); the union is plan-level, not a
    materialization barrier.
    """
    labels = [r[0] for r in
              queries_df.select(label_col).distinct().collect()]
    out = None
    for lab in sorted(labels):
        qs = queries_df.where(F.col(label_col) == lab)
        neg = corpus_df.where(F.col(label_col) != lab)
        hits = knn_bruteforce(neg, qs, k=k, id_col=id_col,
                              vec_col=vec_col,
                              query_id_col=query_id_col,
                              query_vec_col=vec_col)
        out = hits if out is None else out.unionAll(hits)
    if out is None:
        return _empty_result(corpus_df.sparkSession, "dist")
    return out


def knn_graph_blocked(emb: DataFrame, k: int = 5,
                      block_col: str = "label",
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """kNN-graph construction (training-pipeline op): the exact k
    nearest neighbors of EVERY vector, blocked by a clustering column
    — the all-pairs sibling of the query-block search above, and the
    input shape for graph-based curation (diversity sampling,
    SemDeDup-style pruning, label propagation, connected-component
    dedup over embedding space).

    A global exact kNN graph is n² by definition; the practical recipe
    blocks by a coarse clustering (k-means cells, IVF partitions — any
    assignment column) and computes exactly within blocks, the same
    Σ|block|² bound the semantic-dedup operator rides. Plan: one
    equi-join on the block key (shuffle moves each block once), the
    distance as a codegen column expression, and a per-source window
    for the top-k — no crossJoin, no broadcast of the corpus, no UDF.

    Returns (src, dst, block, dist, rank), rank 1..k by
    (dist ASC, dst ASC) per src; blocks smaller than k+1 yield fewer
    rows for their members (no padding).
    """
    from quake_vector_search_spark.functions.vector import l2_col

    a = emb.select(F.col(block_col).alias("block"),
                   F.col(id_col).alias("src"),
                   F.col(vec_col).alias("_va"))
    b = emb.select(F.col(block_col).alias("block"),
                   F.col(id_col).alias("dst"),
                   F.col(vec_col).alias("_vb"))
    w = (Window.partitionBy("src")
         .orderBy(F.col("dist").asc(), F.col("dst").asc()))
    return (a.join(b, ["block"])
            .where(F.col("src") != F.col("dst"))
            .withColumn("dist", l2_col("_va", "_vb"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("src", "dst", "block", "dist", "rank"))


def knn_graph_blocked_blas(emb: DataFrame, k: int = 5,
                           block_col: str = "label",
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """BLAS twin of ``knn_graph_blocked`` — identical output contract,
    different physical strategy: one grouped-map (applyInPandas) per
    block computes the whole block's distance matrix with a single
    x²+y²−2xyᵀ matmul and takes each node's top-k in NumPy. The
    relational form keeps the oracle SQL-shaped; this one is the
    production path when blocks are large — the join materializes
    |block|² rows through the interpreted higher-order distance
    expression, while this touches |block|² only inside BLAS and emits
    |block|·k rows. Same (dist ASC, dst ASC) tie-break."""
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "block": [],
                                 "dist": [], "rank": []})
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        block = pdf[block_col].iloc[0]
        v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        d2 = l2_batch(v, v)
        np.fill_diagonal(d2, np.inf)
        kk = min(k, n - 1)
        src, dst, dist, rank = [], [], [], []
        for i in range(n):
            row = d2[i]
            # (dist, dst-id) tie-break, exactly like the window form
            order = np.lexsort((ids, row))[:kk]
            src.extend([ids[i]] * kk)
            dst.extend(ids[order])
            dist.extend(np.sqrt(row[order]))
            rank.extend(range(1, kk + 1))
        return pd.DataFrame({"src": src, "dst": dst,
                             "block": [block] * len(src),
                             "dist": dist, "rank": rank})

    out_schema = (f"src long, dst long, block int, "
                  f"dist double, rank int")
    return (emb.select(F.col(id_col), F.col(block_col), F.col(vec_col))
            .groupBy(block_col)
            .applyInPandas(per_block, out_schema))


def range_search_bruteforce(corpus_df: DataFrame, queries,
                            radius: float,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            query_id_col: str = "query_id",
                            query_vec_col: str = "embedding") -> DataFrame:
    """Radius (range) search: ALL corpus vectors within L2 ``radius``
    of each query — the fixed-threshold twin of top-k (duplicate
    blast-radius queries, geo-style neighborhoods, recall-oriented
    retrieval). Same scale shape as knn_bruteforce: queries broadcast
    as a literal array, distances evaluated in-place per partition
    (codegen'd column expression), only matches survive the scan — no
    shuffle at all beyond the final sort the caller may add. Returns
    (query_id, vec_id, dist)."""
    from quake_vector_search_spark.functions.vector import l2_col

    qids, qmat = _collect_queries(queries, query_id_col, query_vec_col)
    spark = corpus_df.sparkSession
    if len(qids) == 0:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, dist double")
    qdf = F.broadcast(spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, qmat)],
        f"{query_id_col} long, _qv array<double>"))
    out = (corpus_df.crossJoin(qdf)
           .withColumn("dist", l2_col(F.col(vec_col), F.col("_qv")))
           .where(F.col("dist") <= radius)
           .select(F.col(query_id_col).alias("query_id"),
                   F.col(id_col).alias("vec_id"), "dist"))
    return out
