"""Int8 embedding quantization — the 4x memory/IO lever for ANN at
corpus scale (a 1024-dim float32 vector is 4 KiB; int8 + one scale is
~1 KiB, and a 100 TB embedding column becomes 25 TB).

Symmetric per-vector quantization (public technique, used by FAISS
SQ8 and friends): q = round(v * 127 / max|v|), stored with the scale
max|v|/127. Dot products compute in int32 (numpy promotes int8@int8)
then rescale by scale_a*scale_b — exact up to rounding, no codebook.

All kernels are Arrow-batched; the quantized column is a plain
array<tinyint> so parquet/Spark handle it natively (byte-packed,
dictionary-encodable).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quantize_embeddings(
    df: DataFrame, emb_col: str = "embedding", out_prefix: str = "q"
) -> DataFrame:
    """Adds ``{out_prefix}_vec`` (array<tinyint>) and ``{out_prefix}_scale``
    (float): v ~= q_vec * q_scale. Zero vectors quantize to zeros with
    scale 0."""
    schema = T.StructType(
        [
            T.StructField("vec", T.ArrayType(T.ByteType())),
            T.StructField("scale", T.FloatType()),
        ]
    )

    @F.pandas_udf(schema)
    def qz(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for series in batches:
            vecs, scales = [], []
            for v in series:
                if v is None:
                    vecs.append(None)
                    scales.append(None)
                    continue
                arr = np.asarray(v, dtype=np.float64)
                if arr.size and not np.isfinite(arr).all():
                    # NaN/Inf would flow through round().astype(int8) as
                    # silent implementation-defined garbage — fail loudly
                    raise ValueError(
                        "quantize_embeddings: non-finite value in embedding "
                        "(NaN/Inf); clean the vector column first"
                    )
                m = float(np.max(np.abs(arr))) if arr.size else 0.0
                scale = m / 127.0
                q = (
                    np.round(arr / scale).astype(np.int8)
                    if scale > 0.0
                    else np.zeros(arr.size, dtype=np.int8)
                )
                vecs.append(q.tolist())
                scales.append(np.float32(scale))
            yield pd.DataFrame({"vec": vecs, "scale": scales})

    packed = qz(F.col(emb_col))
    return df.withColumn("_qz", packed).select(
        "*",
        F.col("_qz.vec").alias(f"{out_prefix}_vec"),
        F.col("_qz.scale").alias(f"{out_prefix}_scale"),
    ).drop("_qz")


def _brute_force_knn_join_quantized(
    queries: DataFrame,
    nodes_q: DataFrame,
    k: int,
    query_id: str,
    node_id: str,
    q_emb: str,
    n_query_blocks: int | None = None,
    n_node_blocks: int | None = None,
) -> DataFrame:
    """Fully distributed quantized kNN — the int8 twin of
    knn._brute_force_knn_join: NO driver collect of either side, so the
    exact regime quantization is for (huge corpora, huge query batches)
    never routes through the driver.

    Physical strategy — two-sided blocked matmul via COGROUP: queries
    hash into QB blocks and replicate across node blocks; nodes do the
    converse. ``cogroup().applyInPandas`` keeps the two sides as
    SEPARATE Arrow streams, so the node side shuffles as
    array<tinyint> + one float scale end-to-end (a union would upcast
    the int8 vectors to float and forfeit the 4x shuffle win). Each
    (qb, nb) kernel dequantizes per block — one int8 materialization of
    block size, never of the corpus — and emits its per-query partial
    top-k; the global window sees about NB*k rows per query."""
    from raptor_rag_spark.operators.knn import (
        _rank_and_take,
        partial_topk,
        require_integral_id,
        vec_matrix,
    )

    require_integral_id(queries, query_id, "_brute_force_knn_join_quantized")
    require_integral_id(nodes_q, node_id, "_brute_force_knn_join_quantized")
    spark = nodes_q.sparkSession
    par = spark.sparkContext.defaultParallelism
    default_b = max(2, int((2 * par) ** 0.5))
    qb = int(n_query_blocks) if n_query_blocks else default_b
    nb = int(n_node_blocks) if n_node_blocks else default_b

    qrep = (
        queries.select(
            F.col(query_id).cast("long").alias("_id"), F.col(q_emb).alias("_emb")
        )
        .withColumn("_qb", F.pmod(F.xxhash64("_id"), F.lit(qb)).cast("int"))
        .withColumn("_nb", F.explode(F.array(*[F.lit(i) for i in range(nb)])))
    )
    nrep = (
        nodes_q.select(
            F.col(node_id).cast("long").alias("_id"), "q_vec", "q_scale"
        )
        .withColumn("_nb", F.pmod(F.xxhash64("_id"), F.lit(nb)).cast("int"))
        .withColumn("_qb", F.explode(F.array(*[F.lit(i) for i in range(qb)])))
    )

    def block_kernel(qpdf: pd.DataFrame, npdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(npdf):
            return pd.DataFrame({query_id: [], node_id: [], "dist": []}).astype(
                {query_id: "int64", node_id: "int64", "dist": "float64"}
            )
        q_ids = qpdf["_id"].to_numpy(dtype=np.int64)
        n_ids = npdf["_id"].to_numpy(dtype=np.int64)
        q_mat = vec_matrix(qpdf["_emb"], q_emb, "_brute_force_knn_join_quantized")
        n_int = vec_matrix(npdf["q_vec"], "q_vec", "_brute_force_knn_join_quantized", expect_dim=q_mat.shape[1] if q_mat.size else None)
        scales = npdf["q_scale"].to_numpy(dtype=np.float64)
        dists = 1.0 - (q_mat @ n_int.T) * scales[None, :]
        rows_q, cols = partial_topk(dists, k)
        return pd.DataFrame(
            {
                query_id: q_ids[rows_q],
                node_id: n_ids[cols],
                "dist": dists[rows_q, cols],
            }
        )

    scored = (
        qrep.groupBy("_qb", "_nb")
        .cogroup(nrep.groupBy("_qb", "_nb"))
        .applyInPandas(block_kernel, f"{query_id} long, {node_id} long, dist double")
    )
    return _rank_and_take(scored, k, query_id, node_id)


def brute_force_knn_quantized(
    queries: DataFrame,
    nodes_q: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    node_id: str = "node_id",
    q_emb: str = "q_embedding",
    strategy: str = "auto",
) -> DataFrame:
    """kNN against a QUANTIZED corpus: float queries x int8 nodes — the
    dequantized matmul rescales per node vector. The corpus side never
    materializes floats, so executor memory and scan bytes drop ~4x.

    strategy='broadcast' (small query batches): query matrix broadcast
    as numpy, map-side partial top-k, same shape as
    knn.brute_force_knn. strategy='join': two-sided blocked cogroup
    matmul, NO driver collect of either side
    (_brute_force_knn_join_quantized). 'auto' switches at
    knn.BROADCAST_MAX_QUERIES — so the 100 TB regime this module exists
    for (its docstring) never collects the query side."""
    from raptor_rag_spark.operators.knn import (
        _rank_and_take,
        _resolve_strategy,
        partial_topk,
        vec_matrix,
    )

    if _resolve_strategy(strategy, queries) == "join":
        return _brute_force_knn_join_quantized(
            queries, nodes_q, k, query_id, node_id, q_emb
        )
    spark = nodes_q.sparkSession
    pdf = queries.select(query_id, q_emb).toPandas()
    q_ids = pdf[query_id].to_numpy(dtype=np.int64)
    q_mat = vec_matrix(pdf[q_emb], q_emb, "brute_force_knn_quantized")
    b_ids = spark.sparkContext.broadcast(q_ids)
    b_mat = spark.sparkContext.broadcast(q_mat)

    def score(it):
        ids, mat = b_ids.value, b_mat.value
        for pdf_b in it:
            if not len(pdf_b):
                continue
            n_ids = pdf_b[node_id].to_numpy(dtype=np.int64)
            n_mat = vec_matrix(pdf_b["q_vec"], "q_vec", "brute_force_knn_quantized", expect_dim=q_mat.shape[1])
            scales = pdf_b["q_scale"].to_numpy(dtype=np.float64)
            # dequantized dot: (Q @ Nq^T) * scale_n  (queries stay float)
            dists = 1.0 - (mat @ n_mat.T) * scales[None, :]
            rows_q, cols = partial_topk(dists, k)
            yield pd.DataFrame(
                {
                    query_id: ids[rows_q],
                    node_id: n_ids[cols],
                    "dist": dists[rows_q, cols],
                }
            )

    scored = nodes_q.select(node_id, "q_vec", "q_scale").mapInPandas(
        score, f"{query_id} long, {node_id} long, dist double"
    )
    return _rank_and_take(scored, k, query_id, node_id)
