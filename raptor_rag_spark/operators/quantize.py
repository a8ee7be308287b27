"""Int8 embedding quantization — the 4x memory/IO lever for ANN at
corpus scale (a 1024-dim float32 vector is 4 KiB; int8 + one scale is
~1 KiB, and a 100 TB embedding column becomes 25 TB).

Symmetric per-vector quantization (public technique, used by FAISS
SQ8 and friends): q = round(v * 127 / max|v|), stored with the scale
max|v|/127. No codebook. Scoring stays in operators/knn.py, which reads
the format from the columns (knn.node_vector_cols): the kernels keep
float queries, decode each Arrow batch of int8 node vectors to float64,
and rescale the float64 dot product by the node's scale only —
1 - (q . q_vec) * q_scale, exact up to the node's rounding.

The quantizer is Arrow-batched; the quantized column is a plain
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


def quantized_nodes(nodes: DataFrame) -> DataFrame:
    """(node_id, embedding) -> pinned (node_id, q_vec, q_scale): the
    int8 store of the ANN indexes, which keep no float copy."""
    return (
        quantize_embeddings(nodes)
        .select("node_id", "q_vec", "q_scale")
        .localCheckpoint(eager=True)
    )
