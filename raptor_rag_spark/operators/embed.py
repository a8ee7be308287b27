"""Embedding stage.

The reference embeds via an HTTP call to a VLLM-served e5-large model
(/root/reference/raptor/EmbeddingModels.py:84-138, server batch
chunking /root/reference/embedding_service/server.py:285-299). The
engine's embedder is the same extension-point shape — a
scalar-iterator pandas UDF over Arrow batches (batch == RPC batch) —
with a deterministic, content-dependent feature-hash embedder as the
default so tests and goldens are reproducible without any model. A
production model endpoint drops into ``embed_fn`` unchanged.

Vectors are L2-normalized (reference e5 vectors are normalized,
production_test_report.json:70-72), so cosine similarity == dot
product and the kNN re-rank can use a plain matmul.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


from raptor_rag_spark.tokenizer import _TOKEN_RE


def hash_embed_batch(texts: pd.Series, dim: int = 64) -> np.ndarray:
    """Deterministic feature-hash embedding: each token hashes to a
    (bucket, sign); vector = normalized bag-of-hashed-tokens. Returns
    float32 (n, dim), rows unit-norm (zero vector for empty text gets
    a fixed unit basis vector so downstream cosine is total).

    Vectorized across the batch: one fnv1a_64_batch over ALL tokens,
    then one bincount scatter-add into the (n, dim) matrix — the ±1
    bucket sums are exact integers in float64, so the result is
    bit-identical to the per-token loop regardless of addition order."""
    from raptor_rag_spark.functions.hashing import fnv1a_64_batch

    n = len(texts)
    tok_lists = [
        None if t is None else _TOKEN_RE.findall(t.lower()) for t in texts
    ]
    flat = [tok for lst in tok_lists if lst for tok in lst]
    out = np.zeros((n, dim), dtype=np.float64)
    if flat:
        rows = np.repeat(
            np.fromiter(
                (i for i, lst in enumerate(tok_lists) if lst), dtype=np.int64
            ),
            np.fromiter((len(lst) for lst in tok_lists if lst), dtype=np.int64),
        )
        h = fnv1a_64_batch(flat)
        bucket = (h % np.uint64(dim)).astype(np.int64)
        sign = np.where((h >> np.uint64(32)) & np.uint64(1) == 1, 1.0, -1.0)
        out = np.bincount(rows * dim + bucket, weights=sign, minlength=n * dim).reshape(
            n, dim
        )
    norms = np.linalg.norm(out, axis=1)
    zero = norms == 0
    out[zero, 0] = 1.0
    norms[zero] = 1.0
    return (out / norms[:, None]).astype(np.float32)


def http_embed_fn(
    base_url: str,
    dim: int,
    optimal_batch: int = 32,
    max_retries: int = 3,
    timeout: float = 30.0,
):
    """Production-shaped ``embed_fn`` for :func:`make_embed_udf`: POST
    text batches to a VLLM-style embedding service, mirroring the
    reference client/server batch contract —

    - endpoint + payload: JSON list -> ``{"data": [{"embedding": [...]}
      ...]}`` (/root/reference/raptor/EmbeddingModels.py:119-138);
    - client-side chunking at ``optimal_batch`` (32), matching the
      server's own re-chunk threshold so every request is processed
      direct (server.py:285-299; max accepted 64, server.py:61-62);
    - ``query:``/``passage:`` prefixing happens SERVER-side
      (server.py:304-309) — the client sends raw text;
    - bounded exponential retries on connection errors and 5xx (the
      reference's tenacity ``stop_after_attempt(3)`` analog,
      EmbeddingModels.py:94). Deliberate deviation: 4xx validation
      rejections (server.py:452-467) raise IMMEDIATELY — a retry
      cannot fix a rejected payload, and looping on it would hide the
      data bug;
    - loud failure after the retry budget: an embedding outage must
      fail the Spark task (which retries it on another attempt), never
      emit garbage vectors.

    Transport (retry/4xx/backoff discipline) is the shared
    :func:`raptor_rag_spark.functions.httpclient.post_json_with_retries`
    — one implementation for both model seams. Stdlib-only (urllib) so
    the seam needs no extra dependency; runs inside the Python worker,
    one chunk of HTTP per ``optimal_batch`` rows of each Arrow batch.
    Returns float32 (n, dim)."""
    from raptor_rag_spark.functions.httpclient import post_json_with_retries

    if max_retries < 1:
        raise ValueError(f"max_retries must be >= 1, got {max_retries}")
    url = base_url.rstrip("/") + "/embeddings/batch"

    def fn(texts: pd.Series) -> np.ndarray:
        vals = ["" if t is None else str(t) for t in texts]
        rows: list[list[float]] = []
        for i in range(0, len(vals), optimal_batch):
            chunk = vals[i : i + optimal_batch]
            data = post_json_with_retries(
                url, chunk, "embedding",
                max_retries=max_retries, timeout=timeout,
            )
            rows.extend(d["embedding"] for d in data["data"])
        # np.asarray([]) is shape (0,), not (0, dim) — an empty Arrow
        # batch must pass the shape check like any other
        mat = (
            np.zeros((0, dim), dtype=np.float32)
            if not rows
            else np.asarray(rows, dtype=np.float32)
        )
        if mat.shape != (len(vals), dim):
            raise ValueError(
                f"embedding service returned shape {mat.shape}, "
                f"expected {(len(vals), dim)}"
            )
        return mat

    return fn


def make_embed_udf(dim: int = 64, embed_fn=None):
    """Scalar-iterator pandas UDF: text -> array<float> (unit norm)."""
    fn = embed_fn or (lambda s: hash_embed_batch(s, dim))

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            mat = fn(series)
            yield pd.Series(list(mat))

    return embed


def embed_texts(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    dim: int = 64,
    embed_fn=None,
) -> DataFrame:
    return df.withColumn(out_col, make_embed_udf(dim, embed_fn)(F.col(text_col)))


def embed_texts_multi(
    df: DataFrame,
    models: dict[str, tuple[int, object | None]],
    text_col: str = "text",
    out_col: str = "embeddings",
) -> DataFrame:
    """Multi-model embedding: ``embeddings`` is a map<model_name,
    array<float>> — the reference's Dict[str, List[float]] node shape
    (tree_builder.py:84-95 builds every model's vector per node and
    selects one by name for clustering, :175-179). ``models`` maps
    name -> (dim, embed_fn or None for the hash embedder, seeded by
    the model name so distinct names give distinct spaces).

    One struct-returning Arrow UDF computes ALL models per batch (one
    Python round-trip, not one per model), then the struct is folded
    into a map JVM-side.
    """
    names = sorted(models)
    fns = {}
    for name in names:
        dim, fn = models[name]
        if fn is None:
            salt = f"\x00{name}\x00"
            fn = (
                lambda s, d=dim, sl=salt: hash_embed_batch(
                    s.map(lambda t: None if t is None else t + sl), d
                )
            )
        fns[name] = fn

    schema = T.StructType(
        [T.StructField(n, T.ArrayType(T.FloatType())) for n in names]
    )

    @F.pandas_udf(schema)
    def embed_all(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for series in batches:
            yield pd.DataFrame({n: list(fns[n](series)) for n in names})

    st = embed_all(F.col(text_col))
    entries = []
    for n in names:
        entries.extend([F.lit(n), st.getField(n)])
    return df.withColumn(out_col, F.create_map(*entries))


def select_embedding_model(
    df: DataFrame, model: str, map_col: str = "embeddings", out_col: str = "embedding"
) -> DataFrame:
    """Project one model's vector out of the multi-model map — the
    reference's cluster_embedding_model selection (tree_builder.py:
    175-179). Column pruning still drops the map when only the
    projected vector is used downstream."""
    return df.withColumn(out_col, F.col(map_col).getItem(model))
