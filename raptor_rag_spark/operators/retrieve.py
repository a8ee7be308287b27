"""Retrieval: collapsed-tree and tree-traversal modes, batch-native.

Reference: TreeRetriever (/root/reference/raptor/tree_retriever.py).
- collapsed (default there, :416-425): score the query against ALL
  nodes across levels -> top-k -> token budget -> context. Here the
  node table is already the union of levels; candidate generation is
  either brute force or the tile-pruned join.
- traversal (:319-363): start at the top layer, per layer select
  top-k/threshold, descend via children (J3 semi-join), accumulate.
  The engine form is one driver loop: per layer one filtered read of
  the candidate rows (``node_id IN`` the selected rows' children),
  scored and selected with numpy on the driver.

Queries are rows — one query or 10^6 behave identically (the
reference's batch endpoint reuses the node matrix across queries,
tree_retriever.py:502-504; here that is just the shared join build
side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raptor_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from raptor_rag_spark.functions.localtab import local_df
from raptor_rag_spark.operators.embed import embed_texts, hash_embed_batch
from raptor_rag_spark.operators.knn import (
    _collect_query_matrix,
    assemble_context,
    brute_force_knn,
    tile_knn,
    token_budget_prefix,
    vec_matrix,
)
from raptor_rag_spark.operators.tile import projection_matrix, reduce_2d, tile_assignments


def embed_queries(
    queries: DataFrame, dim: int, text_col: str = "text", seed: int = DEFAULT_CONFIG.seed
) -> DataFrame:
    """Adds q_embedding and the x, y projection. ``seed`` must be the
    tree's ``cfg.seed``: the tiled path bins queries in the same 2-D
    space as the node tiles."""
    q = embed_texts(queries, text_col=text_col, dim=dim)
    q = reduce_2d(q, dim=dim, seed=seed)
    return q.withColumnRenamed("embedding", "q_embedding")


def embed_query_texts(
    spark: SparkSession, texts: list[str], dim: int, seed: int = DEFAULT_CONFIG.seed
) -> DataFrame:
    """Driver-side twin of :func:`embed_queries` for a short list of
    question strings: (query_id = list position, text, q_embedding, x,
    y) as a local table, with no Python task or job. It runs the same
    pure functions as the Spark path (``hash_embed_batch``, then the
    float64 ``reduce_2d`` matmul): q_embedding is bit-identical, and so
    are x, y for a list that the Spark path scores as one Arrow batch
    (BLAS rounding may move the last bit with the batch shape)."""
    import numpy as np
    import pandas as pd

    emb = hash_embed_batch(pd.Series(texts, dtype=object), dim)
    xy = np.asarray(emb, dtype=np.float64) @ projection_matrix(dim, seed).T
    # plain floats (exact): non-Arrow createDataFrame rejects numpy float32
    rows = [(i, t, e.tolist(), x, y) for i, (t, e, (x, y)) in enumerate(zip(texts, emb, xy))]
    return local_df(
        spark, rows, "query_id long, text string, q_embedding array<float>, x double, y double"
    )


def retrieve_collapsed(
    queries: DataFrame,
    nodes: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    method: str = "tiled",
    resolution: int = 3,
    k: int | None = None,
    max_tokens: int | None = None,
    scoring: str = "auto",
    allowed: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(selected nodes with rank/dist/cum_tokens, per-query contexts).

    queries: (query_id, q_embedding, x, y); nodes: collapsed node table.
    ``scoring='auto'`` keeps small batches on the broadcast-matrix fast
    path and switches large ones to the fully distributed join path
    (no driver collect) — one query or 10^6 give identical results.

    ``allowed``: optional one-column node_id allowlist (filtered
    retrieval — e.g. restrict to one language/domain/date range via
    ``metadata.filter(pred).select("node_id")``). Applied to the node
    table BEFORE candidate generation, so the tile index is built over
    the filtered set and filtered recall matches unfiltered recall.
    """
    k = k or cfg.top_k
    max_tokens = max_tokens or cfg.retrieve_max_tokens
    if allowed is not None:
        from raptor_rag_spark.operators.knn import semi_filter_allowed

        nodes = semi_filter_allowed(nodes, allowed)
    context_cols = ("text", "n_tokens", "layer")
    if method == "brute":
        # the scoring kernel carries the context columns: no join back
        ranked = brute_force_knn(queries, nodes, k=k, strategy=scoring, carry=context_cols)
    else:
        tiles = tile_assignments(nodes, "node_id", [resolution], cfg.soft_eps)
        grid_n = 1 << (resolution + 1)
        ranked = tile_knn(
            queries, nodes, tiles, resolution=resolution, k=k, ring=1,
            max_ring=grid_n, scoring=scoring,
        ).join(nodes.select("node_id", *context_cols), "node_id")
    sel = ranked.select("node_id", "query_id", "dist", "rank", *context_cols)
    kept = token_budget_prefix(sel, max_tokens=max_tokens)
    ctx = assemble_context(kept)
    return kept, ctx


def retrieve_traversal(
    queries: DataFrame,
    nodes: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    selection_mode: str = "top_k",
    k: int | None = None,
    threshold: float | None = None,
    start_layer: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Tree traversal: per layer score->select->descend via children.

    Matches the reference loop (tree_retriever.py:319-363): selection
    at EVERY visited layer accumulates; children of selected nodes
    form the next layer's candidate set (order-preserving dedup is
    subsumed by distinct node_ids per query — the engine re-scores, so
    first-occurrence order is irrelevant to the result set).

    One driver loop: the question matrix is collected once; each layer
    is one filtered read of ``nodes`` (below the top layer only the
    candidates' node ids), scored with the kNN kernels' float64 einsum,
    so driver memory grows with the candidates, not with the tree.
    ``start_layer`` (the tree's top layer) saves a ``max(layer)`` job.
    """
    import numpy as np
    import pandas as pd

    k = k or cfg.top_k
    threshold = threshold if threshold is not None else cfg.threshold
    q_ids, q_mat = _collect_query_matrix(queries, "query_id", "q_embedding")
    top = start_layer if start_layer is not None else nodes.agg(F.max("layer")).first()[0]

    picked = []
    cand = None  # (question row q, node_id) pairs; None = the whole layer
    for layer in range(top if len(q_ids) else -1, -1, -1):
        rows = nodes.filter(F.col("layer") == layer)
        if cand is not None:
            rows = rows.filter(F.col("node_id").isin(cand["node_id"].unique().tolist()))
        pdf = rows.select("node_id", "embedding", "children", "text", "n_tokens").toPandas()
        if pdf.empty:
            break
        if cand is None:
            q_row = np.repeat(np.arange(len(q_ids)), len(pdf))
            n_row = np.tile(np.arange(len(pdf)), len(q_ids))
        else:
            n_row = pd.Index(pdf["node_id"]).get_indexer(cand["node_id"])
            q_row, n_row = cand["q"].to_numpy()[n_row >= 0], n_row[n_row >= 0]
        n_mat = vec_matrix(pdf["embedding"], "embedding", "retrieve_traversal")
        dist = 1.0 - np.einsum("ij,ij->i", q_mat[q_row], n_mat[n_row])
        if selection_mode == "top_k":
            order = np.lexsort((pdf["node_id"].to_numpy()[n_row], dist, q_row))
            q_row, n_row, dist = q_row[order], n_row[order], dist[order]
            rank = np.arange(len(q_row)) - np.searchsorted(q_row, q_row) + 1
            keep = rank <= k
        else:
            # reference quirk: keeps DISTANCE above the threshold
            rank, keep = np.zeros(len(q_row), dtype=np.int64), dist > threshold
        q_row = q_row[keep]
        sel = pdf.iloc[n_row[keep]].assign(
            q=q_row, query_id=q_ids[q_row], dist=dist[keep], rank=rank[keep], sel_layer=layer
        )
        picked.append(sel)
        cand = (
            sel[["q", "children"]].explode("children").dropna()
            .rename(columns={"children": "node_id"})
            .astype({"node_id": np.int64})
            .drop_duplicates()
        )
        if cand.empty:
            break

    cols = ["query_id", "node_id", "dist", "rank", "text", "n_tokens", "sel_layer"]
    out = pd.concat(picked) if picked else pd.DataFrame(columns=cols)
    # context in visit order (layers top-down, then rank) — the
    # reference accumulates selected_nodes in that order before get_text
    out = out.sort_values(
        ["query_id", "sel_layer", "rank", "node_id"], ascending=[True, False, True, True]
    )
    qid = out["query_id"].to_numpy()
    out["visit"] = np.arange(len(out)) - np.searchsorted(qid, qid) + 1
    table = local_df(
        nodes.sparkSession,
        out[cols + ["visit"]].itertuples(index=False),
        "query_id long, node_id long, dist double, rank int, text string, "
        "n_tokens int, sel_layer int, visit int",
    )
    ctx = assemble_context(table.select("query_id", F.col("visit").alias("rank"), "text"))
    return table.drop("visit"), ctx
