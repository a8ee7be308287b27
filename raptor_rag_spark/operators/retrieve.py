"""Retrieval: collapsed-tree and tree-traversal modes, batch-native.

Reference: TreeRetriever (/root/reference/raptor/tree_retriever.py).
- collapsed (default there, :416-425): score the query against ALL
  nodes across levels -> top-k -> token budget -> context. Here the
  node table is already the union of levels; candidate generation is
  either brute force or the tile-pruned join.
- traversal (:319-363): start at the top layer, per layer select
  top-k/threshold, descend via children (J3 semi-join), accumulate.
  The engine form is a driver loop of <= num_layers small joins; the
  per-layer child dereference is explode(children) + broadcast join.

Queries are rows — one query or 10^6 behave identically (the
reference's batch endpoint reuses the node matrix across queries,
tree_retriever.py:502-504; here that is just the shared join build
side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from raptor_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from raptor_rag_spark.functions.localtab import local_df
from raptor_rag_spark.operators.embed import embed_texts, hash_embed_batch
from raptor_rag_spark.operators.knn import (
    assemble_context,
    brute_force_knn,
    threshold_select,
    tile_knn,
    token_budget_prefix,
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
    """
    from raptor_rag_spark.operators.knn import (
        _collect_query_matrix,
        _score_with_broadcast,
    )

    k = k or cfg.top_k
    threshold = threshold if threshold is not None else cfg.threshold
    nodes = nodes.cache()
    top = start_layer if start_layer is not None else nodes.agg(F.max("layer")).first()[0]

    # collect + broadcast the query matrix ONCE for the whole descent:
    # the loop visits the same queries at every layer, and re-running
    # the query-embedding plan per layer (the old per-layer
    # _score_candidates collect) was ~2 s/layer of pure fixed overhead
    # at sf0.1. Traversal queries are interactive batches (the
    # reference's API shape), so the broadcast path is the right one;
    # 10^5+-query batches should use retrieve_collapsed(scoring='join').
    spark = nodes.sparkSession
    q_ids, q_mat = _collect_query_matrix(queries, "query_id", "q_embedding")
    b_index = spark.sparkContext.broadcast({int(qid): i for i, qid in enumerate(q_ids)})
    b_mat = spark.sparkContext.broadcast(q_mat)
    ids_df = local_df(spark, [(int(qid),) for qid in q_ids], "query_id long")

    # per-layer candidate sets: start = all top-layer nodes for every query
    cand = (
        F.broadcast(ids_df)
        .crossJoin(nodes.filter(F.col("layer") == top).select("node_id"))
    )
    selected = None
    for layer in range(top, -1, -1):
        layer_nodes = nodes.filter(F.col("layer") == layer).select(
            "node_id", "embedding", "children", "text", "n_tokens"
        )
        # exact cosine via the broadcast-query-matrix einsum kernel —
        # same discipline as the kNN hot path (a Catalyst zip_with/
        # aggregate cosine is interpreted, ~0.27 ms/row measured)
        scored = _score_with_broadcast(
            cand.join(layer_nodes.select("node_id", "embedding"), "node_id"),
            b_index,
            b_mat,
        )
        if selection_mode == "top_k":
            w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("node_id").asc())
            picked = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
        else:
            picked = threshold_select(scored, threshold).withColumn("rank", F.lit(0))
        # fetch text/children AFTER selection: the join input is k rows
        # per query, not the whole candidate set
        sel = picked.join(
            layer_nodes.select("node_id", "text", "n_tokens", "children"), "node_id"
        )
        sel = sel.select("query_id", "node_id", "dist", "rank", "text", "n_tokens", "children")
        sel = sel.withColumn("sel_layer", F.lit(layer))
        # lazy localCheckpoint — but only on layers that DESCEND: there
        # sel has two consumers (the accumulated union and the next
        # layer's candidate explode). With AQE even a lazy checkpoint
        # materializes its stages (AdaptiveSparkPlan executes on
        # toRdd), yet it still beats both the eager variant (extra
        # blocking job per layer) and no-checkpoint (recompute + one
        # giant final compile): measured ~3.5 s vs 4.4 s eager vs
        # 4.2 s none for the sf0.1 slot. The bottom layer has a single
        # consumer, so its checkpoint would be a pure extra
        # stage-materialization round — skip it.
        if layer > 0:
            sel = sel.localCheckpoint(eager=False)
        selected = sel if selected is None else selected.unionByName(sel)
        if layer > 0:
            cand = (
                sel.select("query_id", F.explode("children").alias("node_id"))
                .dropDuplicates(["query_id", "node_id"])
            )
    out = selected.drop("children")
    # context in visit order (layers top-down, then rank) — the
    # reference accumulates selected_nodes in that order before get_text
    ordered = out.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("sel_layer").desc(), F.col("rank").asc(), F.col("node_id").asc()
            )
        ),
    )
    ctx = assemble_context(ordered)
    return out, ctx
