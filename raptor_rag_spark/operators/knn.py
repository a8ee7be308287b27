"""kNN join — the engine's flagship operator.

Replaces the reference's brute-force scipy loop
(/root/reference/raptor/utils.py:103-136 + argsort :198-208, callers
tree_retriever.py:199-224) and its FAISS IndexFlatIP search
(/root/reference/raptor/FaissRetriever.py:187-202,:259-273).

Two operators over identical semantics:

1. ``brute_force_knn`` — every query scored against every node by a
   blocked BLAS matmul (a broadcast query matrix against each Arrow
   batch of nodes, or cogrouped query/node blocks) + per-query top-k
   window. The node side is scanned once for all queries (the
   batch-retrieval reuse at tree_retriever.py:502-504). Correct at any
   selectivity; O(|Q| * |N|).

2. ``tile_knn`` — tile-pruned candidate generation: equi-join query
   cells against the node tile table on cell_id (with a neighbor ring
   around the query cell), then exact cosine re-rank. This is the
   engine recast of the FAISS index (north_rule): the cell grid is the
   index, the equi-join is the lookup — shuffle/broadcast hash join
   picked by AQE. Ring expansion: queries that end up with < k
   candidates retry with a wider ring (driver loop, geometrically rare).

Distances: embeddings are unit-norm, so cosine distance = 1 - dot.
Scoring runs as float64 BLAS (matmul / einsum) inside Arrow kernels,
one call per batch. Node vectors come in two formats, read from the
node frame's columns (``node_vector_cols``): float vectors, or int8
vectors with one scale each (operators/quantize.py), whose distance is
1 - dot * scale. Every kernel decodes both through ``decode_vectors``,
so both formats take every strategy. Ordering ties break on
node_id: np.argsort's default quicksort is NOT stable, so the
reference's tie order is undefined; the engine pins (dist, node_id)
total order (SURVEY.md §2.5 W1, documented deviation).

The brute-force kernels cut each batch to a partial top-k that is
exact under ties (``partial_topk``: every row at or below the batch's
k-th distance survives), so the (dist, node_id) result does not depend
on partitioning or Arrow batch composition, even with duplicated
vectors. The broadcast kernel's node input is coalesced to at most one
partition per core unless it is large
(``planutil.coalesce_kernel_input``): each Python task has a fixed cost,
and the collapsed node table is a union of small per-level scans. Its
``carry`` columns ride through the kernel beside each hit, so a caller
that needs node text for a context joins nothing back.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from raptor_rag_spark.config import DEFAULT_CONFIG
from raptor_rag_spark.operators.tile import (
    MAX_BROADCAST_RESOLUTION,
    cell_key_col,
    grid_index,
    in_sorted,
    neighbor_cells,
    np_cell_keys,
    ring_probe_keys,
    sorted_keys,
)


def _rank_and_take(
    scored: DataFrame, k: int, query_id: str = "query_id", node_id: str = "node_id"
) -> DataFrame:
    w = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col(node_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def partial_topk(dists, k: int):
    """(row, col) indices of a scoring kernel's partial top-k: every
    entry of ``dists`` (queries x batch) not beyond its row's k-th
    smallest distance. Keeping all rows tied at the k-th distance makes
    the union of partials contain the global (dist, node_id) top-k
    whatever the batch composition; an argpartition cut can drop the
    smaller node_id of a tie. ``~(d > kth)`` also keeps NaN entries, and
    a whole row when its k-th value is NaN (Spark ranks NaN last)."""
    import numpy as np

    take = min(k, dists.shape[1])
    if take == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    kth = np.partition(dists, take - 1, axis=1)[:, take - 1 : take]
    return np.nonzero(~(dists > kth))


# above this many queries the driver-collected broadcast matrix stops
# being a build side and starts being a driver OOM: strategy='auto'
# switches to the join-based (fully distributed) scoring path there.
BROADCAST_MAX_QUERIES = 100_000


def _collect_query_matrix(queries: DataFrame, query_id: str, q_emb: str):
    """Query side -> (ids ndarray, float64 matrix). Broadcast-path build
    side for small query batches; large batches take the join path
    (see BROADCAST_MAX_QUERIES / strategy='join'). A local table (the
    driver-embedded questions of embed_query_texts) is read without a
    job."""
    import numpy as np

    from raptor_rag_spark.functions.planutil import plan_is_local

    side = queries.select(query_id, q_emb)
    if plan_is_local(side):
        rows = side.collect()
        ids, vecs = np.array([r[0] for r in rows], dtype=np.int64), [r[1] for r in rows]
    else:
        pdf = side.toPandas()
        ids, vecs = pdf[query_id].to_numpy(dtype=np.int64), pdf[q_emb]
    return ids, vec_matrix(vecs, q_emb, "_collect_query_matrix")


def vec_matrix(values, col: str, where: str, expect_dim: int | None = None):
    """Column of array<float> -> (n, d) float64 matrix, failing LOUDLY
    on NULL or ragged-length vectors. ``np.array(list(col))`` silently
    builds a ragged object array from such input and the downstream
    matmul dies with a cryptic gufunc shape error (or, worse, a batch
    of only-NULL rows scores garbage) — every scoring kernel builds its
    matrices through this guard instead."""
    import numpy as np

    vals = list(values)
    if not vals:
        return np.zeros((0, 0), dtype=np.float64)
    if any(v is None for v in vals):
        raise ValueError(
            f"{where}: NULL vector in column {col!r}; drop or repair "
            f"NULL embeddings before scoring (e.g. .filter(col({col!r}).isNotNull()))"
        )
    try:
        mat = np.asarray(vals, dtype=np.float64)
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f"{where}: non-numeric or ragged-length vectors in column {col!r}"
        ) from exc
    if mat.ndim != 2:
        raise ValueError(
            f"{where}: ragged vector lengths in column {col!r} "
            f"(rows must share one dimension)"
        )
    if expect_dim is not None and mat.shape[1] != expect_dim:
        # a ragged corpus whose rows split across Arrow batches builds
        # internally-consistent per-batch matrices — the cross-batch
        # mismatch only surfaces against the expected (query) dim
        raise ValueError(
            f"{where}: vectors in column {col!r} have length "
            f"{mat.shape[1]}, expected {expect_dim}"
        )
    return mat


def node_vector_cols(df: DataFrame, n_emb: str = "embedding") -> tuple[str, ...]:
    """The node-vector format of ``df``, read from its columns:
    ``(n_emb,)`` for float vectors, ``("q_vec", "q_scale")`` for int8
    vectors with one scale each (quantize.quantize_embeddings:
    v ~= q_vec * q_scale). A frame with neither is rejected here, before
    any kernel runs."""
    if n_emb in df.columns:
        return (n_emb,)
    if "q_vec" in df.columns and "q_scale" in df.columns:
        return ("q_vec", "q_scale")
    raise ValueError(
        f"no node vectors: expected a float vector column {n_emb!r} or the "
        f"int8 columns 'q_vec' and 'q_scale'; got columns {df.columns}"
    )


def decode_vectors(pdf, cols: tuple[str, ...], where: str, expect_dim: int | None = None):
    """One Arrow batch's node vectors in the format ``cols``
    (node_vector_cols) -> (float64 matrix, per-row scales or None).
    int8 vectors stay unscaled: the kernels apply the scale to the dot
    product (``cosine_dist``)."""
    import numpy as np

    mat = vec_matrix(pdf[cols[0]], cols[0], where, expect_dim)
    if len(cols) == 1:
        return mat, None
    return mat, pdf[cols[1]].to_numpy(dtype=np.float64)


def cosine_dist(dots, scales):
    """Cosine distance of unit-norm vectors from their dot products;
    ``scales`` (int8 nodes) rescale each dot along the last axis."""
    return 1.0 - dots if scales is None else 1.0 - dots * scales


def _block_topk(q_mat, npdf, cols: tuple[str, ...], k: int, where: str):
    """Partial top-k of a query matrix against one batch of nodes:
    (query rows, node rows, distances)."""
    n_mat, scales = decode_vectors(npdf, cols, where, expect_dim=q_mat.shape[1])
    dists = cosine_dist(q_mat @ n_mat.T, scales)  # (nq, batch)
    rows_q, cols_n = partial_topk(dists, k)
    return rows_q, cols_n, dists[rows_q, cols_n]


def require_integral_id(df: DataFrame, col: str, where: str) -> None:
    """The join-path kernels cast ids with cast('long') / numpy int64: a
    non-integral id column would silently become NULL, collapse every
    row into the xxhash64(NULL) block, and crash the kernel on None ids
    — fail loudly up front instead (same contract as
    dedup.embedding_neardup_pairs)."""
    id_type = df.schema[col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"{where} needs an integral id column; {col!r} is {id_type}. "
            f"Derive one first, e.g. xxhash64({col}) or row_number, and "
            f"join back after."
        )


def semi_filter_allowed(
    df: DataFrame, allowed: DataFrame, id_col: str = "node_id"
) -> DataFrame:
    """Restrict ``df`` to the ids in a one-column ``allowed`` allowlist
    — the FILTERED-search metadata filter shared by brute_force_knn,
    retrieve_collapsed, TileAnnIndex.search and IvfIndex.search. One
    implementation so the semantics (left-semi: no columns contributed,
    first column renamed so any one-column frame works) cannot drift
    between call sites."""
    return df.join(
        allowed.withColumnRenamed(allowed.columns[0], id_col).select(id_col),
        id_col,
        "left_semi",
    )


def _resolve_strategy(strategy: str, queries: DataFrame) -> str:
    """'auto' -> 'broadcast' below BROADCAST_MAX_QUERIES else 'join'
    (one count() on the query side, which the caller's batch endpoint
    knows anyway)."""
    if strategy != "auto":
        return strategy
    return "broadcast" if queries.count() <= BROADCAST_MAX_QUERIES else "join"


def _block_pair_scores(
    queries: DataFrame,
    nodes: DataFrame,
    k: int,
    query_id: str,
    node_id: str,
    q_emb: str,
    vec_cols: tuple[str, ...],
) -> DataFrame:
    """The join strategy of brute_force_knn: per-query partial top-ks
    with NO driver collect of either side, so 10^6+ query batches behave
    exactly like 10 (the batch contract in retrieve.py).

    Two-sided blocked matmul (same shape as
    dedup.embedding_neardup_pairs): queries hash into QB blocks, nodes
    into NB blocks; each query row is replicated to every node block and
    vice versa; one cogroup per (qb, nb) block pair does a BLAS matmul
    and emits its per-query partial top-k. The global window then sees
    about NB*k rows per query (more only under ties at the k-th
    distance, see partial_topk). ``cogroup`` keeps the two sides as
    separate Arrow streams, so int8 node vectors shuffle as
    array<tinyint> + one scale (a union would upcast them to the query
    side's float). Shuffle volume is |Q|*NB + |N|*QB rows; block counts
    follow the cluster's parallelism so every core gets a block pair."""
    import numpy as np
    import pandas as pd

    require_integral_id(queries, query_id, "brute_force_knn")
    require_integral_id(nodes, node_id, "brute_force_knn")
    par = nodes.sparkSession.sparkContext.defaultParallelism
    # qb*nb ~ 2*parallelism: measured 5.2 s vs 24.2 s (120k q x 5k nodes,
    # 32 cores) for sqrt(2*par) vs sqrt(par) blocks — one wave of
    # par-ish groups straggles on the skewiest block pair, two waves of
    # smaller groups load-balance; shuffle volume grows only as
    # sqrt(par) * (|Q| + |N|)
    nb = qb = max(2, int((2 * par) ** 0.5))

    qrep = (
        queries.select(F.col(query_id).cast("long").alias("_id"), F.col(q_emb).alias("_emb"))
        .withColumn("_qb", F.pmod(F.xxhash64("_id"), F.lit(qb)).cast("int"))
        .withColumn("_nb", F.explode(F.array(*[F.lit(i) for i in range(nb)])))
    )
    nrep = (
        nodes.select(F.col(node_id).cast("long").alias("_id"), *vec_cols)
        .withColumn("_nb", F.pmod(F.xxhash64("_id"), F.lit(nb)).cast("int"))
        .withColumn("_qb", F.explode(F.array(*[F.lit(i) for i in range(qb)])))
    )

    def block_kernel(qpdf: pd.DataFrame, npdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(npdf):
            return pd.DataFrame({query_id: [], node_id: [], "dist": []}).astype(
                {query_id: "int64", node_id: "int64", "dist": "float64"}
            )
        q_mat = vec_matrix(qpdf["_emb"], q_emb, "brute_force_knn")
        rows_q, cols, dists = _block_topk(q_mat, npdf, vec_cols, k, "brute_force_knn")
        return pd.DataFrame(
            {
                query_id: qpdf["_id"].to_numpy(dtype=np.int64)[rows_q],
                node_id: npdf["_id"].to_numpy(dtype=np.int64)[cols],
                "dist": dists,
            }
        )

    return (
        qrep.groupBy("_qb", "_nb")
        .cogroup(nrep.groupBy("_qb", "_nb"))
        .applyInPandas(block_kernel, f"{query_id} long, {node_id} long, dist double")
    )


def brute_force_knn(
    queries: DataFrame,
    nodes: DataFrame,
    k: int = DEFAULT_CONFIG.top_k,
    query_id: str = "query_id",
    node_id: str = "node_id",
    q_emb: str = "q_embedding",
    n_emb: str = "embedding",
    strategy: str = "auto",
    allowed: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(query_id, node_id, dist, rank<=k, *carry). Exact at any batch size.

    ``nodes`` carries float vectors in ``n_emb`` or int8 vectors in
    ``q_vec``/``q_scale`` (node_vector_cols); both formats take either
    strategy.

    ``allowed``: optional one-column (node_id) allowlist for FILTERED
    kNN — rows of ``nodes`` outside it never reach the scoring kernel
    (left-semi join, planned broadcast/shuffled by size via AQE). The
    metadata-predicate pattern is
    ``allowed=metadata.filter(pred).select("node_id")`` so the
    predicate is pushed down on the metadata table's own scan.

    ``carry``: node columns returned beside each hit (e.g. the text and
    token count a retrieval context needs), so the caller needs no join
    back to ``nodes``. The broadcast kernel emits them with its partial
    top-k; the join strategy joins them back after its top-k.

    strategy='broadcast' (small query batches): the query matrix is
    broadcast as numpy; each Arrow batch of NODES does one BLAS matmul
    against it and emits the per-batch top-k per query (map-side
    partial top-k => the shuffle into the final window carries about
    parts*k rows per query, not |nodes|). The big side streams with
    zero shuffle, coalesced to at most one partition per core unless it
    is large (planutil.coalesce_kernel_input). A Catalyst
    zip_with/aggregate cosine is interpreted (~0.27 ms/row measured) —
    1000x slower than this path at scale.

    strategy='join' (large query batches): two-sided blocked cogroup
    matmul, no driver collect of either side (_block_pair_scores).
    'auto' switches at BROADCAST_MAX_QUERIES (one count() of the
    queries; a caller that knows the batch size passes the strategy
    instead).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from raptor_rag_spark.functions.planutil import coalesce_kernel_input

    vec_cols = node_vector_cols(nodes, n_emb)
    out_cols = [query_id, node_id, "dist", "rank", *carry]
    if allowed is not None:
        nodes = semi_filter_allowed(nodes, allowed, node_id)
    if _resolve_strategy(strategy, queries) == "join":
        scored = _block_pair_scores(queries, nodes, k, query_id, node_id, q_emb, vec_cols)
        ranked = _rank_and_take(scored, k, query_id, node_id)
        if carry:
            ranked = ranked.join(nodes.select(node_id, *carry), node_id)
        return ranked.select(*out_cols)
    node_side = nodes.select(node_id, *vec_cols, *carry)
    schema = T.StructType(
        [
            T.StructField(query_id, T.LongType()),
            T.StructField(node_id, T.LongType()),
            T.StructField("dist", T.DoubleType()),
            *(node_side.schema[c] for c in carry),
        ]
    )
    q_ids, q_mat = _collect_query_matrix(queries, query_id, q_emb)
    spark = nodes.sparkSession
    if len(q_ids) == 0:
        ranked_schema = T.StructType([*schema.fields, T.StructField("rank", T.IntegerType())])
        return spark.createDataFrame([], ranked_schema).select(*out_cols)
    b_ids = spark.sparkContext.broadcast(q_ids)
    b_mat = spark.sparkContext.broadcast(q_mat)

    def score(it):
        ids, mat = b_ids.value, b_mat.value
        for pdf in it:
            if not len(pdf):
                continue
            rows_q, cols, dists = _block_topk(mat, pdf, vec_cols, k, "brute_force_knn")
            out = pd.DataFrame(
                {
                    query_id: ids[rows_q],
                    node_id: pdf[node_id].to_numpy(dtype=np.int64)[cols],
                    "dist": dists,
                }
            )
            for c in carry:
                out[c] = pdf[c].to_numpy()[cols]
            yield out

    scored = coalesce_kernel_input(node_side).mapInPandas(score, schema)
    return _rank_and_take(scored, k, query_id, node_id).select(*out_cols)


def tile_knn_candidates(
    queries_xy: DataFrame,
    node_tiles: DataFrame,
    resolution: int,
    ring: int = 1,
    query_id: str = "query_id",
    broadcast_probe: bool = True,
) -> DataFrame:
    """Candidate generation: explode the query's neighbor-ring cells at
    ``resolution`` and equi-join the node tile table on cell_id.

    queries_xy needs x, y (reduced coords); node_tiles is the long
    (node_id, resolution, cell_id, is_soft) table — pre-filtered to one
    resolution here, so partition pruning applies when tiles are
    written partitioned by resolution. ``broadcast_probe=False`` drops
    the broadcast hint for huge query batches (AQE then picks a
    shuffle-hash join on cell_id).
    """
    q = queries_xy.withColumn("ix", grid_index(F.col("x"), resolution)).withColumn(
        "iy", grid_index(F.col("y"), resolution)
    )
    q = q.withColumn(
        "cell_id", F.explode(neighbor_cells(resolution, ring))
    ).drop("ix", "iy")
    tiles = node_tiles.filter(F.col("resolution") == resolution).select(
        "node_id", "cell_id"
    )
    probe = F.broadcast(q) if broadcast_probe else q
    # dropDuplicates: soft assignment can emit a node into several of
    # the query's ring cells — each (query, node) pair scores once.
    return (
        probe
        .join(tiles, "cell_id")
        .select(query_id, "node_id")
        .dropDuplicates([query_id, "node_id"])
    )


def _score_candidates(
    cands: DataFrame,
    queries: DataFrame,
    query_id: str = "query_id",
    q_emb: str = "q_embedding",
    strategy: str = "broadcast",
) -> DataFrame:
    """(query_id, node_id, node vectors) candidates -> (query_id,
    node_id, dist): the exact cosine of each candidate row, computed by
    one row-wise einsum per Arrow batch for either node format
    (node_vector_cols) — no interpreted Catalyst higher-order functions
    in the hot path.

    strategy='broadcast': each row's query vector is looked up in a
    driver-collected query matrix broadcast to the tasks, so only the
    node vector travels with the row. strategy='join': candidates
    equi-join the query-embedding table on query_id (shuffle-hash or
    broadcast, AQE's call) and the query vector travels with each row —
    double the Arrow traffic, but NO driver-resident state, so 10^6+
    query batches score exactly like 10."""
    import numpy as np

    from pyspark.sql import types as T

    vec_cols = node_vector_cols(cands)
    in_df = cands.select(query_id, "node_id", *vec_cols)
    out_schema = T.StructType(
        [in_df.schema[query_id], in_df.schema["node_id"], T.StructField("dist", T.DoubleType())]
    )
    if strategy == "join":
        require_integral_id(queries, query_id, "_score_candidates")
        require_integral_id(cands, "node_id", "_score_candidates")
        in_df = in_df.join(queries.select(query_id, q_emb), query_id)

        def query_rows(pdf):
            return vec_matrix(pdf[q_emb], q_emb, "_score_candidates")

    else:
        q_ids, q_mat = _collect_query_matrix(queries, query_id, q_emb)
        spark = cands.sparkSession
        if len(q_ids) == 0:
            return spark.createDataFrame([], out_schema)
        b_index = spark.sparkContext.broadcast({int(qid): i for i, qid in enumerate(q_ids)})
        b_mat = spark.sparkContext.broadcast(q_mat)

        def query_rows(pdf):
            return b_mat.value[pdf[query_id].map(b_index.value).to_numpy(dtype=np.int64)]

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            q_rows = query_rows(pdf)
            n_mat, scales = decode_vectors(
                pdf, vec_cols, "_score_candidates", expect_dim=q_rows.shape[1]
            )
            dists = cosine_dist(np.einsum("ij,ij->i", q_rows, n_mat), scales)
            yield pdf[[query_id, "node_id"]].assign(dist=dists)

    return in_df.mapInPandas(score, out_schema)


def _ring_knn(
    queries: DataFrame,
    nodes: DataFrame,
    candidates: Callable[[DataFrame, int, bool], DataFrame],
    k: int,
    ring: int,
    max_ring: int,
    query_id: str,
    q_emb: str,
    scoring: str,
) -> DataFrame:
    """The ring-expansion loop of the tile kNN joins.
    ``candidates(remaining, ring, broadcast_probe)`` returns the
    (query_id, node_id) candidate pairs at one ring; each round scores
    them exactly and ranks the top k.

    Queries with < k candidates are retried at wider rings on a SHORT
    fixed schedule: ring -> 4*ring -> max_ring (at most 3 passes; a long
    geometric ladder multiplies whole-job latency for the rare straggler
    query, so we jump straight to the fallback ring instead). Each
    round's result is localCheckpoint'ed: the loop otherwise compounds
    lineage and re-executes prior rounds inside later plans.
    """
    schedule = sorted({min(ring, max_ring), min(ring * 4, max_ring), max_ring})
    # pin the (small) query side once: every round broadcasts it, and
    # without this the query-embedding pipeline re-executes per round
    remaining = queries.localCheckpoint(eager=True) if len(schedule) > 1 else queries
    # one count resolves the scoring strategy AND the loop's early-exit
    # arithmetic (cheap: the side is pinned above)
    n_remaining = remaining.count() if (scoring == "auto" or len(schedule) > 1) else None
    if scoring == "auto":
        scoring = "broadcast" if n_remaining <= BROADCAST_MAX_QUERIES else "join"
    results: DataFrame | None = None
    for round_i, r in enumerate(schedule):
        cand = candidates(remaining, r, scoring == "broadcast")
        scored = _score_candidates(
            cand.join(nodes.select("node_id", *node_vector_cols(nodes)), "node_id"),
            remaining,
            query_id,
            q_emb,
            strategy=scoring,
        )
        ranked = _rank_and_take(scored, k, query_id)
        if round_i == len(schedule) - 1:
            results = ranked if results is None else results.unionByName(ranked)
            break
        # top-k output is tiny (<= |remaining| * k): pin it so the next
        # round's plan doesn't recompute this one
        ranked = ranked.localCheckpoint(eager=True)
        counts = ranked.groupBy(query_id).agg(F.count("*").alias("_n"))
        n_done = counts.filter(F.col("_n") >= k).count()
        if n_done == n_remaining:
            # every remaining query already has its k: skip the
            # done/remaining bookkeeping joins and further rounds —
            # the common case when the first ring suffices
            results = ranked if results is None else results.unionByName(ranked)
            break
        done_ids = counts.filter(F.col("_n") >= k).select(query_id).localCheckpoint(eager=True)
        done = ranked.join(F.broadcast(done_ids), query_id, "left_semi")
        results = done if results is None else results.unionByName(done)
        remaining = remaining.join(F.broadcast(done_ids), query_id, "left_anti").localCheckpoint(
            eager=True
        )
        n_remaining -= n_done
    return results


def tile_knn(
    queries: DataFrame,
    nodes: DataFrame,
    node_tiles: DataFrame,
    resolution: int,
    k: int = DEFAULT_CONFIG.top_k,
    ring: int = 1,
    max_ring: int | None = None,
    query_id: str = "query_id",
    q_emb: str = "q_embedding",
    scoring: str = "auto",
) -> DataFrame:
    """Tile-pruned kNN: candidates via cell equi-join, exact re-rank.

    ``scoring`` picks the exact-re-rank physical path: 'broadcast'
    (driver-collected query matrix, small batches), 'join' (fully
    distributed, unbounded batches), 'auto' (switch on query count —
    resolved ONCE here, not per ring round).

    ``queries`` must carry x, y (from tile.reduce_2d on the query
    embedding). If ``max_ring`` > ring, queries with < k candidates are
    retried at wider rings (ring -> 4*ring -> max_ring, see _ring_knn).
    """
    max_ring = min(max_ring if max_ring is not None else ring, 1 << (resolution + 1))

    def candidates(remaining: DataFrame, r: int, broadcast_probe: bool) -> DataFrame:
        return tile_knn_candidates(
            remaining, node_tiles, resolution, r, query_id, broadcast_probe=broadcast_probe
        )

    return _ring_knn(queries, nodes, candidates, k, ring, max_ring, query_id, q_emb, scoring)


_FINE_RING_CAP = 4


def probe_cells(
    queries_xy: DataFrame,
    populated_keys: set[int],
    resolutions: list[int],
    ring: int = 1,
    query_id: str = "query_id",
) -> DataFrame:
    """Query -> probe cell_keys against an adaptive quadtree, fully
    vectorized in ONE Arrow kernel (a Catalyst-expression formulation
    of the same logic built ~34k expression nodes and ran 25x slower).

    Radius-consistent covering: qres = finest resolution whose
    containing cell is populated (the query's local density level);
    probe radius = ring * cell_width(qres). Per resolution r:
    ring_r = 1 for coarser r, ring at qres, min(ring * 2^(r-qres),
    _FINE_RING_CAP) for finer r (a dense pocket next to the query).
    ``populated_keys`` is a key set or a sorted key array.
    """
    import numpy as np
    import pandas as pd

    spark = queries_xy.sparkSession
    b_keys = spark.sparkContext.broadcast(sorted_keys(populated_keys))
    res_list = sorted(resolutions)

    def kernel(it):
        keys = b_keys.value
        for pdf in it:
            if not len(pdf):
                continue
            qid = pdf[query_id].to_numpy(dtype=np.int64)
            x = pdf["x"].to_numpy(dtype=np.float64)
            y = pdf["y"].to_numpy(dtype=np.float64)
            # qres: finest populated containing cell, else coarsest res
            qres = np.full(len(qid), res_list[0], dtype=np.int64)
            undecided = np.ones(len(qid), dtype=bool)
            for r in reversed(res_list):
                sel = undecided & in_sorted(keys, np_cell_keys(x, y, r)[2])
                qres[sel] = r
                undecided &= ~sel
            q, cell = ring_probe_keys(qid, x, y, qres, res_list, ring, _FINE_RING_CAP)
            # only emit probes that hit populated cells: shrinks the
            # join probe side for free (we hold the key set anyway)
            hit = in_sorted(keys, cell)
            yield pd.DataFrame({query_id: q[hit], "cell_key": cell[hit]})

    return queries_xy.select(query_id, "x", "y").mapInPandas(
        kernel, f"{query_id} long, cell_key long"
    )


def probe_cells_join(
    queries_xy: DataFrame,
    populated_cells: DataFrame,
    resolutions: list[int],
    ring: int = 1,
    query_id: str = "query_id",
) -> DataFrame:
    """Join-based twin of :func:`probe_cells` — NO driver-resident key
    set, so it scales past the broadcast bound (at 10^12 nodes /
    occupancy 256 the populated-cell count is ~10^9: collecting it
    would break the driver; scanning it twice with a broadcast probe
    side does not).

    Two passes against the (distinct) populated-cells table:
    1. qres: each query's containing-cell ladder (one row per
       resolution, generated JVM-side) is broadcast against the cell
       table; the finest resolution that hits is the query's local
       density level (missing => coarsest).
    2. probes: the same ring geometry as probe_cells, generated by an
       Arrow kernel from (x, y, qres) with NO membership checks, then
       intersected with the cell table via a second broadcast join.

    Identical output to probe_cells (pytest-asserted).
    """
    import numpy as np
    import pandas as pd

    res_list = sorted(resolutions)
    cells = populated_cells.select("cell_key")
    ladder = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                cell_key_col(F.col("x"), F.col("y"), r).alias("cell_key"),
            )
            for r in res_list
        ]
    )
    qladder = queries_xy.select(query_id, F.explode(ladder).alias("_c")).select(
        query_id, F.col("_c.r").alias("r"), F.col("_c.cell_key").alias("cell_key")
    )
    # populated ∩ ladder, probe side broadcast: one scan of the cell table
    hits = cells.join(F.broadcast(qladder), "cell_key").select(query_id, "r")
    qres = hits.groupBy(query_id).agg(F.max("r").alias("qres"))
    q = queries_xy.select(query_id, "x", "y").join(qres, query_id, "left").fillna(
        {"qres": res_list[0]}
    )

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            qid, cell = ring_probe_keys(
                pdf[query_id].to_numpy(dtype=np.int64),
                pdf["x"].to_numpy(dtype=np.float64),
                pdf["y"].to_numpy(dtype=np.float64),
                pdf["qres"].to_numpy(dtype=np.int64),
                res_list, ring, _FINE_RING_CAP,
            )
            yield pd.DataFrame({query_id: qid, "cell_key": cell})

    probes = q.mapInPandas(kernel, f"{query_id} long, cell_key long")
    # second scan: keep only probes that hit populated cells
    return cells.join(F.broadcast(probes), "cell_key").select(query_id, "cell_key")


def adaptive_candidates(
    queries_xy: DataFrame,
    atiles: DataFrame,
    populated: set[int] | DataFrame,
    resolutions: list[int],
    ring: int = 1,
    query_id: str = "query_id",
    broadcast_probe: bool = True,
) -> DataFrame:
    """Candidate generation: vectorized probe-cell kernel + one long
    equi-join on the Morton cell_key. Each node lives in exactly one
    cell, so no dedup shuffle is needed. ``populated`` is either a
    broadcastable key set or sorted key array (fast path, bounded cell
    counts) or the distinct-cells DataFrame (join path, unbounded);
    ``broadcast_probe=False`` lets AQE plan a shuffle-hash join for
    huge query batches."""
    if isinstance(populated, DataFrame):
        qcells = probe_cells_join(queries_xy, populated, resolutions, ring, query_id)
    else:
        qcells = probe_cells(queries_xy, populated, resolutions, ring, query_id)
    probe = F.broadcast(qcells) if broadcast_probe else qcells
    return (
        probe
        .join(atiles.select("node_id", "cell_key"), ["cell_key"])
        .select(query_id, "node_id")
    )


def tile_knn_adaptive(
    queries: DataFrame,
    nodes: DataFrame,
    atiles: DataFrame,
    k: int = DEFAULT_CONFIG.top_k,
    ring: int = 1,
    max_ring: int = 8,
    query_id: str = "query_id",
    q_emb: str = "q_embedding",
    membership: str = "auto",
    resolutions: list[int] | None = None,
    scoring: str = "auto",
) -> DataFrame:
    """kNN join against adaptive quadtree tiles (the scale path for
    skewed corpora). Same ring-expansion contract as tile_knn.

    ``membership`` picks how probe cells are checked against populated
    cells: 'broadcast' collects the distinct cell keys into a driver
    array (fast, bounded — fine while max resolution <= 12, ~10^7
    cells); 'join' keeps them as a DataFrame and intersects via two
    broadcast joins (unbounded, two extra scans of the distinct-cells
    table, never a collect of the keys); 'auto' switches on the finest
    resolution present. ``scoring`` is the query-side twin of the same
    bound: 'broadcast' collects the query matrix to the driver, 'join'
    scores via a distributed equi-join (no collect), 'auto' switches on
    query count."""
    # the tile table is consumed at least twice per call (the populated
    # cell/resolution collect + one candidate join per ring round): if
    # it is a lazy plan with real compute behind it (e.g. the adaptive
    # assignment kernel straight off adaptive_tile_assignments), pin it
    # once instead of re-running that compute per pass. Already-
    # materialized inputs (a checkpoint, a parquet/bucketed store scan)
    # are left alone — no duplicate storage.
    from raptor_rag_spark.functions.planutil import plan_is_bare_scan

    if not plan_is_bare_scan(atiles):
        atiles = atiles.localCheckpoint(eager=False)

    def collect_keys():
        return sorted_keys(
            [int(r["cell_key"]) for r in atiles.select("cell_key").distinct().collect()]
        )

    keys = None
    if resolutions is None and membership != "join":
        # the morton cell_key embeds its resolution (key >> 32), so ONE
        # distinct-keys collect yields BOTH the populated keys and the
        # resolution ladder
        keys = collect_keys()
        resolutions = sorted(set((keys >> 32).tolist()))
    elif resolutions is None:
        resolutions = sorted(
            r["resolution"] for r in atiles.select("resolution").distinct().collect()
        )
    if membership == "auto":
        membership = "broadcast" if max(resolutions) <= MAX_BROADCAST_RESOLUTION else "join"
    if membership == "join":
        populated = atiles.select("cell_key").distinct().localCheckpoint(eager=True)
    else:
        populated = collect_keys() if keys is None else keys

    def candidates(remaining: DataFrame, r: int, broadcast_probe: bool) -> DataFrame:
        return adaptive_candidates(
            remaining, atiles, populated, resolutions, r, query_id,
            broadcast_probe=broadcast_probe,
        )

    return _ring_knn(queries, nodes, candidates, k, ring, max_ring, query_id, q_emb, scoring)


def token_budget_prefix(
    ranked: DataFrame,
    max_tokens: int = DEFAULT_CONFIG.retrieve_max_tokens,
    query_id: str = "query_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Keep the rank-order prefix whose inclusive running token sum
    stays <= max_tokens — exactly the reference's break-at-first-
    overflow loop (tree_retriever.py:211-221): n_tokens >= 0 makes the
    running sum monotone, so 'first overflow' == 'cumsum > budget'."""
    w = (
        Window.partitionBy(query_id)
        .orderBy(F.col("rank").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranked.withColumn("cum_tokens", F.sum(tokens_col).over(w))
        .filter(F.col("cum_tokens") <= max_tokens)
    )


def threshold_select(ranked: DataFrame, threshold: float) -> DataFrame:
    """Reference 'threshold' mode keeps dist > threshold — note:
    DISTANCE, not similarity (quirk preserved, tree_retriever.py:293-296,
    SURVEY.md W3)."""
    return ranked.filter(F.col("dist") > threshold)


# every char class Python str.splitlines treats as a line boundary
_LINE_TERM = "[\\n\\r\\x0B\\f\\x1C-\\x1E\\u0085\\u2028\\u2029]"


def flatten_lines(col: Column) -> Column:
    """JVM equivalent of ``' '.join(s.splitlines())`` (utils.py:193):
    \\r\\n is ONE break, every internal break becomes one space, and one
    trailing break is dropped (dropping any single terminator of a
    trailing run is equivalent)."""
    t = F.regexp_replace(col, "\\r\\n", "\n")
    # \z = absolute end of input ($ would also match before a final
    # terminator and replaceAll would strip the whole trailing run)
    t = F.regexp_replace(t, _LINE_TERM + "\\z", "")
    return F.regexp_replace(t, _LINE_TERM, " ")


def assemble_context(
    selected: DataFrame, query_id: str = "query_id", text_col: str = "text"
) -> DataFrame:
    """Per-query context string: nodes in rank order, each with
    newlines flattened to spaces, joined by blank lines with a
    TRAILING separator — byte-matches the reference get_text
    (utils.py:181-195: text += joined + "\\n\\n" per node)."""
    ordered = selected.withColumn("_flat", flatten_lines(F.col(text_col)))
    agg = (
        ordered.groupBy(query_id)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rank"), F.col("_flat")))
                    ),
                    lambda s: s["_flat"],
                ),
                "\n\n",
            ).alias("_ctx")
        )
    )
    return agg.select(
        query_id, F.concat(F.col("_ctx"), F.lit("\n\n")).alias("context")
    )
