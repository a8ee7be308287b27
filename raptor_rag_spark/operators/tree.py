"""RAPTOR-tree build as per-resolution tile aggregations.

Recasts the reference layer loop
(/root/reference/raptor/cluster_tree_builder.py:55-151):

- clustering (UMAP->GMM, cluster_utils.py:132-185) -> quadkey cell at
  a per-layer resolution (coarser each layer up the tree);
- oversized-cluster recursion (token sum > 3500 re-clusters,
  cluster_utils.py:166-181) -> cells over the token cap re-tile their
  members one resolution finer (bounded by max_resolution) — this same
  cap bounds every per-cell group size;
- cluster summarization (LLM, cluster_tree_builder.py:66-85) -> a
  deterministic extractive summarizer (an LLM endpoint drops into
  ``summarize_fn``), applied to the cells by one batched kernel,
  :func:`summarize_cells`. Where it runs is chosen by size: a level
  whose child level fits the driver (planutil.fits_driver on the
  child's manifest rows) is read with pyarrow, summarized by one
  kernel call over all its cells and written with pyarrow, with no
  Spark job; a larger one runs the same kernel per cell group in
  ``applyInPandas`` (:func:`build_level`);
- termination: new layer has <= min_level_nodes nodes or no reduction
  (reference cluster_tree_builder.py:95-100);
- every level checkpoints to parquet with a manifest carrying
  per-partition row counts, input lineage and timings (north_rule:
  resume mid-build) — ``build_tree`` restarts from the last complete
  level.

One level loop, :func:`rebuild_levels`, writes every level >= 1: a
build is a rebuild of every cell, and an incremental flush a rebuild
of the affected cells, under the same stop rules.

Node ids are allocated WITHOUT any global sort or driver round-trip:
a parent node's id encodes (layer, resolution, quadkey-as-int), which
is bijective because cell_id is unique within a layer. At 10^12 rows
a row_number()-style allocator would be a single-partition sort;
this is pure map-side arithmetic.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from raptor_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from raptor_rag_spark.functions.planutil import fits_driver, plan_is_bare_scan, plan_splits
from raptor_rag_spark.operators import maintenance
from raptor_rag_spark.operators.chunk import chunk_id_col, chunk_rows, chunk_source, split_text
from raptor_rag_spark.operators.embed import hash_embed_batch
from raptor_rag_spark.operators.tile import (
    cell_id_col,
    cell_key_col,
    np_cell_keys,
    np_quadkeys,
    pick_open_cells,
    projection_matrix,
    reduce_2d,
    sorted_keys,
    tile,
)
from raptor_rag_spark.tokenizer import DEFAULT_TOKENIZER

# the columns of every level (level0_rows shapes level 0 into it, and
# both level steps emit it): every level is written in this schema and
# read through it, never inferred
NODES_SCHEMA = (
    "node_id long, layer int, cell_id string, text string, "
    "children array<long>, n_tokens int, embedding array<float>, x double, y double"
)
NODES_COLUMNS = [field.split()[0] for field in NODES_SCHEMA.split(", ")]


# ------------------------------------------------------- summarizer


def extractive_summary(texts: list[str], max_tokens: int, tokenizer=DEFAULT_TOKENIZER) -> str:
    """Deterministic extractive summary: member texts in node_id order,
    first sentence of each member round-robin, packed until the token
    budget. Replaces the reference's GPT summarizer
    (SummarizationModels.py:17-44) for reproducible builds."""
    sent_lists = []
    for t in texts:
        sents = [s.strip() for s in split_text(t, tokenizer, max_tokens=40)] or [t.strip()]
        sent_lists.append([s for s in sents if s])
    picked: list[str] = []
    total = 0
    for round_i in range(max(len(sl) for sl in sent_lists) if sent_lists else 0):
        for sl in sent_lists:
            if round_i >= len(sl):
                continue
            n = len(tokenizer.encode(" " + sl[round_i]))
            if total + n > max_tokens:
                return " ".join(picked) if picked else (sl[round_i][:200])
            picked.append(sl[round_i])
            total += n
    return " ".join(picked)


def http_summarize_fn(
    base_url: str,
    model: str = "gpt-3.5-turbo",
    max_retries: int = 6,
    timeout: float = 60.0,
):
    """Production-shaped ``summarize_fn`` for :func:`build_level` /
    :func:`build_tree`: POST each cell's context to an OpenAI-style
    chat-completions service, mirroring the reference's LLM summarizer
    contract —

    - context construction: member texts joined exactly like the
      reference's ``get_text`` (utils.py:181-196 — each text's lines
      space-joined, texts concatenated with NO separator, quirk
      preserved);
    - prompt shape: system "You are a helpful assistant." + user
      "Write a summary of the following, including as many key details
      as possible: {context}:" with ``max_tokens`` passed through
      (SummarizationModels.py:28-40);
    - response: ``choices[0].message.content``
      (SummarizationModels.py:42);
    - bounded exponential retries, ``stop_after_attempt(6)`` analog
      (SummarizationModels.py:22). Deliberate deviations from the
      reference's ``except: return e`` (SummarizationModels.py:43-45,
      which would write the stringified exception INTO the tree as a
      node's text): 4xx rejections raise immediately (a retry cannot
      fix a rejected payload), and an exhausted retry budget raises so
      the Spark task fails and re-schedules — a summarizer outage must
      never silently poison parent nodes.

    Transport (retry/4xx/backoff discipline) is the shared
    :func:`raptor_rag_spark.functions.httpclient.post_json_with_retries`
    — one implementation for both model seams. Stdlib-only (urllib);
    runs where the level step runs (an applyInPandas worker, or a
    driver thread of summarize_cells), one HTTP call per cell.
    Returns the plug-in ``(texts, max_tokens) -> str`` callable the
    level steps expect."""
    from raptor_rag_spark.functions.httpclient import post_json_with_retries

    if max_retries < 1:
        raise ValueError(f"max_retries must be >= 1, got {max_retries}")
    url = base_url.rstrip("/") + "/v1/chat/completions"

    def fn(texts: list[str], max_tokens: int) -> str:
        context = "".join(" ".join(("" if t is None else str(t)).splitlines()) for t in texts)
        payload = {
            "model": model,
            "messages": [
                {"role": "system", "content": "You are a helpful assistant."},
                {
                    "role": "user",
                    "content": (
                        "Write a summary of the following, including "
                        f"as many key details as possible: {context}:"
                    ),
                },
            ],
            "max_tokens": max_tokens,
        }
        data = post_json_with_retries(
            url, payload, "summarization",
            max_retries=max_retries, timeout=timeout,
        )
        out = data["choices"][0]["message"]["content"]
        if not isinstance(out, str):
            raise ValueError(
                f"summarization service returned non-text: {type(out).__name__}"
            )
        return out

    return fn


def _summarizer(cfg: EngineConfig, summarize_fn=None):
    """(summarize, tokenizer factory) of a level step: ``summarize_fn``,
    else ``cfg.summarize_fn``, else the extractive summarizer. Parent
    n_tokens (and the extractive token budget) count in the dialect the
    leaves were chunked with, ``cfg.tokenizer_factory`` — a BPE-chunked
    tree with regex parent counts would mix dialects in every token
    budget downstream. The factory runs where the kernel runs (per
    worker cached for BPE); the default is the regex tokenizer."""
    tok_factory = cfg.tokenizer_factory or (lambda: DEFAULT_TOKENIZER)
    summarize = (
        summarize_fn
        or cfg.summarize_fn
        or (lambda texts, mt: extractive_summary(texts, mt, tokenizer=tok_factory()))
    )
    return summarize, tok_factory


def summarize_cells(
    members: pd.DataFrame,
    summarize: Callable[[list[str], int], str],
    tok_factory: Callable[[], object],
    max_tokens: int,
    dim: int | None = None,
    proj: np.ndarray | None = None,
    threads: int = 1,
) -> pd.DataFrame:
    """The parent rows (cell_id, resolution, text, children, n_tokens)
    of any number of cells, one per cell in cell_id order, from their
    members (cell_id, resolution, node_id, text): each cell's member
    texts in node_id order are summarized, its children are the member
    ids. Both level steps run it: :func:`build_level_local` over every
    cell of a level at once, :func:`build_level`'s ``applyInPandas``
    over one cell group.

    The members are sorted once and sliced per cell as plain lists;
    only the ``summarize`` calls run on ``threads`` threads (map keeps
    cell order), so a live summarizer such as :func:`http_summarize_fn`
    keeps requests in flight while the pure-Python work stays off a
    contended GIL. n_tokens are counted by one tokenizer.

    With ``dim`` the rows also carry the parents' hash embeddings, from
    one hash_embed_batch (batch-order independent by construction), and
    their x, y: per row the (1, dim) @ proj.T float64 product reduce_2d
    runs (a batched (n, dim) product can differ in the last ulp)."""
    members = members.sort_values(["cell_id", "node_id"])
    cells, first = np.unique(members["cell_id"].to_numpy(), return_index=True)
    bounds = list(zip(first, [*first[1:], len(members)]))
    texts, ids = members["text"].tolist(), members["node_id"].tolist()
    groups = [texts[a:b] for a, b in bounds]
    if threads > 1:
        with ThreadPoolExecutor(threads) as pool:
            summaries = list(pool.map(summarize, groups, [max_tokens] * len(groups)))
    else:
        summaries = [summarize(group, max_tokens) for group in groups]
    tok = tok_factory()
    out = pd.DataFrame(
        {  # object columns stay typed when there is no cell
            "cell_id": pd.Series(cells, dtype=object),
            "resolution": members["resolution"].to_numpy(np.int32)[first],
            "text": pd.Series(summaries, dtype=object),
            "children": pd.Series([[int(v) for v in ids[a:b]] for a, b in bounds], dtype=object),
            "n_tokens": [len(tok.encode(text)) for text in summaries],
        }
    )
    if dim is not None:
        emb = hash_embed_batch(pd.Series(summaries, dtype=object), dim)  # (n, dim) f32
        # one (1, dim) row at a time: = reduce_2d's matmul of one parent
        xy = np.array([e.astype(np.float64)[None, :] @ proj.T for e in emb]).reshape(-1, 2)
        out["embedding"] = pd.Series(list(emb), dtype=object)
        out["x"] = xy[:, 0]
        out["y"] = xy[:, 1]
    return out


def node_id_for_cell(layer: int):
    """Column fn: bijective parent id = layer<<48 | res<<40 | cell-as-int.

    quadkey digits are base-4; max_resolution<=14 keeps the int < 2^30."""

    def col(cell_id, resolution):
        as_int = F.conv(cell_id, 4, 10).cast("long")
        return (
            (F.lit(layer).cast("long") * F.lit(1 << 48))
            + (resolution.cast("long") * F.lit(1 << 40))
            + as_int
        ).alias("node_id")

    return col


# ----------------------------------------------------------- level 0


LEAF_SCHEMA = (
    "doc_id long, chunk_idx int, text string, n_tokens int, "
    "embedding array<float>, x double, y double"
)


def leaves_from_docs(
    docs: DataFrame,
    cfg: EngineConfig,
    dim: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_scheme: str = "arith",
) -> DataFrame:
    """Documents -> leaves (node_id, text, n_tokens, embedding, x, y) in
    one ``mapInPandas`` pass: per Arrow batch of documents, the chunks
    of :func:`chunk_rows` at ``cfg.max_tokens`` in the
    ``cfg.tokenizer_factory`` dialect (the one parents count in; the
    tokenizer is built once per task), their hash embeddings at ``dim``
    and the float64 ``emb @ projection_matrix(dim, cfg.seed).T`` that
    reduce_2d runs. The data crosses the JVM/Python boundary once, where
    chunk_documents -> embed_texts -> reduce_2d crossed it three times.
    The node id is :func:`chunk_id_col` of ``id_scheme``, computed in
    the JVM; the source is :func:`chunk_source`, as chunk_documents'."""
    factory = cfg.tokenizer_factory or (lambda: DEFAULT_TOKENIZER)
    max_tokens = cfg.max_tokens
    proj = projection_matrix(dim, cfg.seed)  # small, ships in the closure
    node_id = chunk_id_col(id_scheme)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok = factory()
        for pdf in it:
            out = chunk_rows(pdf[id_col], pdf[text_col], tok, max_tokens)
            emb = hash_embed_batch(out["text"], dim)
            # one (n, dim) product over the batch's chunks, as reduce_2d
            # runs it over an Arrow batch of embeddings
            xy = emb.astype(np.float64) @ proj.T
            out["embedding"] = pd.Series(list(emb), dtype=object)  # typed when empty
            out["x"] = xy[:, 0]
            out["y"] = xy[:, 1]
            yield out

    return (
        chunk_source(docs, id_col, text_col)
        .mapInPandas(kernel, schema=LEAF_SCHEMA)
        .select(node_id.alias("node_id"), "text", "n_tokens", "embedding", "x", "y")
    )


def level0_rows(leaves: DataFrame, cfg: EngineConfig, dim: int) -> DataFrame:
    """Leaves -> level-0 rows: layer 0, no cell, no children, and every
    column cast to NODES_SCHEMA, so level 0 reads back through it (an
    n_tokens long would write an INT64 the int schema can't read). The
    leaves' own x, y are kept (leaves_from_docs computes them); leaves
    built elsewhere without them are projected with reduce_2d(dim,
    cfg.seed)."""
    if not {"x", "y"} <= set(leaves.columns):
        leaves = reduce_2d(leaves, dim=dim, seed=cfg.seed)
    shaped = {"layer": F.lit(0), "cell_id": F.lit(None), "children": F.array().cast("array<long>")}
    return leaves.select(*[
        shaped.get(f.name, F.col(f.name)).cast(f.dataType).alias(f.name)
        for f in StructType.fromDDL(NODES_SCHEMA)
    ])


# -------------------------------------------------------- level step


def _assign_cells_with_cap(
    nodes: DataFrame, start_res: int, cfg: EngineConfig
) -> DataFrame:
    """Tile at start_res; cells whose token sum exceeds the cap re-tile
    their members one resolution finer (C4 recast). Returns nodes +
    (resolution, cell_id).

    ONE-PASS formulation (round 4; replaces the round-by-round driver
    fixed point, which ran ~3 eager materializations per resolution):
    per-cell (token_sum, count) for the WHOLE resolution ladder comes
    from one exploded aggregation, a cell is "splittable" iff sum > cap
    AND count > 1 (singleton over-cap cells stay — reference
    single-node base case, cluster_utils.py:161-163), and each node's
    final cell is its FIRST non-splittable ancestor (min resolution,
    always defined because max_resolution is never splittable).

    Provably identical to the fixed point: quadkey nesting means a
    finer cell's members all share its coarser ancestor, so whenever
    the loop evaluated a cell at res r (ancestor chain all splittable)
    its membership there equaled the cell's GLOBAL membership — the
    global per-(res, cell) stats are exactly the loop's stats wherever
    they are consulted, and finer rows under a non-split ancestor are
    simply never the minimum. Fully lazy: no driver actions; the stats
    and the first-ancestor pick shuffle only skinny (node_id, n_tokens,
    res, cell_id) rows, and ONE hash exchange of the full rows pays for
    the node_id join back (vs the loop's R rounds x (agg + 2 joins +
    2 eager wide-row checkpoint writes) — the wide rows moved through
    local storage every round there, they move through one exchange
    here)."""
    # the input may carry (resolution, cell_id) from the level below —
    # the loop formulation overwrote them via tile()'s withColumn; the
    # cap logic must drop them first
    nodes = nodes.drop("resolution", "cell_id")
    if cfg.max_resolution <= start_res:
        # no finer resolution to split into (incl. start_res PAST the
        # max — the loop formulation tiled at start_res there, and an
        # empty ladder would otherwise build an array<void> that dies
        # with a cryptic INVALID_EXTRACT_BASE_FIELD_TYPE)
        return tile(nodes, start_res).drop("ix", "iy")
    resolutions = list(range(start_res, cfg.max_resolution + 1))
    # broadcast-vs-join switch: the splittable set is bounded by the
    # populated-cell universe of the ladder's sub-max levels; under the
    # bound it lives on the driver (same discipline as
    # tile.MAX_BROADCAST_RESOLUTION), past it the join twin runs
    universe = sum(4 ** (r + 1) for r in resolutions[:-1])
    if universe > _MAX_SPLITTABLE_BROADCAST:
        return _assign_cells_with_cap_join(nodes, resolutions, cfg)
    # the input feeds BOTH the splittable-stats collect and the final
    # map-side pick: if there is real compute behind it (an un-pinned
    # chunk/embed pipeline), pin it once so the upstream plan does not
    # evaluate twice; cheap re-scans (level files, checkpoints) are
    # left alone
    if not plan_is_bare_scan(nodes):
        nodes = nodes.localCheckpoint(eager=False)
    # ONE skinny aggregation (map-side combine) of the exploded ladder
    # -> the splittable (res, cell) keys, collected (bounded above) as a
    # sorted array. Morton long keys, no per-row strings in the shuffle.
    keys_arr = F.array(
        *[cell_key_col(F.col("x"), F.col("y"), r) for r in resolutions[:-1]]
    )
    rows = (
        nodes.select(F.col("n_tokens"), F.explode(keys_arr).alias("_k"))
        .groupBy("_k")
        .agg(F.sum("n_tokens").alias("_sum"), F.count("*").alias("_n"))
        .filter(
            (F.col("_sum") > cfg.max_tokens_in_cluster) & (F.col("_n") > 1)
        )
        .select("_k")
        .collect()
    )
    splittable = sorted_keys([int(r["_k"]) for r in rows])
    if not len(splittable):
        # nothing over the cap: every node stays at start_res — pure
        # JVM tiling, zero Python and zero further shuffles (the common
        # case for upper tree levels, whose token mass shrinks fast)
        return tile(nodes, start_res).drop("ix", "iy")
    # map-side pick of each node's first non-splittable ancestor — no
    # join back, no per-node shuffle; the wide row never leaves the JVM
    # (the kernel sees only x, y)
    b_split = nodes.sparkSession.sparkContext.broadcast(splittable)
    base_r, max_r = resolutions[0], resolutions[-1]

    @F.pandas_udf("integer")
    def pick_res(it: "Iterator[tuple[pd.Series, pd.Series]]") -> "Iterator[pd.Series]":
        sp = b_split.value
        for xs, ys in it:
            res, _ = pick_open_cells(
                xs.to_numpy(dtype=np.float64), ys.to_numpy(dtype=np.float64),
                base_r, max_r, sp,
            )
            yield pd.Series(res)

    out = nodes.withColumn("resolution", pick_res(F.col("x"), F.col("y")))
    cell = F.coalesce(
        *[
            F.when(
                F.col("resolution") == r,
                cell_id_col(F.col("x"), F.col("y"), r),
            )
            for r in resolutions
        ]
    )
    return out.withColumn("cell_id", cell)


# splittable-set driver bound for _assign_cells_with_cap: past this
# ladder universe the set may not fit the driver — use the join twin
_MAX_SPLITTABLE_BROADCAST = 1 << 20


def _assign_cells_with_cap_join(
    nodes: DataFrame, resolutions: list[int], cfg: EngineConfig
) -> DataFrame:
    """Join-based twin of the cap-split pick for ladders whose cell
    universe exceeds the driver bound — the original round-4 one-pass
    formulation (no driver-resident state): exploded ladder stats,
    anti-join of splittable cells, per-node min-resolution pick, one
    wide join back. Identical output (the broadcast path's equivalence
    argument is the same first-non-splittable-ancestor rule)."""
    # cut upstream lineage once: `nodes` feeds BOTH the ladder stats
    # and the final join's left side — without this the upstream plan
    # (e.g. an un-pinned embed pipeline) evaluates twice per action
    nodes = nodes.localCheckpoint(eager=False)
    ladder = F.array(
        *[
            F.struct(
                F.lit(r).alias("resolution"),
                cell_id_col(F.col("x"), F.col("y"), r).alias("cell_id"),
            )
            for r in resolutions
        ]
    )
    ex = nodes.select(
        "node_id", "n_tokens", F.explode(ladder).alias("_l")
    ).select("node_id", "n_tokens", "_l.resolution", "_l.cell_id")
    splittable = (
        ex.filter(F.col("resolution") < cfg.max_resolution)
        .groupBy("resolution", "cell_id")
        .agg(F.sum("n_tokens").alias("_sum"), F.count("*").alias("_n"))
        .filter((F.col("_sum") > cfg.max_tokens_in_cluster) & (F.col("_n") > 1))
        .select("resolution", "cell_id")
    )
    chosen = (
        ex.join(splittable, ["resolution", "cell_id"], "left_anti")
        .groupBy("node_id")
        .agg(F.min(F.struct("resolution", "cell_id")).alias("_c"))
        .select(
            "node_id",
            F.col("_c.resolution").alias("resolution"),
            F.col("_c.cell_id").alias("cell_id"),
        )
    )
    return nodes.join(chosen, "node_id")


def build_level(
    nodes: DataFrame,
    layer: int,
    resolution: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    summarize_fn: Callable[[list[str], int], str] | None = None,
    with_embedding: bool = False,
    embed_dim: int | None = None,
) -> DataFrame:
    """One layer step in Spark: tile current nodes -> per-cell
    summarize (:func:`summarize_cells` of one cell group in
    ``applyInPandas``) -> parent nodes (node_id, layer, cell_id, text,
    children, n_tokens). The tree loop runs it for levels whose child
    level does not fit the driver (:func:`build_level_local` is its
    driver twin, over every cell in one call).

    Input needs: node_id, text, n_tokens, x, y.

    ``with_embedding=True`` additionally computes the parent's
    embedding (default hash embedder at ``embed_dim``) and its 2-D
    reduction (cfg.seed) INSIDE the same grouped kernel — one Python
    stage instead of three chained Arrow nodes (summarize ->
    embed_texts -> reduce_2d), with bit-identical outputs (the hash
    embedder is batch-order-independent by construction and the
    projection is the same float64 matmul reduce_2d runs). The tree
    build paths use this; the bare parent surface stays the default.
    """
    summarize, tok_factory = _summarizer(cfg, summarize_fn)
    assigned = _assign_cells_with_cap(nodes, resolution, cfg)

    out_schema = "cell_id string, resolution int, text string, children array<long>, n_tokens int"
    max_summary = cfg.summary_max_tokens
    dim = proj = None
    if with_embedding:
        dim = embed_dim or cfg.embedding_dim
        proj = projection_matrix(dim, cfg.seed)  # small, ships in closure
        out_schema += ", embedding array<float>, x double, y double"

    def kernel(pdf):
        return summarize_cells(pdf, summarize, tok_factory, max_summary, dim, proj)

    # explicit hash repartition BEFORE the grouped UDF: the summarizer
    # is CPU-bound Python, but its shuffle input is small in BYTES, so
    # AQE would coalesce the exchange to ~1 partition and serialize the
    # whole level's summarization (measured 62 s -> a few s at sf0.1).
    # A user-specified repartition on the group key satisfies the
    # required distribution (no second exchange) and AQE leaves it alone.
    par = nodes.sparkSession.sparkContext.defaultParallelism
    parents = assigned.select(
        "cell_id", "resolution", "node_id", "text", "n_tokens"
    ).repartition(par, "cell_id").groupBy("cell_id").applyInPandas(kernel, out_schema)

    mk_id = node_id_for_cell(layer)
    extra = ("embedding", "x", "y") if with_embedding else ()
    return parents.select(
        mk_id(F.col("cell_id"), F.col("resolution")),
        F.lit(layer).alias("layer"),
        "cell_id",
        "text",
        "children",
        "n_tokens",
        *extra,
    )


def _pick_cells_local(x: np.ndarray, y: np.ndarray, n_tokens: np.ndarray,
                      start_res: int, cfg: EngineConfig) -> np.ndarray:
    """The cap-split pick of :func:`_assign_cells_with_cap` on driver
    arrays: per-cell (token sum, count) over the sub-max ladder from
    the numpy cell keys, the splittable cells (sum over the cap, more
    than one member), and each point's first non-splittable ancestor
    by the same tile.pick_open_cells. Returns each point's cell key."""
    if cfg.max_resolution <= start_res:
        return np_cell_keys(x, y, start_res)[2]
    ladder = [np_cell_keys(x, y, r)[2] for r in range(start_res, cfg.max_resolution)]
    keys, inv = np.unique(np.concatenate(ladder), return_inverse=True)
    sums = np.bincount(inv, weights=np.tile(n_tokens.astype(np.float64), len(ladder)))
    splittable = keys[(sums > cfg.max_tokens_in_cluster) & (np.bincount(inv) > 1)]
    return pick_open_cells(x, y, start_res, cfg.max_resolution, splittable)[1]


def build_level_local(
    nodes: pd.DataFrame,
    layer: int,
    resolution: int,
    cfg: EngineConfig,
    dim: int,
    summarize_fn: Callable[[list[str], int], str] | None = None,
    threads: int = 1,
) -> pd.DataFrame:
    """Driver twin of ``build_level(with_embedding=True)`` over a pandas
    frame of child rows (node_id, text, n_tokens, x, y): the same
    cap-split rule on numpy cell keys, one :func:`summarize_cells` call
    over every cell (its summarize calls on ``threads`` threads), the
    same node-id rule. Returns the parents in NODES_COLUMNS."""
    summarize, tok_factory = _summarizer(cfg, summarize_fn)
    keys = _pick_cells_local(
        nodes["x"].to_numpy(np.float64), nodes["y"].to_numpy(np.float64),
        nodes["n_tokens"].to_numpy(), resolution, cfg,
    )
    members = pd.DataFrame({
        "cell_id": np_quadkeys(keys),
        "resolution": (keys >> 32).astype(np.int32),
        "node_id": nodes["node_id"].to_numpy(),
        "text": nodes["text"].to_numpy(),
    })
    parents = summarize_cells(
        members, summarize, tok_factory, cfg.summary_max_tokens, dim,
        projection_matrix(dim, cfg.seed), threads,
    )
    # node_id_for_cell: layer<<48 | res<<40 | cell-as-int
    parents["node_id"] = [
        (layer << 48) + (int(r) << 40) + int(c, 4)
        for c, r in zip(parents["cell_id"], parents["resolution"])
    ]
    parents["layer"] = layer
    return parents[NODES_COLUMNS]


# ------------------------------------------------- checkpointed build


def _manifest_path(base: str, layer: int) -> str:
    return os.path.join(base, f"level={layer}", "_MANIFEST.json")


def _level_path(base: str, layer: int) -> str:
    return os.path.join(base, f"level={layer}", "nodes.parquet")


def write_level(
    df: DataFrame | pd.DataFrame,
    base: str,
    layer: int,
    lineage: dict | Callable[[int], dict],
    start_resolution: int | None = None,
    started: float | None = None,
) -> dict:
    """Atomic level checkpoint, the same for every layer: the rows go to
    a ``nodes.parquet.compacting`` sibling stamped with a fresh save
    token, which replaces the live dir whole (the replaced dir is kept
    as rollback material), and the manifest — per-file row counts from
    the parquet footers, lineage, timings and the token — is committed
    LAST. Its presence marks the level complete; until it names the new
    token, :func:`recover_levels` rolls the swap back (the token'd save
    protocol of operators/maintenance.py).

    ``df`` is a Spark DataFrame, written by a Spark job, or a driver
    pandas frame in NODES_COLUMNS (a level built on the driver), written
    with pyarrow as one part file and no job (:func:`_write_rows_local`).

    ``lineage`` is a dict, or a function of the written row count that
    returns one (a rewrite records how many of its rows it recomputed).
    ``start_resolution`` (build_tree passes it at level 0) is recorded
    in the manifest; see :func:`tree_start_resolution`. The manifest's
    ``wall_sec`` runs from ``started`` (a ``time.time()`` the caller
    took when its level step began), default the call itself."""
    t0 = started or time.time()
    path = _level_path(base, layer)
    token = uuid.uuid4().hex
    if isinstance(df, pd.DataFrame):
        _write_rows_local(df, path + maintenance._SWAP_NEW)
        spark = SparkSession.active()
    else:
        df.write.mode("overwrite").parquet(path + maintenance._SWAP_NEW)
        spark = df.sparkSession
    maintenance.write_save_token(path + maintenance._SWAP_NEW, token)
    maintenance.swap_live_dir(path, keep_old=True)
    per_part = storage_partition_counts(path)
    rows = int(sum(per_part.values()))
    manifest = {
        "layer": layer,
        "rows": rows,
        "partitions": per_part,
        "lineage": lineage(rows) if callable(lineage) else lineage,
        "wall_sec": round(time.time() - t0, 3),
        "written_at_epoch": int(time.time()),
        "save_token": token,
    }
    if start_resolution is not None:
        manifest["start_resolution"] = int(start_resolution)
    maintenance.write_meta_atomic(_manifest_path(base, layer), manifest)
    maintenance.recover_save([path], token)  # drop the rollback dir
    # the renames bypass Spark's writer: drop its cached listing
    spark.catalog.refreshByPath(path)
    return manifest


def _nodes_arrow_schema():
    """NODES_SCHEMA as an Arrow schema."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(StructType.fromDDL(NODES_SCHEMA))


def _write_rows_local(rows: pd.DataFrame, path: str) -> None:
    """Write ``rows`` (NODES_COLUMNS) with pyarrow into a fresh dir at
    ``path``, in NODES_SCHEMA's Arrow types, as one snappy part file
    named as Spark's writer names task 0's (storage_partition_counts
    keys it ``"0"``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)  # a crashed earlier write
    os.makedirs(path)
    table = pa.Table.from_pandas(
        rows[NODES_COLUMNS], schema=_nodes_arrow_schema(), preserve_index=False
    )
    pq.write_table(
        table, os.path.join(path, f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"),
        compression="snappy",
    )


def require_local_base(base: str) -> None:
    """Raise ValueError naming ``base`` unless it is a local path. The
    level manifests, the append ledger and the level swap are
    local-filesystem I/O: on a remote base (hdfs://, s3a://) Spark would
    write the levels remotely while the manifests land in a local dir
    of that name, and the footer row count would fail unnamed."""
    if "://" in base:
        raise ValueError(
            f"tree checkpoint base {base!r} is not a local path: level "
            "manifests and the append-planner ledger are local-filesystem sidecars"
        )


def recover_levels(spark: SparkSession, base: str) -> None:
    """Bring every committed level to the state its manifest names
    (maintenance.recover_save against the manifest's save token): a
    rewrite that crashed after its swap but before its manifest commit
    is rolled back, and a commit whose cleanup crashed is finished. Tree
    writers run this on entry, before anything reads a level. A level
    whose manifest carries no token was never rewritten through the
    swap, so a token'd live dir there is uncommitted too."""
    require_local_base(base)
    layer = 0
    while os.path.exists(_manifest_path(base, layer)):
        path = _level_path(base, layer)
        token = read_manifest(base, layer).get("save_token", "")
        if maintenance.recover_save([path], token):
            spark.catalog.refreshByPath(path)
        layer += 1


def storage_partition_counts(path: str) -> dict[str, int]:
    """Per-file row counts straight from the parquet FOOTERS of a
    just-written level — a driver-side metadata walk, no Spark job.
    Keys are the write-task index parsed from the part file name.
    Zero-row files are skipped."""
    import pyarrow.parquet as pq

    counts: dict[str, int] = {}
    for fn in sorted(os.listdir(path)):
        if not fn.startswith("part-") or fn.endswith(".crc"):
            continue
        n = pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows
        if n:
            # part-00042-<uuid>... -> write task 42
            try:
                key = str(int(fn.split("-")[1]))
            except (IndexError, ValueError):
                key = fn
            counts[key] = counts.get(key, 0) + n
    return counts


# the on-disk level layout this code reads and writes: every level is
# one flat parquet dir. Caches of built trees key on it
LEVEL_LAYOUT_VERSION = "flat1"


class LevelLayoutError(ValueError):
    """A level dir in the ``cell_pfx=`` partition layout that levels >= 1
    were written in before the flat layout; no reader takes it."""


def _flat_level_path(base: str, layer: int) -> str:
    """The level's dir, checked to be flat (LevelLayoutError if not)."""
    path = _level_path(base, layer)
    if os.path.isdir(path) and any(e.startswith("cell_pfx=") for e in os.listdir(path)):
        raise LevelLayoutError(
            f"level {layer} under {base!r} is in the cell_pfx= partition layout "
            "of trees written before the flat levels; rebuild the tree from its leaves"
        )
    return path


def read_level(spark: SparkSession, base: str, layer: int) -> DataFrame:
    """Level checkpoint reader: every level is read through the fixed
    NODES_SCHEMA, so building the DataFrame runs no schema-inference
    job, only the file listing."""
    return spark.read.schema(NODES_SCHEMA).parquet(_flat_level_path(base, layer))


def read_level_local(
    base: str, layer: int, columns: list[str] | None = None
) -> pd.DataFrame:
    """The level's rows (``columns`` of NODES_SCHEMA, default all) as a
    pandas frame read on the driver with pyarrow — no Spark job. Like
    Spark, files whose names start with ``_`` or ``.`` are skipped (the
    ``_inflight_*`` staging dirs, ``_savetoken``, checksums)."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(
        _flat_level_path(base, layer),
        schema=_nodes_arrow_schema(),
        format="parquet",
        ignore_prefixes=["_", "."],
    )
    return dataset.to_table(columns=columns).to_pandas()


def read_collapsed(spark: SparkSession, base: str) -> DataFrame:
    """The collapsed-tree node table: the union of every complete level
    (node_id, layer, cell_id, text, children, n_tokens, embedding, x, y)."""
    out = read_level(spark, base, 0)
    for layer in range(1, last_complete_level(base) + 1):
        out = out.unionByName(read_level(spark, base, layer))
    return out


def read_manifest(base: str, layer: int) -> dict:
    with open(_manifest_path(base, layer)) as f:
        return json.load(f)


def last_complete_level(base: str) -> int:
    """Highest layer with a manifest; -1 if none."""
    lvl = -1
    while os.path.exists(_manifest_path(base, lvl + 1)):
        lvl += 1
    return lvl


def tree_start_resolution(base: str) -> int | None:
    """The start resolution the tree under ``base`` was built with —
    level L >= 1 groups at resolution start - (L-1). build_tree records
    it in the level-0 manifest; None when that records none."""
    if not os.path.exists(_manifest_path(base, 0)):
        return None
    recorded = read_manifest(base, 0).get("start_resolution")
    return None if recorded is None else int(recorded)


def _require_start_resolution(base: str) -> int:
    """The tree's start resolution (:func:`tree_start_resolution`);
    raises ValueError naming the base when the tree records none."""
    res = tree_start_resolution(base)
    if res is None:
        raise ValueError(
            f"tree at {base!r} records no start resolution (no level-0 "
            "start_resolution); rebuild it with build_tree"
        )
    return res


def _cells_at(xy: np.ndarray, res: int) -> set[str]:
    """The distinct resolution-``res`` cell ids of the (x, y) rows."""
    return set(np_quadkeys(np.unique(np_cell_keys(xy[:, 0], xy[:, 1], res)[2])))


def _lineage(base: str, layer: int, res: int, affected: set[str] | None,
             n_replaced: int, n_kept: int):
    """A level's manifest lineage: its input level when every cell was
    built, else the incremental counts (recomputed = written - kept)."""
    if affected is None:
        return {"input": _level_path(base, layer - 1), "resolution": res}
    info = {
        "input": "incremental",
        "resolution": res,
        "affected_cells": len(affected),
        "replaced_parents": n_replaced,
    }
    return lambda rows: {**info, "recomputed_parents": rows - n_kept}


def _rebuild_level_spark(spark, base, layer, res, affected, cfg, dim, summarize_fn,
                         n_child, track):
    """Level step for a child level too large for the driver: the
    affected cells' children through :func:`build_level`, the kept
    parents as a bare scan, one rewrite. The replaced parents' x, y are
    collected before it, the recomputed ones' after it when ``track``
    (the next level exists and needs its affected set). Returns
    (manifest, replaced count, changed x, y)."""
    t0 = time.time()
    child = read_level(spark, base, layer - 1)
    if affected is not None:
        # children selected by their OWN x, y at this resolution, which
        # is what the level groups on
        child = (
            tile(child, res)
            .drop("ix", "iy", "resolution")
            .filter(F.col("cell_id").isin(sorted(affected)))
        )
    parents = build_level(
        child, layer, res, cfg, summarize_fn=summarize_fn, with_embedding=True,
        embed_dim=dim,
    ).select(*NODES_COLUMNS)
    if affected is None:
        lineage = _lineage(base, layer, res, None, 0, 0)
        return write_level(parents, base, layer, lineage, started=t0), 0, None
    # a parent's start-res cell is its cell_id prefix; '_' keeps a null
    # cell_id out of every affected set
    in_affected = F.coalesce(F.substring("cell_id", 1, res + 1), F.lit("_")).isin(
        sorted(affected)
    )
    old = read_level(spark, base, layer)
    replaced = np.array(old.filter(in_affected).select("x", "y").collect(), np.float64)
    replaced = replaced.reshape(-1, 2)
    n_kept = int(read_manifest(base, layer)["rows"]) - len(replaced)
    # the kept side is a bare scan, coalesced to its size so the level's
    # file count stays bounded across rewrites
    kept = old.filter(~in_affected)
    manifest = write_level(
        kept.coalesce(plan_splits(kept)).unionByName(parents), base, layer,
        _lineage(base, layer, res, affected, len(replaced), n_kept), started=t0,
    )
    changed = replaced
    if track:
        new = read_level(spark, base, layer).filter(in_affected).select("x", "y").collect()
        changed = np.concatenate([replaced, np.array(new, np.float64).reshape(-1, 2)])
    return manifest, len(replaced), changed


def _rebuild_level_local(spark, base, layer, res, affected, cfg, dim, summarize_fn,
                         n_child, track):
    """Level step for a child level that fits the driver, with no Spark
    job: the child level read with pyarrow, :func:`build_level_local`
    over the affected cells' children, the kept parents from a pyarrow
    read of the level, and one pyarrow write (``write_level`` of the
    pandas rows). Returns (manifest, replaced count, changed x, y);
    ``track`` is moot, the changed rows are at hand. The manifest's
    ``wall_sec`` covers the whole step, the driver-side summarize
    included."""
    t0 = time.time()
    child = read_level_local(base, layer - 1, ["node_id", "text", "n_tokens", "x", "y"])
    if affected is not None:
        cells = np_quadkeys(np_cell_keys(child["x"].to_numpy(), child["y"].to_numpy(), res)[2])
        child = child[np.isin(cells, list(affected))]
    parents = build_level_local(
        child, layer, res, cfg, dim, summarize_fn, spark.sparkContext.defaultParallelism
    )
    rows, n_replaced, n_kept = parents, 0, 0
    changed = parents[["x", "y"]].to_numpy(np.float64)
    if affected is not None:
        old = read_level_local(base, layer)
        hit = old["cell_id"].str[: res + 1].isin(affected).to_numpy()
        n_replaced, n_kept = int(hit.sum()), int((~hit).sum())
        parts = [part for part in (old[~hit], parents) if len(part)]
        rows = pd.concat(parts, ignore_index=True) if parts else parents
        changed = np.concatenate([old.loc[hit, ["x", "y"]].to_numpy(np.float64), changed])
    manifest = write_level(
        rows, base, layer, _lineage(base, layer, res, affected, n_replaced, n_kept), started=t0,
    )
    return manifest, n_replaced, changed


def _drop_levels_above(base: str, layer: int) -> None:
    """Remove the manifests of every level above ``layer``, top first,
    so the levels stay contiguous at every step: without its manifest a
    level does not exist (its dir stays until the next write)."""
    for k in range(last_complete_level(base), layer, -1):
        os.remove(_manifest_path(base, k))


def rebuild_levels(
    spark: SparkSession,
    base: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    dim: int | None = None,
    affected_l1=None,
    max_layers: int = 8,
    summarize_fn: Callable[[list[str], int], str] | None = None,
) -> dict:
    """The one level loop: (re)write levels 1.. of the tree under
    ``base`` over its committed level 0. A build rebuilds every cell;
    an incremental flush rebuilds the start-resolution cells whose
    children changed; both apply the build's stop rules.

    ``affected_l1`` is the level-1 cells (resolution-start cell ids) to
    rebuild; None means every cell. Per level L (resolution start -
    (L-1)), the parents of the affected cells are recomputed from all
    their children (a cell's parents depend only on the children inside
    it, by the quadkey prefix property) and the other parents are kept,
    in one whole rewrite behind the level's manifest (write_level). A
    level that does not exist yet, or whose every cell is affected,
    keeps none. The next level's affected cells are those containing a
    recomputed or a replaced parent; a level with none is left as it is.

    Stop rules, as the reference's loop (cluster_tree_builder.py:95-100):
    no level above one with <= ``cfg.min_level_nodes`` rows or above
    ``max_layers``, and a level that does not reduce its child level is
    retracted. A stop at a level this call wrote (level 0 counts as
    written unless ``affected_l1`` is empty) removes the manifests of
    the levels above it; a stop at an unchanged level removes nothing,
    so resuming a tree under other stop settings keeps its levels.

    Each level runs on the driver when its child level's manifest rows
    fit the driver (planutil.fits_driver), else in Spark; levels shrink
    going up, so the loop switches at most once. Callers recover the
    tree first (:func:`recover_levels`). Returns {recomputed_parents,
    replaced_parents, affected_cells_l1}."""
    dim = dim or cfg.embedding_dim
    start = _require_start_resolution(base)
    affected = None if affected_l1 is None else set(affected_l1)
    stats = {
        "recomputed_parents": 0,
        "replaced_parents": 0,
        "affected_cells_l1": 0 if affected is None else len(affected),
    }
    layer, n_child = 0, int(read_manifest(base, 0)["rows"])
    # whether this call (or, for level 0, its caller) wrote the level
    # the loop stands on: only a written level may stop the tree below
    # its committed top, so a pure resume never removes a level
    wrote = affected is None or bool(affected)
    while layer < max_layers and n_child > cfg.min_level_nodes:
        lvl = layer + 1
        res = max(start - layer, 0)
        if not os.path.exists(_manifest_path(base, lvl)):
            affected = None  # a new level: every cell
        wrote = affected is None or bool(affected)
        if not wrote:
            n_lvl = int(read_manifest(base, lvl)["rows"])  # unchanged
        else:
            step = _rebuild_level_local if fits_driver(n_child) else _rebuild_level_spark
            track = affected is not None and os.path.exists(_manifest_path(base, lvl + 1))
            manifest, n_replaced, changed = step(
                spark, base, lvl, res, affected, cfg, dim, summarize_fn, n_child, track
            )
            n_lvl = manifest["rows"]
            lineage = manifest["lineage"]
            stats["recomputed_parents"] += lineage.get("recomputed_parents", n_lvl)
            stats["replaced_parents"] += n_replaced
            if affected is not None:
                affected = _cells_at(changed, max(start - lvl, 0)) if track else None
        if n_lvl >= n_child:
            break  # no reduction: the level is retracted below
        layer, n_child = lvl, n_lvl
    if wrote:
        _drop_levels_above(base, layer)
    return stats


def build_tree(
    spark: SparkSession,
    leaves: DataFrame | None,
    checkpoint_base: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    start_resolution: int = 4,
    max_layers: int = 8,
    embed_dim: int | None = None,
    resume: bool = True,
    summarize_fn: Callable[[list[str], int], str] | None = None,
) -> DataFrame:
    """Full tree: leaves (node_id, text, n_tokens, embedding, optionally
    x, y) -> all levels, checkpointed per level, resumable mid-build.

    ``leaves`` become level 0 (:func:`level0_rows`) and are read only
    when no level 0 is committed; resuming a tree takes ``leaves=None``.

    Levels >= 1 are written by :func:`rebuild_levels`.
    ``summarize_fn`` threads through to every level step (e.g.
    :func:`http_summarize_fn` for a live LLM endpoint); default is the
    deterministic extractive summarizer.

    Returns the union of all levels (the collapsed-tree node table:
    node_id, layer, cell_id, text, children, n_tokens, embedding, x, y).
    """
    dim = embed_dim or cfg.embedding_dim
    recover_levels(spark, checkpoint_base)  # fails on a remote base before any dir is made
    os.makedirs(checkpoint_base, exist_ok=True)

    resumed = resume and last_complete_level(checkpoint_base) >= 0
    if resumed:
        # growing a tree at another resolution would break the cell
        # nesting incremental maintenance relies on (each parent cell
        # inside one start-resolution cell) — refuse instead
        recorded = tree_start_resolution(checkpoint_base)
        if recorded is not None and recorded != start_resolution:
            raise ValueError(
                f"tree at {checkpoint_base!r} was built with start_resolution="
                f"{recorded}, got start_resolution={start_resolution}"
            )
    elif leaves is None:
        raise ValueError(f"no level 0 under {checkpoint_base!r} to resume and no leaves given")
    else:
        write_level(
            level0_rows(leaves, cfg, dim),
            checkpoint_base,
            0,
            {"input": "leaves"},
            start_resolution=start_resolution,
        )

    # resuming changes no cell of a committed level: only the levels
    # missing above them are built
    rebuild_levels(
        spark, checkpoint_base, cfg, dim,
        affected_l1=set() if resumed else None,
        max_layers=max_layers, summarize_fn=summarize_fn,
    )
    return read_collapsed(spark, checkpoint_base)
