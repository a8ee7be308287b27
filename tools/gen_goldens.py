"""Generate the pinned goldens on the deterministic synthetic pages
corpus; tests/test_goldens.py recomputes them and asserts equality.

- tests/goldens/golden.json: tile assignments and kNN join output
  (north_rule parity surface: "join output rows and tile assignments").
- tests/goldens/traversal.json: tree-traversal rows (distances as
  ``float.hex``) and context digests for str, list and DataFrame
  questions, top_k at k=2 and k=5, and threshold mode.
- tests/goldens/knn_kernels.json: exact-kNN rows (distances as
  ``float.hex``) of every scoring path over the sf0.001 embeddings:
  brute force and the tile/IVF index searches, float and int8 nodes,
  broadcast and join strategies.
- tests/goldens/leaves.json: level-0 rows (``float.hex`` x, y and
  digests of the text and the embedding bits) of every leaf path:
  arith ids over a many-partition and a 1-partition source, hash ids
  (``incremental_level0`` without ``page_id``), ``add_documents`` and
  ``append_documents`` of a string, and null and empty texts.
- tests/goldens/levels.json: the rows of every level >= 1 (node id,
  cell id, digests of the text and the embedding bits, children,
  n_tokens, ``float.hex`` x, y) of a build of the golden corpus on the
  driver step and on the Spark step, of two deferred days and a forced
  flush, of an eager ``incremental_update`` and of a build under a
  non-default ``tokenizer_factory``.

Usage: ``python tools/gen_goldens.py [golden|traversal|knn|leaves|levels]``
(default golden). Regenerate only for an intentional semantic change.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from raptor_rag_spark.datagen import synthetic_pages  # noqa: E402
from raptor_rag_spark.operators.chunk import chunk_documents  # noqa: E402
from raptor_rag_spark.operators.embed import embed_texts  # noqa: E402
from raptor_rag_spark.operators.extract import extract_pages  # noqa: E402
from raptor_rag_spark.operators.knn import brute_force_knn  # noqa: E402
from raptor_rag_spark.operators.tile import reduce_2d, tile_assignments  # noqa: E402
from raptor_rag_spark.session import get_spark  # noqa: E402

N_PAGES = 300
DIM = 32
K = 5


def corpus_docs(spark):
    pages = synthetic_pages(spark, n=N_PAGES, seed=42)
    return extract_pages(pages, passthrough=("page_id",)).select(
        F.col("page_id").alias("doc_id"), "text"
    )


def build(spark):
    chunks = chunk_documents(corpus_docs(spark), max_tokens=60)
    nodes = (
        embed_texts(chunks, dim=DIM)
        .withColumnRenamed("chunk_id", "node_id")
        .select("node_id", "text", "n_tokens", "embedding")
    )
    return reduce_2d(nodes, dim=DIM).localCheckpoint(eager=True)


def compute_goldens(spark) -> dict:
    nodes = build(spark)
    tiles = tile_assignments(nodes, "node_id", [2, 4]).collect()
    tile_rows = sorted(
        (r["node_id"], r["resolution"], r["cell_id"], r["is_soft"]) for r in tiles
    )
    tile_hash = hashlib.sha256(
        "\n".join(map(str, tile_rows)).encode()
    ).hexdigest()

    queries = nodes.orderBy("node_id").limit(10).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    knn = brute_force_knn(queries, nodes, k=K).collect()
    knn_rows = sorted(
        (r["query_id"], r["rank"], r["node_id"], round(r["dist"], 6)) for r in knn
    )
    return {
        "n_pages": N_PAGES,
        "dim": DIM,
        "n_nodes": nodes.count(),
        "n_tile_rows": len(tile_rows),
        "tile_assignments_sha256": tile_hash,
        "tile_sample": [list(r) for r in tile_rows[:20]],
        "knn_rows": [list(r) for r in knn_rows],
    }


TRAVERSAL_QUESTIONS = [
    "veri isleme",
    "berber dukkani",
    "data processing shuffle",
    "table scan join",
]
TRAVERSAL_THRESHOLD = 1.05


def _traversal_rows(sel) -> list:
    return sorted(
        [r["query_id"], r["node_id"], r["sel_layer"], r["rank"], float(r["dist"]).hex(),
         r["text"], r["n_tokens"]]
        for r in sel.collect()
    )


def _contexts(ctx) -> list:
    """[query_id, sha256 of the context, its length] per question."""
    pairs = ctx.items() if isinstance(ctx, dict) else ((r[0], r[1]) for r in ctx.collect())
    return sorted([int(q), hashlib.sha256(c.encode()).hexdigest(), len(c)] for q, c in pairs)


def compute_traversal_golden(spark, base: str) -> dict:
    """Tree-traversal rows and contexts over a tree built under
    ``base`` (an empty dir) from the golden corpus. top_k runs through
    ``RaptorEngine.retrieve`` for str, list and DataFrame questions;
    threshold mode, which the facade does not expose, calls
    ``retrieve_traversal`` with DataFrame questions. Contexts are
    recorded as their sha256 and length."""
    from raptor_rag_spark.api import RaptorEngine
    from raptor_rag_spark.config import EngineConfig
    from raptor_rag_spark.functions.localtab import local_df
    from raptor_rag_spark.operators.retrieve import embed_queries, retrieve_traversal
    from raptor_rag_spark.operators.tree import last_complete_level, read_manifest

    cfg = EngineConfig(embedding_dim=DIM)
    eng = RaptorEngine(spark, base, cfg, embed_dim=DIM)
    eng.add_documents(corpus_docs(spark))
    qs = TRAVERSAL_QUESTIONS
    qdf = local_df(spark, list(enumerate(qs)), "query_id long, text string")

    out = {
        "level_rows": [read_manifest(base, k)["rows"] for k in range(last_complete_level(base) + 1)],
    }
    for name, questions, k in (
        ("str_k2", qs[0], 2),
        ("list_k2", qs, 2),
        ("list_k5", qs, 5),
        ("df_k2", qdf, 2),
        ("df_k5", qdf, 5),
    ):
        ctx, sel = eng.retrieve(
            questions, top_k=k, collapse_tree=False, return_layer_information=True
        )
        out[name] = {"rows": _traversal_rows(sel), "contexts": _contexts(ctx)}
    sel, ctx = retrieve_traversal(
        embed_queries(qdf, dim=DIM, seed=cfg.seed), eng.nodes, cfg,
        selection_mode="threshold", threshold=TRAVERSAL_THRESHOLD,
    )
    out["df_threshold"] = {"rows": _traversal_rows(sel), "contexts": _contexts(ctx)}
    return out


KNN_EMBEDDINGS = "/root/testdata/sf0.001/embeddings.parquet"
KNN_QUERIES = 20
KNN_K = 10


def _knn_rows(ranked) -> list:
    return sorted(
        [r["query_id"], r["node_id"], r["rank"], float(r["dist"]).hex()]
        for r in ranked.collect()
    )


def compute_knn_golden(spark) -> dict:
    """Ranked rows of every exact-scoring path, keyed
    ``<path>_<format>_<strategy>``: brute force over float and int8
    nodes, ``tile_knn`` over float nodes, and ``TileAnnIndex`` /
    ``IvfIndex`` search over float and int8 stores, each with broadcast
    and join scoring. The first ``KNN_QUERIES`` embeddings (by id) are
    the queries."""
    from raptor_rag_spark.operators.ivf import IvfIndex
    from raptor_rag_spark.operators.knn import tile_knn
    from raptor_rag_spark.operators.quantize import quantize_embeddings
    from raptor_rag_spark.operators.similarity import TileAnnIndex

    emb = spark.read.parquet(KNN_EMBEDDINGS).select(
        F.col("vec_id").alias("node_id"), "embedding"
    )
    dim = len(emb.first()["embedding"])
    nodes = reduce_2d(emb, dim=dim).localCheckpoint(eager=True)
    corpus = {
        "float": nodes.select("node_id", "embedding"),
        "int8": quantize_embeddings(nodes.select("node_id", "embedding"))
        .select("node_id", "q_vec", "q_scale")
        .localCheckpoint(eager=True),
    }
    queries_xy = (
        nodes.orderBy("node_id")
        .limit(KNN_QUERIES)
        .select(F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding"), "x", "y")
        .localCheckpoint(eager=True)
    )
    queries = queries_xy.select("query_id", "q_embedding")
    tiles = tile_assignments(nodes, "node_id", [3])
    out = {}
    for fmt, store in corpus.items():
        tile_idx = TileAnnIndex(corpus["float"], dim=dim, quantized=fmt == "int8")
        ivf_idx = IvfIndex(corpus["float"], dim=dim, nlist=16, quantized=fmt == "int8")
        for strategy in ("broadcast", "join"):
            out[f"brute_{fmt}_{strategy}"] = _knn_rows(
                brute_force_knn(queries, store, k=KNN_K, strategy=strategy)
            )
            if fmt == "float":
                out[f"tile_knn_{fmt}_{strategy}"] = _knn_rows(
                    tile_knn(queries_xy, store, tiles, resolution=3, k=KNN_K,
                             ring=1, max_ring=4, scoring=strategy)
                )
            out[f"tile_ann_{fmt}_{strategy}"] = _knn_rows(
                tile_idx.search(queries, k=KNN_K, ring=2, scoring=strategy)
            )
            out[f"ivf_{fmt}_{strategy}"] = _knn_rows(
                ivf_idx.search(queries, k=KNN_K, nprobe=4, scoring=strategy)
            )
    return out


LEAVES_PAGES = 24


def _digest(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:16]


def _leaf_rows(rows) -> list:
    """[node_id, text digest, n_tokens, embedding-bits digest, x hex,
    y hex] per level-0 row, by node_id."""
    import numpy as np

    return sorted(
        [int(r["node_id"]), _digest(r["text"].encode()), int(r["n_tokens"]),
         _digest(np.asarray(r["embedding"], dtype=np.float32).tobytes()),
         float(r["x"]).hex(), float(r["y"]).hex()]
        for r in rows
    )


def compute_leaves_golden(spark, base: str) -> dict:
    """Level-0 rows of every leaf path, keyed by case; ``base`` is an
    empty dir for the string-built tree."""
    from raptor_rag_spark.api import RaptorEngine
    from raptor_rag_spark.config import EngineConfig
    from raptor_rag_spark.functions.localtab import local_df
    from raptor_rag_spark.operators.tree import leaves_from_docs, level0_rows, read_level
    from raptor_rag_spark.streaming.incremental import incremental_level0

    cfg = EngineConfig(embedding_dim=DIM)
    pages = synthetic_pages(spark, n=LEAVES_PAGES, seed=7).localCheckpoint(eager=True)
    docs = extract_pages(pages, passthrough=("page_id",)).select(
        F.col("page_id").alias("doc_id"), "text"
    ).localCheckpoint(eager=True)
    # one partition per core: chunked where it lies, no repartition
    assert docs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    texts = [r["text"] for r in docs.orderBy("doc_id").collect()]
    odd = local_df(
        spark,
        [(1, None), (2, ""), (3, "  \n "), (4, "One short sentence. Another one!")],
        "doc_id long, text string",
    )

    def level0(d, **kw):
        return _leaf_rows(level0_rows(leaves_from_docs(d, cfg, DIM, **kw), cfg, DIM).collect())

    out = {
        "arith_partitioned": level0(docs),
        "arith_one_partition": level0(docs.coalesce(1)),
        "hash_incremental": _leaf_rows(incremental_level0(pages.drop("page_id"), cfg).collect()),
        "null_and_empty": level0(odd),
    }
    eng = RaptorEngine(spark, base, cfg, embed_dim=DIM)
    eng.add_documents("\n".join(texts[:12]))
    out["add_documents_str"] = _leaf_rows(read_level(spark, base, 0).collect())
    eng.append_documents("\n".join(texts[12:15]))
    out["append_documents_str"] = _leaf_rows(read_level(spark, base, 0).collect())
    return out


def _level_rows(spark, base: str) -> list:
    """Per level >= 1 of the tree under ``base``: [node_id, cell_id,
    text digest, children, n_tokens, embedding-bits digest, x hex, y
    hex] per row, by node_id."""
    import numpy as np

    from raptor_rag_spark.operators.tree import last_complete_level, read_level

    return [
        sorted(
            [int(r["node_id"]), r["cell_id"], _digest(r["text"].encode()),
             [int(c) for c in r["children"]], int(r["n_tokens"]),
             _digest(np.asarray(r["embedding"], dtype=np.float32).tobytes()),
             float(r["x"]).hex(), float(r["y"]).hex()]
            for r in read_level(spark, base, k).collect()
        )
        for k in range(1, last_complete_level(base) + 1)
    ]


def _day_leaves(spark, cfg, d: int):
    """The leaves of one 6-page day with fresh page ids and urls."""
    from raptor_rag_spark.streaming.incremental import incremental_level0

    pages = (
        synthetic_pages(spark, n=6, seed=80 + d)
        .withColumn("page_id", F.col("page_id") + 60_000 + 100 * d)
        .withColumn("url", F.concat(F.lit(f"https://day{d}.test/"), F.col("page_id")))
    )
    return incremental_level0(pages, cfg).localCheckpoint(eager=True)


def compute_levels_golden(spark, root: str) -> dict:
    """Levels >= 1 of every level-step path, keyed by case; ``root``
    is an empty dir for the trees. The golden corpus's leaves are built
    once and pinned, so every case groups the same level 0."""
    import shutil

    from raptor_rag_spark.config import EngineConfig
    from raptor_rag_spark.functions import planutil
    from raptor_rag_spark.operators.tree import build_tree, leaves_from_docs
    from raptor_rag_spark.streaming.incremental import (
        incremental_update,
        incremental_update_planned,
    )

    cfg = EngineConfig(embedding_dim=DIM)
    docs = corpus_docs(spark).localCheckpoint(eager=True)
    leaves = leaves_from_docs(docs, cfg, DIM).localCheckpoint(eager=True)
    days = [_day_leaves(spark, cfg, d) for d in range(3)]

    def path(name):
        return os.path.join(root, name)

    build_tree(spark, leaves, path("driver"), cfg, embed_dim=DIM)
    out = {"driver_build": _level_rows(spark, path("driver"))}

    bound = planutil.DRIVER_MAX_ROWS
    planutil.DRIVER_MAX_ROWS = 0  # every level step in Spark
    try:
        build_tree(spark, leaves, path("spark"), cfg, embed_dim=DIM)
    finally:
        planutil.DRIVER_MAX_ROWS = bound
    out["spark_build"] = _level_rows(spark, path("spark"))

    shutil.copytree(path("driver"), path("deferred"))
    for day in days[:2]:
        incremental_update_planned(
            spark, path("deferred"), day, cfg, embed_dim=DIM, min_pending_per_cell=10**6
        )
    incremental_update_planned(spark, path("deferred"), None, cfg, embed_dim=DIM, force_flush=True)
    out["deferred_flush"] = _level_rows(spark, path("deferred"))

    shutil.copytree(path("driver"), path("eager"))
    incremental_update(spark, path("eager"), days[2], cfg, embed_dim=DIM)
    out["eager_update"] = _level_rows(spark, path("eager"))

    def words():
        # whitespace words: a token dialect other than the default regex
        class Words:
            def encode(self, text):
                return text.split()

        return Words()

    wcfg = EngineConfig(embedding_dim=DIM, tokenizer_factory=words)
    wleaves = leaves_from_docs(docs, wcfg, DIM).localCheckpoint(eager=True)
    build_tree(spark, wleaves, path("words"), wcfg, embed_dim=DIM)
    out["tokenizer_factory_build"] = _level_rows(spark, path("words"))
    return out


def _write(name: str, g: dict) -> str:
    out = os.path.join(os.path.dirname(__file__), "..", "tests", "goldens", name)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(g, f, indent=1)
    return out


if __name__ == "__main__":
    which = sys.argv[1] if len(sys.argv) > 1 else "golden"
    spark = get_spark("gen-goldens", cores=8)
    if which == "traversal":
        with tempfile.TemporaryDirectory() as base:
            g = compute_traversal_golden(spark, base)
        print("wrote", _write("traversal.json", g), "levels:", g["level_rows"])
    elif which == "leaves":
        with tempfile.TemporaryDirectory() as base:
            g = compute_leaves_golden(spark, base)
        print("wrote", _write("leaves.json", g), "rows:",
              {case: len(rows) for case, rows in g.items()})
    elif which == "levels":
        with tempfile.TemporaryDirectory() as root:
            g = compute_levels_golden(spark, root)
        print("wrote", _write("levels.json", g), "rows:",
              {case: [len(rows) for rows in levels] for case, levels in g.items()})
    elif which == "knn":
        g = compute_knn_golden(spark)
        print("wrote", _write("knn_kernels.json", g), "rows:",
              {case: len(rows) for case, rows in g.items()})
    else:
        g = compute_goldens(spark)
        print("wrote", _write("golden.json", g), "nodes:", g["n_nodes"],
              "tile rows:", g["n_tile_rows"])
    spark.stop()
