"""Generate the pinned goldens on the deterministic synthetic pages
corpus; tests/test_goldens.py recomputes them and asserts equality.

- tests/goldens/golden.json: tile assignments and kNN join output
  (north_rule parity surface: "join output rows and tile assignments").
- tests/goldens/traversal.json: tree-traversal rows (distances as
  ``float.hex``) and context digests for str, list and DataFrame
  questions, top_k at k=2 and k=5, and threshold mode.

Usage: ``python tools/gen_goldens.py [golden|traversal]`` (default
golden). Regenerate only for an intentional semantic change.
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
    else:
        g = compute_goldens(spark)
        print("wrote", _write("golden.json", g), "nodes:", g["n_nodes"],
              "tile rows:", g["n_tile_rows"])
    spark.stop()
