"""Tree build: level loop, checkpoint manifests, resume, structure
properties (reference semantics: cluster_tree_builder.py:55-151)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.config import EngineConfig
from raptor_rag_spark.datagen import synthetic_pages
from raptor_rag_spark.functions import planutil
from raptor_rag_spark.operators.chunk import chunk_documents
from raptor_rag_spark.operators.embed import embed_texts
from raptor_rag_spark.operators.tree import (
    build_tree,
    extractive_summary,
    last_complete_level,
)

CFG = EngineConfig(embedding_dim=32, min_level_nodes=4)


@pytest.fixture(scope="module")
def leaves(spark):
    pages = synthetic_pages(spark, n=120, seed=42)
    docs = pages.select(F.col("page_id").alias("doc_id"), "text")
    chunks = chunk_documents(docs, max_tokens=60)
    return (
        embed_texts(chunks, dim=32)
        .withColumnRenamed("chunk_id", "node_id")
        .select("node_id", "text", "n_tokens", "embedding")
        .cache()
    )


def test_extractive_summary_deterministic():
    texts = ["First point. Second point.", "Another doc here. More text!"]
    s1 = extractive_summary(texts, 30)
    s2 = extractive_summary(texts, 30)
    assert s1 == s2 and len(s1) > 0


def test_build_checkpoints_and_structure(spark, leaves, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("tree"))
    nodes = build_tree(spark, leaves, base, CFG, start_resolution=3, embed_dim=32)
    layers = {r["layer"]: r["n"] for r in nodes.groupBy("layer").agg(F.count("*").alias("n")).collect()}
    assert 0 in layers and len(layers) >= 2, layers
    # monotone shrink above the leaves
    sizes = [layers[k] for k in sorted(layers)]
    assert all(a > b for a, b in zip(sizes, sizes[1:])), sizes

    # manifests: per-level lineage + row counts match
    lvl = last_complete_level(base)
    assert lvl == max(layers)
    for layer in sorted(layers):
        with open(os.path.join(base, f"level={layer}", "_MANIFEST.json")) as f:
            man = json.load(f)
        assert man["rows"] == layers[layer]
        assert sum(man["partitions"].values()) == man["rows"]
        assert "lineage" in man and "wall_sec" in man

    # every non-leaf child id exists in a LOWER layer exactly
    parents = nodes.filter(F.col("layer") > 0).select(
        "layer", F.explode("children").alias("child_id")
    )
    ids = nodes.select(F.col("node_id").alias("child_id"), F.col("layer").alias("child_layer"))
    joined = parents.join(ids, "child_id", "left")
    assert joined.filter(F.col("child_layer").isNull()).count() == 0
    assert joined.filter(F.col("child_layer") != F.col("layer") - 1).count() == 0

    # every leaf reachable: union of layer-1 children covers all leaves
    covered = (
        nodes.filter(F.col("layer") == 1)
        .select(F.explode("children").alias("node_id"))
        .distinct()
    )
    n_leaves = nodes.filter(F.col("layer") == 0).count()
    assert covered.count() == n_leaves


def test_resume_mid_build_identical(spark, leaves, tmp_path_factory):
    full_base = str(tmp_path_factory.mktemp("tree_full"))
    nodes_full = build_tree(spark, leaves, full_base, CFG, start_resolution=3, embed_dim=32)

    # simulate a crash after level 1: copy levels 0..1, then resume
    resumed_base = str(tmp_path_factory.mktemp("tree_resumed"))
    import shutil

    for lvl in (0, 1):
        shutil.copytree(
            os.path.join(full_base, f"level={lvl}"),
            os.path.join(resumed_base, f"level={lvl}"),
        )
    assert last_complete_level(resumed_base) == 1
    nodes_resumed = build_tree(spark, leaves, resumed_base, CFG, start_resolution=3, embed_dim=32)

    a = sorted(map(tuple, nodes_full.select("node_id", "layer", "cell_id", "text").collect()))
    b = sorted(map(tuple, nodes_resumed.select("node_id", "layer", "cell_id", "text").collect()))
    assert a == b


def test_resume_without_level0_raises(spark, tmp_path):
    """Resuming without leaves needs a committed level 0: on a base that
    has none, build_tree raises a ValueError naming the base and writes
    nothing."""
    base = str(tmp_path / "no_tree")
    with pytest.raises(ValueError, match="no level 0 under .*no_tree"):
        build_tree(spark, None, base, CFG)
    assert os.listdir(base) == []


def test_node_ids_unique(spark, leaves, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("tree_ids"))
    nodes = build_tree(spark, leaves, base, CFG, start_resolution=3, embed_dim=32)
    assert nodes.count() == nodes.select("node_id").distinct().count()


def test_incremental_update_matches_scratch(spark, leaves, tmp_path_factory):
    """SURVEY §2.10: append new pages -> re-run AFFECTED levels only.
    The incrementally maintained tree must equal a from-scratch build
    over the merged leaves, while recomputing fewer cells than a full
    level rebuild (manifest lineage proves it)."""
    import json as _json

    from raptor_rag_spark.operators.tile import reduce_2d
    from raptor_rag_spark.streaming.incremental import incremental_update

    base_inc = str(tmp_path_factory.mktemp("tree_inc"))
    base_all = str(tmp_path_factory.mktemp("tree_all"))
    old = leaves.filter(F.col("node_id") % 5 != 0)
    new = leaves.filter(F.col("node_id") % 5 == 0)
    build_tree(spark, old, base_inc, CFG, start_resolution=3, embed_dim=32)
    new_xy = reduce_2d(new, dim=32, seed=CFG.seed)
    got = incremental_update(spark, base_inc, new_xy, CFG, embed_dim=32)
    want = build_tree(
        spark, leaves, base_all, CFG, start_resolution=3, embed_dim=32, resume=False
    )
    cols = ["node_id", "layer", "cell_id", "text", "n_tokens"]
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.select(*cols).collect())
    assert g == w
    gc = {r["node_id"]: sorted(r["children"]) for r in got.select("node_id", "children").collect()}
    wc = {r["node_id"]: sorted(r["children"]) for r in want.select("node_id", "children").collect()}
    assert gc == wc
    # affected-only recompute: level 1 rebuilt fewer parents than exist
    with open(os.path.join(base_inc, "level=1", "_MANIFEST.json")) as fh:
        man = _json.load(fh)
    assert man["lineage"]["input"] == "incremental"
    assert 0 < man["lineage"]["recomputed_parents"] < man["rows"]
    # level 0 was appended, not rewritten
    with open(os.path.join(base_inc, "level=0", "_MANIFEST.json")) as fh:
        man0 = _json.load(fh)
    assert man0.get("appends") and man0["appends"][0]["rows"] > 0


def test_incremental_update_rewrites_upper_levels_whole(spark, leaves, tmp_path_factory):
    """Every level >= 1 is one flat parquet dir, rewritten whole by an
    append behind its manifest: no partition subdirectory, at most one
    file per write task plus one for the kept rows, the manifest names
    the live dir's save token and agrees with storage, no swap sibling
    is left, and the parents of unaffected cells are carried over."""
    import glob

    from raptor_rag_spark.operators.tile import reduce_2d
    from raptor_rag_spark.operators.tree import _level_path, read_level, read_manifest
    from raptor_rag_spark.streaming.incremental import incremental_update

    base = str(tmp_path_factory.mktemp("tree_flat"))
    old = leaves.filter(F.col("node_id") % 5 != 0)
    new = leaves.filter(F.col("node_id") % 5 == 0).limit(3)
    build_tree(spark, old, base, CFG, start_resolution=3, embed_dim=32)
    cols = ["node_id", "cell_id", "text"]
    before = set(map(tuple, read_level(spark, base, 1).select(*cols).collect()))
    incremental_update(spark, base, reduce_2d(new, dim=32, seed=CFG.seed), CFG, embed_dim=32)

    par = spark.sparkContext.defaultParallelism
    for layer in range(1, last_complete_level(base) + 1):
        path = _level_path(base, layer)
        assert not [e for e in os.listdir(path) if os.path.isdir(os.path.join(path, e))]
        assert 1 <= len(glob.glob(os.path.join(path, "part-*.parquet"))) <= par + 1
        man = read_manifest(base, layer)
        with open(os.path.join(path, "_savetoken")) as fh:
            assert fh.read() == man["save_token"]
        assert man["rows"] == read_level(spark, base, layer).count()
        assert sum(man["partitions"].values()) == man["rows"]
    assert not glob.glob(os.path.join(base, "level=*", "nodes.parquet.*"))

    man = read_manifest(base, 1)
    assert man["lineage"]["input"] == "incremental"
    n_rec = man["lineage"]["recomputed_parents"]
    assert 0 < n_rec < man["rows"]
    after = set(map(tuple, read_level(spark, base, 1).select(*cols).collect()))
    assert len(before & after) >= man["rows"] - n_rec


def test_cap_assign_start_res_beyond_max_resolution(spark):
    """start_resolution past cfg.max_resolution must tile at start_res
    (the loop formulation's behavior) — the one-pass ladder would
    otherwise build an empty array<void> and die with a cryptic
    INVALID_EXTRACT_BASE_FIELD_TYPE AnalysisException."""
    from raptor_rag_spark.config import EngineConfig
    from raptor_rag_spark.operators.tree import _assign_cells_with_cap

    cfg = EngineConfig(embedding_dim=8, max_resolution=6)
    nodes = spark.createDataFrame(
        [(i, "t", 3, i / 10.0 - 0.5, i / 20.0 - 0.2) for i in range(8)],
        "node_id long, text string, n_tokens int, x double, y double",
    )
    out = _assign_cells_with_cap(nodes, start_res=8, cfg=cfg).collect()
    assert len(out) == 8
    assert all(r["resolution"] == 8 and len(r["cell_id"]) == 9 for r in out)


def test_cap_split_join_twin_matches_broadcast(spark, leaves, monkeypatch):
    """The join twin of the cap-split pick (taken when the ladder's cell
    universe passes the driver bound, e.g. max_resolution >= 10 at start
    4) assigns every node the same (resolution, cell_id) as the
    broadcast path, with a token cap low enough that cells split."""
    from raptor_rag_spark.operators import tree
    from raptor_rag_spark.operators.tile import reduce_2d

    cfg = EngineConfig(embedding_dim=32, max_resolution=6, max_tokens_in_cluster=200)
    nodes = reduce_2d(leaves, dim=32, seed=cfg.seed).localCheckpoint(eager=True)
    cols = ["node_id", "resolution", "cell_id"]

    def assigned():
        out = tree._assign_cells_with_cap(nodes, 3, cfg).select(*cols)
        return sorted(map(tuple, out.collect()))

    broadcast = assigned()
    monkeypatch.setattr(planutil, "DRIVER_MAX_SPLIT_UNIVERSE", 0)
    joined = assigned()
    assert joined == broadcast
    assert len(broadcast) == nodes.count()
    assert any(res > 3 for _, res, _ in broadcast), "the cap must split some cell"


def test_cap_split_job_count_pinned(spark, leaves, count_jobs):
    """One cap-split pick with cells over the cap, evaluated: the
    splittable-set collect plus the output collect, and no more."""
    from raptor_rag_spark.operators import tree
    from raptor_rag_spark.operators.tile import reduce_2d

    cfg = EngineConfig(embedding_dim=32, max_resolution=6, max_tokens_in_cluster=200)
    nodes = reduce_2d(leaves, dim=32, seed=cfg.seed).localCheckpoint(eager=True)
    rows, n_jobs = count_jobs(
        "pin-cap-split",
        lambda: tree._assign_cells_with_cap(nodes, 3, cfg).collect(),
    )
    assert any(r["resolution"] > 3 for r in rows)
    assert n_jobs <= 3, n_jobs


def test_leaves_from_docs_is_one_python_node(spark, tmp_path):
    """Chunk, embed and project run in one Arrow kernel: over a
    non-Python source the optimized plan of leaves_from_docs holds one
    Python node, for either id scheme, and page ingest adds only the
    extract kernel before it."""
    from raptor_rag_spark.functions.localtab import local_df
    from raptor_rag_spark.functions.planutil import _PYTHON_EVAL_NODES
    from raptor_rag_spark.operators.tree import leaves_from_docs
    from raptor_rag_spark.streaming import incremental_level0

    def python_nodes(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [ln for ln in plan.splitlines() if any(n in ln for n in _PYTHON_EVAL_NODES)]

    docs = local_df(spark, [(i, f"Doc {i}. Second line!") for i in range(8)], "doc_id long, text string")
    for scheme in ("arith", "hash"):
        nodes = python_nodes(leaves_from_docs(docs, CFG, 32, id_scheme=scheme))
        assert len(nodes) == 1 and "MapInPandas" in nodes[0], nodes
    src = str(tmp_path / "pages")
    synthetic_pages(spark, n=4, seed=3).write.parquet(src)
    assert len(python_nodes(incremental_level0(spark.read.parquet(src), CFG))) == 2


def test_driver_level_manifest_times_the_whole_step(spark, leaves, tmp_path, monkeypatch):
    """A level built on the driver records in its manifest's wall_sec the
    whole level step, its summarize included, not only the write."""
    import time

    from raptor_rag_spark.operators import tree
    from raptor_rag_spark.operators.tree import read_manifest

    real = tree.build_level_local

    def slow(*args, **kwargs):
        time.sleep(0.5)
        return real(*args, **kwargs)

    monkeypatch.setattr(tree, "build_level_local", slow)
    base = str(tmp_path / "tree")
    build_tree(spark, leaves, base, CFG, start_resolution=3, embed_dim=32)
    for layer in range(1, last_complete_level(base) + 1):
        assert read_manifest(base, layer)["wall_sec"] >= 0.5, layer
