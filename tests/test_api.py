"""RaptorEngine facade: build -> retrieve -> resume-from-checkpoint."""

import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.api import RaptorEngine
from raptor_rag_spark.config import EngineConfig

CFG = EngineConfig(embedding_dim=32, min_level_nodes=4)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("api_tree"))
    eng = RaptorEngine(spark, base, CFG, embed_dim=32, start_resolution=3)
    from raptor_rag_spark.datagen import synthetic_pages

    docs = synthetic_pages(spark, n=80, seed=42).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    eng.add_documents(docs)
    return base, eng


def test_build_and_collapsed_retrieve(built):
    _, eng = built
    ctx = eng.retrieve(["berber dukkani", "data processing shuffle"], top_k=3, max_tokens=300)
    assert set(ctx) == {0, 1}
    assert all(c.endswith("\n\n") for c in ctx.values())
    assert all(len(c) > 0 for c in ctx.values())


def test_traversal_retrieve_with_layers(built):
    _, eng = built
    ctx, sel = eng.retrieve(
        "veri isleme", top_k=2, collapse_tree=False, return_layer_information=True
    )
    assert 0 in ctx
    layers = {r["sel_layer"] for r in sel.collect()}
    assert len(layers) >= 2  # visited multiple tree layers


def test_single_string_corpus(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("api_str"))
    eng = RaptorEngine(spark, base, CFG, embed_dim=32, start_resolution=2)
    eng.add_documents("One sentence here. Another sentence there. A third one now.")
    ctx = eng.retrieve("sentence", top_k=2)
    assert ctx[0]


def test_reopen_resumes_from_checkpoint(spark, built):
    base, eng = built
    reopened = RaptorEngine(spark, base, CFG, embed_dim=32, start_resolution=3)
    assert reopened.nodes is not None
    a = sorted(r["node_id"] for r in eng.nodes.select("node_id").collect())
    b = sorted(r["node_id"] for r in reopened.nodes.select("node_id").collect())
    assert a == b


def test_reopen_under_other_stop_settings_keeps_every_level(spark, tmp_path_factory):
    """Opening a tree resumes it and writes nothing: a tree built with
    min_level_nodes=4, opened under the default config (whose stop rule
    would end it lower), keeps every level and every manifest."""
    from raptor_rag_spark.datagen import synthetic_pages
    from raptor_rag_spark.operators.tree import last_complete_level, read_manifest

    base = str(tmp_path_factory.mktemp("api_reopen"))
    eng = RaptorEngine(spark, base, CFG, embed_dim=32, start_resolution=3)
    eng.add_documents(
        synthetic_pages(spark, n=80, seed=42).select(F.col("page_id").alias("doc_id"), "text")
    )
    top = last_complete_level(base)
    manifests = [read_manifest(base, k) for k in range(top + 1)]
    default = EngineConfig(embedding_dim=32)
    # the default stop rule would end the tree below its committed top
    assert any(m["rows"] <= default.min_level_nodes for m in manifests[:-1])

    reopened = RaptorEngine(spark, base, default, embed_dim=32, start_resolution=3)
    assert last_complete_level(base) == top
    assert [read_manifest(base, k) for k in range(top + 1)] == manifests
    a = sorted(r["node_id"] for r in eng.nodes.select("node_id").collect())
    b = sorted(r["node_id"] for r in reopened.nodes.select("node_id").collect())
    assert a == b


def test_retrieve_before_build_raises(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("api_empty"))
    eng = RaptorEngine(spark, base, CFG, embed_dim=32)
    with pytest.raises(ValueError, match="no tree"):
        eng.retrieve("anything")


def test_answer_question_deterministic(built):
    _, eng = built
    a1 = eng.answer_question("berber", top_k=2)
    a2 = eng.answer_question("berber", top_k=2)
    assert a1 == a2 and isinstance(a1, str) and a1


def test_engine_pipeline_utilities(spark, tmp_path):
    from raptor_rag_spark.api import RaptorEngine

    eng = RaptorEngine(spark, str(tmp_path / "t"), embed_dim=32)
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"), (2, "totally different text here")],
        "doc_id long, text string",
    )
    kept = eng.dedup_documents(docs, method="exact")
    assert {r["doc_id"] for r in kept.collect()} == {0, 2}
    pairs = eng.dedup_documents(docs, method="ngram", threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}
    import pytest as _p

    with _p.raises(ValueError, match="unknown dedup"):
        eng.dedup_documents(docs, method="nope")
    cat = eng.catalog(str(tmp_path / "cat"))
    t = cat.create_table("d", docs)
    assert t.read().count() == 3


def test_append_documents_incremental(spark, tmp_path_factory):
    """append_documents updates an existing tree in place (affected
    cells only) and retrieval sees the new content."""
    from raptor_rag_spark.datagen import synthetic_pages

    base = str(tmp_path_factory.mktemp("api_tree_inc"))
    eng = RaptorEngine(spark, base, CFG, embed_dim=32, start_resolution=3)
    pages = synthetic_pages(spark, n=80, seed=42).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    eng.add_documents(pages.filter(F.col("doc_id") < 60))
    n_leaves_before = eng.nodes.filter(F.col("layer") == 0).count()
    eng.append_documents(pages.filter(F.col("doc_id") >= 60))
    n_leaves_after = eng.nodes.filter(F.col("layer") == 0).count()
    assert n_leaves_after > n_leaves_before
    ctx = eng.retrieve(["data processing shuffle"], top_k=3, max_tokens=300)
    assert 0 in ctx and len(ctx[0]) > 0
    # the tree stays structurally sound: every non-leaf child resolves
    parents = eng.nodes.filter(F.col("layer") > 0).select(
        F.explode("children").alias("cid")
    )
    ids = eng.nodes.select(F.col("node_id").alias("cid"))
    assert parents.join(ids, "cid", "left_anti").count() == 0


def test_append_two_strings_no_node_id_collision(spark, tmp_path_factory):
    """Two different plain-string appends must yield DISTINCT level-0
    node_ids: the string path derives doc_id from the text content
    (xxhash64), not a fixed 0 — a fixed id made chunk_id = f(0,
    chunk_idx) collide across different texts (round-3 advice)."""
    from raptor_rag_spark.datagen import synthetic_pages

    base = str(tmp_path_factory.mktemp("api_tree_str"))
    eng = RaptorEngine(spark, base, CFG, embed_dim=32, start_resolution=3)
    pages = synthetic_pages(spark, n=40, seed=42).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    eng.add_documents(pages)
    eng.append_documents("completely fresh sentence about rivers and maps")
    eng.append_documents("another unrelated paragraph on tensors and joins")
    leaves = eng.nodes.filter(F.col("layer") == 0)
    assert leaves.count() == leaves.select("node_id").distinct().count()
    texts = {r["text"] for r in leaves.collect()}
    assert any("rivers" in t for t in texts)
    assert any("tensors" in t for t in texts)


def test_append_before_build_raises(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("api_tree_nope"))
    eng = RaptorEngine(spark, base, CFG, embed_dim=32)
    with pytest.raises(ValueError, match="append_documents"):
        eng.append_documents("some new text")


def test_retrieve_dataframe_in_dataframe_out(spark, built):
    """A DataFrame of questions returns the contexts DataFrame without
    collecting — the 10^6-query batch contract."""
    import pyspark.sql

    _, eng = built
    qdf = spark.createDataFrame(
        [(10, "berber dukkani"), (11, "data processing shuffle")],
        "query_id long, text string",
    )
    out = eng.retrieve(qdf, top_k=3, max_tokens=300)
    assert isinstance(out, pyspark.sql.DataFrame)
    rows = {r["query_id"]: r["context"] for r in out.collect()}
    assert set(rows) == {10, 11} and all(v.endswith("\n\n") for v in rows.values())


def test_cluster_duplicates_end_to_end(spark, tmp_path_factory):
    from raptor_rag_spark.api import RaptorEngine

    eng = RaptorEngine(spark, str(tmp_path_factory.mktemp("cd")))
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near the river bank today and tomorrow morning"),
            (1, "the quick brown fox jumps over the lazy dog near the river bank today and tomorrow morning the dog"),
            (2, "completely unrelated text about catalyst plans shuffle exchange partitioning statistics costs"),
            (3, "the quick brown fox jumps over the lazy dog near the river bank today and tomorrow morning"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in
           eng.cluster_duplicates(docs, method="simhash").collect()}
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[3] == (0, False)
    assert out[2] == (2, True)
    # precomputed pairs path
    pairs = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    out2 = {r["doc_id"]: r["cluster_id"] for r in
            eng.cluster_duplicates(docs, pairs=pairs).collect()}
    assert out2 == {0: 0, 1: 1, 2: 2, 3: 2}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        eng.cluster_duplicates(docs, method="exact")


def test_sample_and_quantize_facade(spark, tmp_path_factory):
    from raptor_rag_spark.api import RaptorEngine

    eng = RaptorEngine(spark, str(tmp_path_factory.mktemp("sq")))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s = eng.sample_documents(docs, rates_pct={"en": 20}, default_pct=50)
    assert 0 < s.count() < docs.count()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").selectExpr(
        "vec_id as node_id", "embedding"
    )
    qz = eng.quantize_corpus(emb)
    row = qz.select("q_vec", "q_scale").first()
    assert len(row["q_vec"]) == 64 and row["q_scale"] > 0


def test_filtered_retrieval_respects_allowlist(built):
    """allowed= restricts collapsed retrieval to the allowlisted nodes
    (filtered RAG: per-language/domain/date retrieval)."""
    _, eng = built
    leaf_ids = eng.nodes.filter(F.col("layer") == 0).select("node_id")
    ctx, sel = eng.retrieve(
        ["veri isleme"], top_k=3, return_layer_information=True,
        allowed=leaf_ids,
    )
    assert 0 in ctx and len(ctx[0]) > 0
    assert {r["layer"] for r in sel.collect()} == {0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="traversal"):
        eng.retrieve("x", collapse_tree=False, allowed=leaf_ids)


def test_engine_compact_preserves_retrieval(built):
    """Facade-level table maintenance: compaction leaves rows (and so
    retrieval results) identical while reducing level-0 file count."""
    _, eng = built
    before = eng.retrieve(["berber dukkani"], top_k=3, max_tokens=300)
    n_nodes = eng.nodes.count()
    reports = eng.compact()
    assert reports[0]["compacted"] is True
    assert reports[0]["files_after"] < reports[0]["files_before"]
    assert eng.nodes.count() == n_nodes
    assert eng.retrieve(["berber dukkani"], top_k=3, max_tokens=300) == before


def test_pipeline_facades(spark, tmp_path_factory):
    """decontaminate / quality_signals / collapse_recrawls facades."""
    from raptor_rag_spark.api import RaptorEngine

    eng = RaptorEngine(spark, str(tmp_path_factory.mktemp("facade")))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta padding words here"),
            (2, "totally unrelated content about joins\nrepeat\nrepeat"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")], "bench_id long, text string"
    )
    hits = eng.decontaminate(docs, bench, n=3, threshold=0.9).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in hits] == [(1, 9)]

    qs = {r["doc_id"]: r for r in eng.quality_signals(docs).collect()}
    assert qs[2]["dup_line_frac"] > 0 and "quality_score" in qs[1].asDict()

    pages = spark.createDataFrame(
        [("u", 1, "2024-01-01 00:00:00"), ("u", 2, "2024-06-01 00:00:00")],
        "url string, fetch_id long, warc_ts string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    kept = eng.collapse_recrawls(pages, tie_cols=["fetch_id"]).collect()
    assert len(kept) == 1 and kept[0]["fetch_id"] == 2


def test_quality_signals_single_pass_plan(spark, tmp_path_factory):
    """Review regression: quality + repetition compute in ONE map-only
    projection — no join, no Exchange, one Arrow operator."""
    from raptor_rag_spark.api import RaptorEngine

    eng = RaptorEngine(spark, str(tmp_path_factory.mktemp("qs")))
    docs = spark.createDataFrame([(1, "a b a b\nline\nline")], "doc_id long, text string")
    q = eng.quality_signals(docs)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert plan.count("ArrowEvalPython") == 1
    row = q.collect()[0]
    # 3 lines, 2 distinct -> 1 - 2/3
    assert row["quality_score"] is not None and row["dup_line_frac"] == 0.333333


def test_engine_deferred_append_and_flush(spark, tmp_path):
    """RaptorEngine facade over the append planner: a deferred append
    lands leaves without touching parents; flush_appends() makes the
    tree equal an eager append of the same docs."""
    from raptor_rag_spark.api import RaptorEngine
    from raptor_rag_spark.streaming.incremental import read_pending

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc {i} " + "word " * (4 + i % 5)) for i in range(30)],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(100 + i, f"gamma delta fresh {i} " + "tail " * (3 + i % 4)) for i in range(6)],
        "doc_id long, text string",
    )

    eng = RaptorEngine(spark, checkpoint_base=str(tmp_path / "t1"), start_resolution=3)
    eng.add_documents(docs)
    parents_before = sorted(
        (r["node_id"], r["text"])
        for r in eng.nodes.filter("layer >= 1").select("node_id", "text").collect()
    )
    eng.append_documents(extra, deferred=True, min_pending_per_cell=10**6)
    assert read_pending(eng.base)["cells"]  # pending, not flushed
    assert sorted(
        (r["node_id"], r["text"])
        for r in eng.nodes.filter("layer >= 1").select("node_id", "text").collect()
    ) == parents_before  # parents untouched
    n_leaves = eng.nodes.filter("layer = 0").count()

    eng.flush_appends()
    assert not read_pending(eng.base)["cells"]

    eager = RaptorEngine(spark, checkpoint_base=str(tmp_path / "t2"), start_resolution=3)
    eager.add_documents(docs)
    eager.append_documents(extra)
    cols = ["node_id", "layer", "cell_id", "text", "n_tokens"]
    assert sorted(map(tuple, eng.nodes.select(*cols).collect())) == sorted(
        map(tuple, eager.nodes.select(*cols).collect())
    )
    assert eng.nodes.filter("layer = 0").count() == n_leaves


def test_eager_append_after_deferred_settles_ledger(spark, tmp_path):
    """Mixing deferred and eager appends must keep the pending ledger
    coherent: an eager append on an engine with pending deferred cells
    settles the whole ledger (no cell stays counted as pending after
    its parents were recomputed; sizes keep counting eager leaves), and
    the tree equals a from-scratch build over all docs."""
    from raptor_rag_spark.api import RaptorEngine
    from raptor_rag_spark.streaming.incremental import read_pending

    docs = spark.createDataFrame(
        [(i, f"epsilon zeta doc {i} " + "word " * (4 + i % 5)) for i in range(30)],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame(
        [(200 + i, f"eta theta fresh {i} " + "tail " * (3 + i % 4)) for i in range(6)],
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [(300 + i, f"iota kappa late {i} " + "more " * (2 + i % 3)) for i in range(5)],
        "doc_id long, text string",
    )

    eng = RaptorEngine(spark, checkpoint_base=str(tmp_path / "mix"), start_resolution=3)
    eng.add_documents(docs)
    eng.append_documents(d1, deferred=True, min_pending_per_cell=10**6)
    assert read_pending(eng.base)["cells"]  # d1 pending

    eng.append_documents(d2)  # eager — must settle, not bypass, the ledger
    led = read_pending(eng.base)
    assert not led["cells"]  # nothing left pending
    assert led["flushes"] and led["flushes"][-1]["forced"]
    assert sum(led["sizes"].values()) == eng.nodes.filter("layer = 0").count()

    eager = RaptorEngine(
        spark, checkpoint_base=str(tmp_path / "eager"), start_resolution=3
    )
    eager.add_documents(docs)
    eager.append_documents(d1)
    eager.append_documents(d2)
    cols = ["node_id", "layer", "cell_id", "text", "n_tokens"]
    assert sorted(map(tuple, eng.nodes.select(*cols).collect())) == sorted(
        map(tuple, eager.nodes.select(*cols).collect())
    )


def test_single_string_collapsed_retrieve_runs_one_python_wave(spark, built, count_jobs):
    """One single-string collapsed brute retrieve: the question is
    embedded on the driver and its matrix read from the local table
    without a job, the broadcast strategy needs no count(), the context
    columns ride through the scoring kernel, and the kernel input is
    coalesced to at most one partition per core."""
    _, eng = built
    eng.nodes.count()  # the cached node table is the call's input, not its work
    sc = spark.sparkContext
    (ctx, _), n_jobs = count_jobs(
        "pin-collapsed-retrieve",
        lambda: eng.retrieve("berber dukkani", top_k=3, return_layer_information=True),
    )
    assert list(ctx) == [0] and ctx[0].endswith("\n\n")
    assert n_jobs <= 2, n_jobs
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup("pin-collapsed-retrieve")
        for s in tracker.getJobInfo(j).stageIds
    ]
    # every stage, the Python scoring stage included
    assert max(tasks) <= sc.defaultParallelism, tasks


def test_single_string_traversal_job_count_pinned(spark, built, count_jobs):
    """One single-string traversal, its context collect included, runs
    one filtered read per layer and the context job(s): at most levels +
    2 jobs (the per-layer Spark loop it replaced ran 21). The question
    matrix is read from the local table without a job (a toPandas
    collect of it was a seventh)."""
    from raptor_rag_spark.operators.tree import last_complete_level

    base, eng = built
    eng.nodes.count()  # the cached node table is the call's input, not its work
    levels = last_complete_level(base) + 1
    ctx, n_jobs = count_jobs(
        "pin-traversal-retrieve", lambda: eng.retrieve("veri isleme", top_k=2, collapse_tree=False)
    )
    assert list(ctx) == [0] and ctx[0].endswith("\n\n")
    assert n_jobs <= levels + 2, (n_jobs, levels)
    assert n_jobs == 6, (n_jobs, levels)


def test_retrieve_with_arrow_conversion_off(spark, built):
    """str and list questions retrieve on a session with Arrow
    conversion off (Spark's default): the driver-embedded questions
    reach Spark as plain Python values, and the contexts equal the
    Arrow session's."""
    _, eng = built
    conf = "spark.sql.execution.arrow.pyspark.enabled"

    def ask():
        return (
            eng.retrieve("berber dukkani", top_k=3),
            eng.retrieve(["berber dukkani", "veri isleme"], top_k=3),
        )

    want = ask()
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        got = ask()
    finally:
        spark.conf.set(conf, prev)
    assert got == want


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    """A small tree built with a non-default projection seed."""
    from raptor_rag_spark.datagen import synthetic_pages

    cfg = EngineConfig(embedding_dim=32, min_level_nodes=4, seed=7)
    eng = RaptorEngine(
        spark, str(tmp_path_factory.mktemp("seed7_tree")), cfg, embed_dim=32, start_resolution=3
    )
    docs = synthetic_pages(spark, n=10, seed=5).select(F.col("page_id").alias("doc_id"), "text")
    eng.add_documents(docs)
    return eng


def test_query_projection_uses_engine_seed(spark, seeded):
    """Queries are projected with cfg.seed like every node, so the tiled
    path bins them in the same 2-D space as the node tiles: a question
    that is a stored chunk's text finds that chunk at rank 1 through
    the tiled path exactly as through brute force."""
    import numpy as np

    from raptor_rag_spark.operators.tile import projection_matrix

    eng = seeded
    proj = projection_matrix(32, 7)
    texts = [r["text"] for r in eng.nodes.filter("layer = 0").orderBy("node_id").limit(3).collect()]
    qdf = spark.createDataFrame(list(enumerate(texts)), "query_id long, text string")
    for q in (eng._query_df(texts), eng._query_df(qdf)):
        rows = q.orderBy("query_id").collect()
        emb = np.asarray([r["q_embedding"] for r in rows], dtype=np.float64)
        xy = np.asarray([(r["x"], r["y"]) for r in rows])
        # a projection seed other than cfg.seed is off by far more than rounding
        assert np.allclose(xy, emb @ proj.T, rtol=0, atol=1e-12)
    tiled = eng.retrieve(texts, top_k=1, method="tiled")
    brute = eng.retrieve(texts, top_k=1, method="brute")
    assert tiled == brute and len(brute) == len(texts)


def test_append_unpersists_replaced_node_table(spark, tmp_path):
    """The node table an append replaces is unpersisted, not left
    cached beside the new one."""
    from pyspark import StorageLevel

    def docs(lo, hi):
        return spark.createDataFrame(
            [(i, f"alpha beta doc {i} " + "word " * (4 + i % 5)) for i in range(lo, hi)],
            "doc_id long, text string",
        )

    cfg = EngineConfig(embedding_dim=32, min_level_nodes=4)
    eng = RaptorEngine(spark, str(tmp_path / "t"), cfg, embed_dim=32, start_resolution=3)
    eng.add_documents(docs(0, 3))  # <= min_level_nodes leaves: a one-level tree
    before = eng.nodes
    before.count()
    assert before.storageLevel != StorageLevel.NONE
    eng.append_documents(docs(3, 10))
    # the grown tree reads a second level: a different plan, so a
    # second cache entry unless the replaced one is unpersisted
    assert eng.nodes.agg(F.max("layer")).first()[0] >= 1
    assert before.storageLevel == StorageLevel.NONE
    assert eng.nodes.storageLevel != StorageLevel.NONE


def test_remote_base_fails_with_named_error(spark, tmp_path, monkeypatch):
    """A non-local checkpoint base fails on entry with one ValueError
    naming it, before any dir is made: no local ``s3a:`` dir appears
    under the working directory."""
    monkeypatch.chdir(tmp_path)
    eng = RaptorEngine(spark, "s3a://bucket/t", CFG, embed_dim=32)
    with pytest.raises(ValueError, match="'s3a://bucket/t' is not a local path"):
        eng.add_documents("x")
    assert list(tmp_path.iterdir()) == []
