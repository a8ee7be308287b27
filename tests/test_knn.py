"""kNN join correctness vs a numpy brute-force oracle, and tile-pruned
kNN == brute force when the ring covers the grid."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.operators.knn import (
    assemble_context,
    brute_force_knn,
    flatten_lines,
    tile_knn,
    token_budget_prefix,
)
from raptor_rag_spark.operators.tile import reduce_2d, tile_assignments

DIM = 16
N_NODES = 250
N_QUERIES = 12
K = 5


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.RandomState(42)
    nv = rng.randn(N_NODES, DIM).astype(np.float64)
    nv /= np.linalg.norm(nv, axis=1, keepdims=True)
    qv = rng.randn(N_QUERIES, DIM).astype(np.float64)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    nv32, qv32 = nv.astype(np.float32), qv.astype(np.float32)
    nodes = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(nv32)],
        "node_id long, embedding array<float>",
    ).cache()
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(qv32)],
        "query_id long, q_embedding array<float>",
    ).cache()
    return nodes, queries, nv32, qv32


def numpy_topk(nv32, qv32, k):
    """Oracle with the same tie-break (dist, node_id)."""
    d = 1.0 - qv32.astype(np.float64) @ nv32.astype(np.float64).T
    out = {}
    for qi in range(d.shape[0]):
        order = sorted(range(d.shape[1]), key=lambda j: (d[qi, j], j))[:k]
        out[qi] = [(j, d[qi, j]) for j in order]
    return out


def test_brute_force_matches_numpy(data):
    nodes, queries, nv32, qv32 = data
    got = brute_force_knn(queries, nodes, k=K).collect()
    oracle = numpy_topk(nv32, qv32, K)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["node_id"], r["dist"]))
    assert set(by_q) == set(range(N_QUERIES))
    for qi, rows in by_q.items():
        rows.sort()
        assert [n for _, n, _ in rows] == [j for j, _ in oracle[qi]]
        for (_, _, dist), (_, od) in zip(rows, oracle[qi]):
            assert abs(dist - od) < 1e-9


def test_tile_knn_full_ring_equals_brute_force(data, spark):
    nodes, queries, nv32, qv32 = data
    res = 2
    nodes_xy = reduce_2d(nodes, dim=DIM)
    tiles = tile_assignments(nodes_xy, "node_id", [res])
    queries_xy = reduce_2d(
        queries.withColumnRenamed("q_embedding", "embedding"), dim=DIM
    ).withColumnRenamed("embedding", "q_embedding")
    grid_n = 1 << (res + 1)
    got = tile_knn(
        queries_xy, nodes, tiles, resolution=res, k=K, ring=grid_n, max_ring=grid_n
    ).collect()
    oracle = numpy_topk(nv32, qv32, K)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["node_id"]))
    for qi in range(N_QUERIES):
        rows = sorted(by_q[qi])
        assert [n for _, n in rows] == [j for j, _ in oracle[qi]]


def test_tile_knn_ring_expansion_returns_k(data, spark):
    """Even with a tiny starting ring, expansion must deliver k hits
    per query (recall vs brute force is a separate measured metric)."""
    nodes, queries, _, _ = data
    res = 3
    nodes_xy = reduce_2d(nodes, dim=DIM)
    tiles = tile_assignments(nodes_xy, "node_id", [res])
    queries_xy = reduce_2d(
        queries.withColumnRenamed("q_embedding", "embedding"), dim=DIM
    ).withColumnRenamed("embedding", "q_embedding")
    got = tile_knn(
        queries_xy, nodes, tiles, resolution=res, k=K, ring=1, max_ring=1 << (res + 1)
    )
    counts = {r["query_id"]: r["n"] for r in got.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == set(range(N_QUERIES))
    assert all(v == K for v in counts.values())


def test_token_budget_break_at_first_overflow(spark):
    rows = [
        (1, 1, 100, 10),
        (1, 2, 101, 20),
        (1, 3, 102, 100),  # cum=130 > 120 -> break here
        (1, 4, 103, 1),    # would fit, but reference breaks: excluded
        (2, 1, 200, 200),  # first node alone over budget -> empty
    ]
    df = spark.createDataFrame(rows, "query_id long, rank int, node_id long, n_tokens int")
    kept = token_budget_prefix(df, max_tokens=120).select("query_id", "node_id").collect()
    got = sorted((r["query_id"], r["node_id"]) for r in kept)
    assert got == [(1, 100), (1, 101)]


def test_flatten_lines_matches_splitlines(spark):
    samples = [
        "plain",
        "a\nb",
        "a\n\nb",
        "a\n",
        "a\n\n",
        "a\r\nb",
        "a\r\nb\r\n",
        "line1\nline2\rline3\x0bline4\x0cline5",
        "",
        "\n",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], ["i", "t"])
    got = {r["i"]: r["f"] for r in df.select("i", flatten_lines(F.col("t")).alias("f")).collect()}
    for i, s in enumerate(samples):
        assert got[i] == " ".join(s.splitlines()), repr(s)


def test_assemble_context_matches_reference_get_text(spark):
    """Reference get_text (utils.py:181-195): per node ' '.join(
    splitlines) then += '\\n\\n' — trailing separator included."""
    rows = [
        (1, 1, "first node\nwith newline"),
        (1, 2, "second node"),
        (2, 1, "only\r\nnode\n"),
    ]
    df = spark.createDataFrame(rows, "query_id long, rank int, text string")
    got = {r["query_id"]: r["context"] for r in assemble_context(df).collect()}
    assert got[1] == "first node with newline\n\nsecond node\n\n"
    assert got[2] == "only node\n\n"


def test_multi_model_embeddings(spark):
    """Map-typed multi-model node embeddings (reference Dict[str,
    List[float]] shape) + per-model selection."""
    from raptor_rag_spark.operators.embed import (
        embed_texts,
        embed_texts_multi,
        select_embedding_model,
    )

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon"), (2, None)],
        "doc_id long, text string",
    )
    out = embed_texts_multi(df, {"small": (16, None), "large": (64, None)})
    rows = {r["doc_id"]: r["embeddings"] for r in out.collect()}
    assert set(rows[0].keys()) == {"small", "large"}
    assert len(rows[0]["small"]) == 16 and len(rows[0]["large"]) == 64
    # distinct models give distinct spaces (salted hash per name)
    assert rows[0]["small"][:16] != rows[0]["large"][:16]
    # selection projects one model's vector
    sel = select_embedding_model(out, "large").select("doc_id", "embedding").collect()
    assert all(len(r["embedding"]) == 64 for r in sel)
    # unit norm per model
    import math

    for r in sel:
        assert abs(math.fsum(v * v for v in r["embedding"]) - 1.0) < 1e-5


# ------------------------- join-based (no driver collect) scoring ----


def _rows_by_query(rows):
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["node_id"], r["dist"]))
    for v in by_q.values():
        v.sort()
    return by_q


def test_brute_force_join_strategy_matches_broadcast(data, join_path):
    nodes, queries, nv32, qv32 = data
    a = _rows_by_query(brute_force_knn(queries, nodes, k=K).collect())
    with join_path():
        b = _rows_by_query(brute_force_knn(queries, nodes, k=K).collect())
    assert set(a) == set(b) == set(range(N_QUERIES))
    for qi in a:
        assert [n for _, n, _ in a[qi]] == [n for _, n, _ in b[qi]]
        for (_, _, da), (_, _, db) in zip(a[qi], b[qi]):
            assert abs(da - db) < 1e-9


def test_tile_knn_join_scoring_matches_broadcast(data, join_path):
    nodes, queries, nv32, qv32 = data
    res = 2
    nodes_xy = reduce_2d(nodes, dim=DIM)
    tiles = tile_assignments(nodes_xy, "node_id", [res])
    queries_xy = reduce_2d(
        queries.withColumnRenamed("q_embedding", "embedding"), dim=DIM
    ).withColumnRenamed("embedding", "q_embedding")
    kw = dict(resolution=res, k=K, ring=1, max_ring=1 << (res + 1))
    a = _rows_by_query(tile_knn(queries_xy, nodes, tiles, **kw).collect())
    with join_path():
        b = _rows_by_query(tile_knn(queries_xy, nodes, tiles, **kw).collect())
    assert a.keys() == b.keys()
    for qi in a:
        assert [n for _, n, _ in a[qi]] == [n for _, n, _ in b[qi]]


def test_join_strategy_never_collects_to_driver(data, monkeypatch, join_path):
    """The whole point of the join path: NO .toPandas()/.collect() of
    the query side. Poison toPandas and run the full plan."""
    import pyspark.sql

    nodes, queries, nv32, qv32 = data
    with join_path():
        out = brute_force_knn(queries, nodes, k=K)

    def _boom(self):
        raise AssertionError("driver collect in join-strategy plan")

    monkeypatch.setattr(pyspark.sql.DataFrame, "toPandas", _boom)
    rows = out.collect()  # plan executes without any driver matrix
    assert len(rows) == N_QUERIES * K


def test_auto_strategy_switches_on_query_count(data, monkeypatch):
    """Above the driver row bound the engine must take the join path —
    provable by poisoning toPandas BEFORE building the plan. The cached
    query frame has no row statistic, so one count() sizes it."""
    import pyspark.sql

    from raptor_rag_spark.functions import planutil

    nodes, queries, nv32, qv32 = data
    monkeypatch.setattr(planutil, "DRIVER_MAX_ROWS", N_QUERIES - 1)

    def _boom(self):
        raise AssertionError("broadcast path taken above the threshold")

    monkeypatch.setattr(pyspark.sql.DataFrame, "toPandas", _boom)
    rows = brute_force_knn(queries, nodes, k=K).collect()
    assert len(rows) == N_QUERIES * K


@pytest.mark.parametrize("strategy", ["broadcast", "join"])
def test_null_and_ragged_embeddings_fail_loudly(spark, strategy, join_path):
    """A NULL or wrong-length embedding must raise a ValueError naming
    the column — np.array on such input builds a ragged object array
    whose matmul dies with a cryptic gufunc error (or, for rows split
    across Arrow batches, an internally-consistent wrong-dim matrix)."""
    q = spark.createDataFrame(
        [(10, [0.0, 1.0])], "query_id long, q_embedding array<float>"
    )
    bad_null = spark.createDataFrame(
        [(1, [0.6, 0.8]), (2, None)], "node_id long, embedding array<float>"
    )
    bad_ragged = spark.createDataFrame(
        [(1, [0.6, 0.8]), (2, [1.0])], "node_id long, embedding array<float>"
    )
    with join_path(strategy == "join"):
        with pytest.raises(Exception, match="NULL vector in column"):
            brute_force_knn(q, bad_null, k=2).collect()
        with pytest.raises(Exception, match="ragged|expected"):
            brute_force_knn(q, bad_ragged, k=2).collect()


def test_tile_knn_multi_round_job_count_pinned(data, count_jobs):
    """A tile_knn call whose first ring leaves queries short of k, so the
    ring loop runs past its first round; evaluated under a job group."""
    nodes, queries, _, _ = data
    res = 3
    # pinned inputs: the count covers the call, not the fixtures' compute
    nodes.count()
    tiles = tile_assignments(reduce_2d(nodes, dim=DIM), "node_id", [res]).localCheckpoint(
        eager=True
    )
    queries_xy = (
        reduce_2d(queries.withColumnRenamed("q_embedding", "embedding"), dim=DIM)
        .withColumnRenamed("embedding", "q_embedding")
        .localCheckpoint(eager=True)
    )
    rows, n_jobs = count_jobs(
        "pin-tile-knn",
        lambda: tile_knn(
            queries_xy, nodes, tiles, resolution=res, k=K, ring=1, max_ring=1 << (res + 1)
        ).collect(),
    )
    assert len(rows) == N_QUERIES * K
    assert n_jobs <= 13, n_jobs


def test_no_path_options_on_the_public_surface():
    """The engine picks every broadcast-or-join path from the data: no
    public kNN operator or index method takes a strategy, scoring or
    membership option."""
    import inspect

    from raptor_rag_spark.operators.ivf import IvfIndex
    from raptor_rag_spark.operators.knn import tile_knn_adaptive
    from raptor_rag_spark.operators.retrieve import retrieve_collapsed
    from raptor_rag_spark.operators.similarity import TileAnnIndex
    from raptor_rag_spark.operators.tile import adaptive_tile_assignments

    for fn in (
        brute_force_knn, tile_knn, tile_knn_adaptive, adaptive_tile_assignments,
        retrieve_collapsed, TileAnnIndex, TileAnnIndex.search, IvfIndex.search,
    ):
        params = set(inspect.signature(fn).parameters)
        assert not params & {"strategy", "scoring", "membership"}, fn


@pytest.fixture(scope="module")
def tied(spark):
    """Nodes in groups of identical vectors (entries in multiples of
    1/4, so every dot product is exact whatever the summation order),
    node ids shuffled against row order: many exact ties sit at the
    k-th distance of every query."""
    rng = np.random.RandomState(7)
    protos = rng.randint(-4, 5, size=(12, 8)) / 4.0
    nv = np.repeat(protos, 20, axis=0)
    ids = rng.permutation(10_000)[: len(nv)]
    qv = rng.randint(-4, 5, size=(6, 8)) / 4.0
    nodes = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, nv)],
        "node_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(qv)],
        "query_id long, q_embedding array<float>",
    ).cache()
    d = 1.0 - qv @ nv.T
    oracle = {
        qi: [(int(ids[j]), float(d[qi, j])) for j in np.lexsort((ids, d[qi]))[:K]]
        for qi in range(len(qv))
    }
    return nodes, queries, oracle


@pytest.mark.parametrize("strategy", ["broadcast", "join"])
@pytest.mark.parametrize(
    "layout",
    [lambda df: df.repartition(1), lambda df: df.repartition(7), lambda df: df.coalesce(2)],
    ids=["repartition1", "repartition7", "coalesce2"],
)
def test_brute_force_exact_under_ties_and_any_partitioning(tied, strategy, layout, join_path):
    """The (dist, node_id) order holds under exact-duplicate vectors
    whatever the partitioning: a partial top-k must keep every row tied
    at its k-th distance, or the smaller node_id of a tie can be lost."""
    nodes, queries, oracle = tied
    with join_path(strategy == "join"):
        got = _rows_by_query(brute_force_knn(queries, layout(nodes), k=K).collect())
    assert got == {
        qi: [(rank, n, dist) for rank, (n, dist) in enumerate(rows, start=1)]
        for qi, rows in oracle.items()
    }


@pytest.mark.parametrize("strategy", ["broadcast", "join"])
def test_brute_force_carries_node_columns(data, strategy, join_path):
    """``carry`` returns node columns beside each hit and leaves the kNN
    columns as they are without it."""
    nodes, queries, nv32, qv32 = data
    nodes = nodes.withColumn("label", F.concat(F.lit("n"), F.col("node_id").cast("string")))
    nodes = nodes.withColumn("n_tokens", (F.col("node_id") % 7).cast("int"))
    with join_path(strategy == "join"):
        carried = brute_force_knn(queries, nodes, k=K, carry=("label", "n_tokens"))
    assert carried.columns == ["query_id", "node_id", "dist", "rank", "label", "n_tokens"]
    assert carried.schema["n_tokens"].dataType.simpleString() == "int"
    rows = carried.collect()
    assert all(r["label"] == f"n{r['node_id']}" and r["n_tokens"] == r["node_id"] % 7 for r in rows)
    oracle = numpy_topk(nv32, qv32, K)
    assert {
        qi: [n for _, n, _ in v] for qi, v in _rows_by_query(rows).items()
    } == {qi: [j for j, _ in v] for qi, v in oracle.items()}


def test_coalesce_kernel_input_sizes_from_plan_stats(spark):
    """At most max(defaultParallelism, ceil(bytes / maxPartitionBytes))
    partitions, never more than the input has."""
    from raptor_rag_spark.functions.planutil import coalesce_kernel_input

    par = spark.sparkContext.defaultParallelism
    few = spark.range(0, 100, numPartitions=2)
    assert coalesce_kernel_input(few).rdd.getNumPartitions() == 2
    many = spark.range(0, 100_000, numPartitions=4 * par)  # 800 KB estimated
    assert coalesce_kernel_input(many).rdd.getNumPartitions() == par
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(800_000 // (2 * par) + 1))
    try:
        assert coalesce_kernel_input(many).rdd.getNumPartitions() == 2 * par
    finally:
        spark.conf.set(key, old)
