"""Int8 embedding quantization: reconstruction error bound and kNN
recall parity vs the exact float path on real testdata embeddings."""

import numpy as np
from pyspark.sql import functions as F

from raptor_rag_spark.operators.knn import brute_force_knn
from raptor_rag_spark.operators.quantize import quantize_embeddings


def test_quantize_roundtrip_error_bound(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantize_embeddings(emb)
    rows = q.select("embedding", "q_vec", "q_scale").limit(50).collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        back = np.asarray(r["q_vec"], dtype=np.float64) * r["q_scale"]
        m = np.max(np.abs(v)) if v.size else 0.0
        # symmetric quantization: per-component error <= scale/2
        assert np.max(np.abs(v - back)) <= (m / 127.0) / 2 + 1e-9
        assert len(r["q_vec"]) == len(v)


def test_quantized_knn_recall_vs_exact(spark):
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(F.col("vec_id").alias("node_id"), "embedding")
        .cache()
    )
    nodes_q = quantize_embeddings(emb).select("node_id", "q_vec", "q_scale").cache()
    queries = (
        emb.orderBy("node_id")
        .limit(20)
        .select(
            F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
        )
    )
    exact = brute_force_knn(queries, emb, k=10)
    quant = brute_force_knn(queries, nodes_q, k=10)
    inter = exact.select("query_id", "node_id").intersect(
        quant.select("query_id", "node_id")
    )
    recall = inter.count() / exact.count()
    assert recall >= 0.95, recall


def _corpus(spark):
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(F.col("vec_id").alias("node_id"), "embedding")
        .cache()
    )
    nodes_q = quantize_embeddings(emb).select("node_id", "q_vec", "q_scale").cache()
    queries = (
        emb.orderBy("node_id")
        .limit(20)
        .select(
            F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
        )
    )
    return emb, nodes_q, queries


def _by_query(rows):
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["node_id"]))
    for v in by_q.values():
        v.sort()
    return by_q


def test_quantized_join_strategy_matches_broadcast(spark, join_path):
    """Identical ranked neighbors and distances (1e-9) on both physical
    paths — the int8 dequantized matmul is the same arithmetic in both
    kernels."""
    _, nodes_q, queries = _corpus(spark)
    a = brute_force_knn(queries, nodes_q, k=10)
    ra = {(r["query_id"], r["rank"]): (r["node_id"], r["dist"]) for r in a.collect()}
    with join_path():
        b = brute_force_knn(queries, nodes_q, k=10)
        rb = {(r["query_id"], r["rank"]): (r["node_id"], r["dist"]) for r in b.collect()}
    assert ra.keys() == rb.keys() and len(ra) == 200
    for key in ra:
        assert ra[key][0] == rb[key][0]
        assert abs(ra[key][1] - rb[key][1]) < 1e-9


def test_quantized_join_never_collects_to_driver(spark, monkeypatch, join_path):
    """No .toPandas() anywhere in the quantized join-path plan —
    the int8 path must scale exactly like knn's join path (round-3
    verdict item: the broadcast path's unconditional collect was the
    anti-pattern)."""
    import pyspark.sql

    _, nodes_q, queries = _corpus(spark)
    with join_path():
        out = brute_force_knn(queries, nodes_q, k=10)

    def _boom(self):
        raise AssertionError("driver collect in quantized join-strategy plan")

    monkeypatch.setattr(pyspark.sql.DataFrame, "toPandas", _boom)
    assert len(out.collect()) == 200


def test_quantized_auto_switches_on_query_count(spark, monkeypatch):
    """Above the driver row bound the engine must take the join path —
    poison toPandas BEFORE building the plan. The 20-query batch is a
    limit, so its row statistic sizes it without a job."""
    import pyspark.sql

    from raptor_rag_spark.functions import planutil

    _, nodes_q, queries = _corpus(spark)
    monkeypatch.setattr(planutil, "DRIVER_MAX_ROWS", 19)

    def _boom(self):
        raise AssertionError("broadcast path taken above the threshold")

    monkeypatch.setattr(pyspark.sql.DataFrame, "toPandas", _boom)
    rows = brute_force_knn(queries, nodes_q, k=10).collect()
    assert len(rows) == 200


def test_quantized_join_rejects_non_integral_ids(spark, join_path):
    import pytest

    _, nodes_q, _ = _corpus(spark)
    bad_q = spark.createDataFrame(
        [("a", [0.1] * 64)], "query_id string, q_embedding array<float>"
    )
    with join_path(), pytest.raises(TypeError, match="integral id"):
        brute_force_knn(bad_q, nodes_q, k=5)


def test_quantize_null_and_zero_vectors(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, None), (2, [1.0, -2.0])],
        "id long, embedding array<float>",
    )
    rows = {r["id"]: r for r in quantize_embeddings(df).collect()}
    assert rows[0]["q_vec"] == [0, 0] and rows[0]["q_scale"] == 0.0
    assert rows[1]["q_vec"] is None and rows[1]["q_scale"] is None
    assert rows[2]["q_vec"][1] == -127


def test_quantize_rejects_non_finite(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0, float("nan")])], "id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="non-finite"):
        quantize_embeddings(df).collect()


def test_quantized_join_plan_is_cogroup_no_broadcast(spark, join_path):
    """The join path's physical plan: a FlatMapCoGroupsInPandas over
    the two block-hashed sides, NO BroadcastExchange and no cartesian —
    the corpus side stays its own (int8) Arrow stream."""
    _, nodes_q, queries = _corpus(spark)
    with join_path():
        out = brute_force_knn(queries, nodes_q, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan
    assert "Cartesian" not in plan
    # node-side schema through the cogroup is still the tinyint array
    assert dict(out.sparkSession.createDataFrame([], nodes_q.schema).dtypes)[
        "q_vec"
    ] == "array<tinyint>"


def test_empty_query_batch_over_int8_nodes(spark, join_path):
    """An empty query batch over int8 nodes returns 0 rows with the
    ranked schema on both paths, as it does over float nodes. A bound of
    -1 sends even the empty batch to the join path."""
    _, nodes_q, queries = _corpus(spark)
    for strategy in ("broadcast", "join"):
        with join_path(strategy == "join"):
            out = brute_force_knn(queries.limit(0), nodes_q, k=5)
        assert out.dtypes == [
            ("query_id", "bigint"), ("node_id", "bigint"), ("dist", "double"), ("rank", "int")
        ], strategy
        assert out.collect() == [], strategy


def test_nodes_without_vectors_raise_named_error(spark):
    import pytest

    _, nodes_q, queries = _corpus(spark)
    with pytest.raises(ValueError, match="'embedding'.*'q_vec' and 'q_scale'"):
        brute_force_knn(queries, nodes_q.drop("q_scale"), k=5)


def test_only_knn_and_quantize_name_the_int8_columns():
    """The int8 format is read in knn.py (node_vector_cols) and written
    in quantize.py; no other operator branches on it."""
    import pathlib
    import re

    ops = pathlib.Path(__file__).resolve().parent.parent / "raptor_rag_spark" / "operators"
    naming = sorted(
        p.name for p in ops.glob("*.py") if re.search(r"\bq_(vec|scale)\b", p.read_text())
    )
    assert naming == ["knn.py", "quantize.py"], naming
