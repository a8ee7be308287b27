"""Filtered kNN / filtered ANN (the standard vector-search metadata
filter): the ``allowed`` node allowlist is applied BEFORE the scoring
kernel (brute) / before the embedding join (tiled index), so
disallowed nodes never ship a vector."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.operators.knn import brute_force_knn
from raptor_rag_spark.operators.similarity import TileAnnIndex

DIM = 16
N = 1200


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(17)
    vecs = rng.randn(N, DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "node_id long, embedding array<float>",
    ).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.limit(24).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    ).localCheckpoint(eager=True)


def _key(df):
    return sorted((r["query_id"], r["node_id"], r["rank"]) for r in df.collect())


def test_brute_filtered_equals_prefiltered_corpus(corpus, queries):
    """allowed-semi-join == filtering the corpus first (exact path)."""
    allowed = corpus.filter(F.col("node_id") % 3 == 0).select("node_id")
    got = brute_force_knn(queries, corpus, k=5, allowed=allowed)
    want = brute_force_knn(queries, corpus.filter(F.col("node_id") % 3 == 0), k=5)
    assert _key(got) == _key(want)
    assert all(r["node_id"] % 3 == 0 for r in got.collect())


def test_brute_filtered_join_strategy_parity(corpus, queries, join_path):
    allowed = corpus.filter(F.col("node_id") % 3 == 0).select("node_id")
    b = brute_force_knn(queries, corpus, k=5, allowed=allowed)
    with join_path():
        j = _key(brute_force_knn(queries, corpus, k=5, allowed=allowed))
    assert _key(b) == j


def test_brute_allowed_accepts_any_column_name(corpus, queries):
    """Metadata-predicate pattern: the allowlist comes from a metadata
    table whose id column need not be called node_id."""
    allowed = corpus.filter(F.col("node_id") % 3 == 0).select(
        F.col("node_id").alias("doc_key")
    )
    got = brute_force_knn(queries, corpus, k=5, allowed=allowed)
    want = brute_force_knn(queries, corpus.filter(F.col("node_id") % 3 == 0), k=5)
    assert _key(got) == _key(want)


def test_index_filtered_search_subset_and_recall(spark, corpus, queries):
    idx = TileAnnIndex(
        corpus, id_col="node_id", dim=DIM, seeds=(224,), base_resolution=2,
        max_occupancy=64, max_resolution=6,
    )
    allowed = corpus.filter(F.col("node_id") % 2 == 0).select("node_id")

    # allowed = whole corpus -> identical to unfiltered search
    assert _key(idx.search(queries, k=5, ring=2, allowed=corpus.select("node_id"))) \
        == _key(idx.search(queries, k=5, ring=2))

    # selective filter: results stay inside the allowlist, and with a
    # widened ring the recall vs exact-over-filtered-corpus holds up
    got = idx.search(queries, k=5, ring=3, allowed=allowed)
    assert all(r["node_id"] % 2 == 0 for r in got.collect())
    exact = brute_force_knn(
        queries, corpus.filter(F.col("node_id") % 2 == 0), k=5
    ).select("query_id", "node_id")
    hit = got.select("query_id", "node_id").join(
        exact, ["query_id", "node_id"]
    ).count()
    assert hit / exact.count() >= 0.8
