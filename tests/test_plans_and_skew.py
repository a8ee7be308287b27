"""Physical-plan audits (the plan we WANT, not just one that passes)
and salted-aggregation equivalence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.operators.skew import (
    detect_hot_keys,
    salted_count_sum,
    salted_join,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_shipdate", "l_returnflag", "l_quantity"}, cols


def test_pages_warc_ts_partition_pruning(spark):
    """A one-month query over the (year, month)-partitioned pages table
    must prune at the directory level (PartitionFilters) and must not
    read the html binary column (ReadSchema)."""
    from raptor_rag_spark.sources.tables import write_pages_partitioned

    out = write_pages_partitioned(spark, "/root/testdata/sf0.001")
    pages = spark.read.parquet(out)
    q = (
        pages.filter((F.col("year") == 2024) & (F.col("month") == 3))
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("s"))
    )
    plan = _plan(q)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "year" in m.group(1) and "month" in m.group(1), plan
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in rs.group(1).split(",") if c}
    assert "html" not in cols and "text" not in cols, cols
    # and the pruning is real: only March files are touched
    n_rows = q.count()
    assert n_rows > 0


def test_topk_uses_window_group_limit(spark):
    """Spark 4 pushes rank<=k as WindowGroupLimit before the full sort —
    the plan shape that keeps per-partition state at k rows."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("value").desc())
    q = ev.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 3)
    q.collect()
    assert "WindowGroupLimit" in _plan(q)


def test_candidate_join_is_broadcast(spark):
    """The tile candidate equi-join must broadcast the (small) query
    side, not shuffle the node tile table."""
    from raptor_rag_spark.operators.knn import tile_knn_candidates
    from raptor_rag_spark.operators.tile import reduce_2d, tile_assignments

    rng = np.random.RandomState(3)
    vecs = rng.randn(500, 16).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    nodes = reduce_2d(
        spark.createDataFrame(
            [(i, [float(v) for v in r]) for i, r in enumerate(vecs)],
            "node_id long, embedding array<float>",
        ),
        dim=16,
    )
    tiles = tile_assignments(nodes, "node_id", [3])
    q = nodes.limit(4).select(F.col("node_id").alias("query_id"), "x", "y")
    cand = tile_knn_candidates(q, tiles, resolution=3, ring=1)
    cand.collect()
    plan = _plan(cand)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_salted_agg_equals_plain(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    salted = {
        (r["lang"]): (r["n"], r["sum_n_chars"])
        for r in salted_count_sum(docs, ["lang"], sum_col="n_chars", salt=8).collect()
    }
    plain = {
        (r["lang"]): (r["n"], r["s"])
        for r in docs.groupBy("lang").agg(F.count("*").alias("n"), F.sum("n_chars").alias("s")).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dim = ev.select("event_type").distinct().withColumn("tag", F.upper("event_type"))
    plain = ev.join(dim, "event_type").select("event_id", "tag")
    salted = salted_join(ev, dim, "event_type", salt=4).select("event_id", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_equals_plain(spark):
    """Big-side-preserving salted join: unmatched rows survive with
    nulls, exactly like a plain left join (skewed fixture: one hot key
    + keys missing from the dim side)."""
    rows = [(i, "hot" if i % 3 else f"cold{i % 7}") for i in range(3000)]
    ev = spark.createDataFrame(rows, "id long, k string")
    dim = spark.createDataFrame(
        [("hot", 1), ("cold1", 2), ("cold2", 3)], "k string, tag int"
    )
    plain = sorted(map(tuple, ev.join(dim, "k", "left").select("id", "tag").collect()))
    salted = sorted(
        map(tuple, salted_join(ev, dim, "k", salt=4, how="left").select("id", "tag").collect())
    )
    assert plain == salted
    anti_p = sorted(r["id"] for r in ev.join(dim, "k", "left_anti").collect())
    anti_s = sorted(r["id"] for r in salted_join(ev, dim, "k", salt=4, how="left_anti").collect())
    assert anti_p == anti_s
    with pytest.raises(ValueError, match="right/full"):
        salted_join(ev, dim, "k", how="full")


def test_embedding_neardup_is_distributed(spark):
    """The blocked all-pairs kernel must not collect the table to the
    driver: constructing the plan runs ZERO jobs, and the physical plan
    is a grouped-map pandas exec over a shuffle — not a local
    relation built from toPandas()."""
    import numpy as np

    from raptor_rag_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.RandomState(11)
    vecs = rng.randn(300, 16)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).localCheckpoint(eager=True)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    out = embedding_neardup_pairs(df, min_cosine=0.9, n_blocks=4)
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before, "plan construction must be lazy (no driver collect)"
    plan = _plan(out)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "LocalTableScan" not in plan, plan
    # and block count must not change the result set
    a = sorted(map(tuple, out.select("id_a", "id_b").collect()))
    b = sorted(
        map(
            tuple,
            embedding_neardup_pairs(df, min_cosine=0.9, n_blocks=7)
            .select("id_a", "id_b")
            .collect(),
        )
    )
    assert a == b


def test_detect_hot_keys_finds_planted_skew(spark):
    rows = [(i, "hot" if i % 10 < 8 else f"cold{i % 50}") for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, k string")
    hot = {r["k"] for r in detect_hot_keys(df, ["k"], threshold_ratio=4.0, sample=0.5).collect()}
    assert hot == {"hot"}


def test_brute_knn_big_side_never_shuffled(spark):
    """brute_force_knn streams the node side map-side; the only
    exchange in the plan is the tiny partial-top-k shuffle."""
    from raptor_rag_spark.operators.knn import brute_force_knn

    rng = np.random.RandomState(5)
    vecs = rng.randn(400, 8).astype(np.float32)
    nodes = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(vecs)],
        "node_id long, embedding array<float>",
    )
    q = nodes.limit(3).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = brute_force_knn(q, nodes, k=5)
    out.collect()
    plan = _plan(out)
    # no join at all: scoring is mapInPandas against broadcast queries
    assert "Join" not in plan, plan


def test_approx_distinct_relative_error(spark):
    """HLL approx distinct within the configured rsd of exact."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    approx = {
        r["event_type"]: r["a"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("a"))
        .collect()
    }
    exact = {
        r["event_type"]: r["e"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("e"))
        .collect()
    }
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(1, 0.06 * e), (k, approx[k], e)


def test_global_topn_uses_take_ordered(spark):
    """Global ORDER BY + LIMIT must plan TakeOrderedAndProject
    (per-partition top-N, tiny driver merge) — not a global sort."""
    from raptor_rag_spark.plans.driver_queries import q_global_topn

    q = q_global_topn(spark, "/root/testdata/sf0.001")
    q.collect()
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_exact_dedup_shuffles_hash_not_text(spark):
    """The exact-dedup group key must be the hash struct, never the
    document text: the exchange partitions on _k and the aggregate's
    output carries no text column."""
    from raptor_rag_spark.operators.dedup import exact_dedup_groups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = exact_dedup_groups(docs)
    q.collect()
    plan = _plan(q)
    assert "hashpartitioning(_k" in plan, plan


def test_aqe_skew_join_split(spark):
    """AQE's OptimizeSkewedJoin must split the hot partition of a
    skewed sort-merge join (thresholds lowered to make the tiny fixture
    register as skewed; broadcast disabled so a SMJ is planned)."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 60000).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
                F.concat(F.lit("c"), (F.col("id") % 97))
            ).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("p"),
        )
        dim = spark.range(0, 200).select(
            F.when(F.col("id") == 0, F.lit("hot")).otherwise(
                F.concat(F.lit("c"), F.col("id") % 97)
            ).alias("k"),
            F.col("id").alias("tag"),
        ).distinct()
        j = big.join(dim, "k")
        # collect() executes THIS DataFrame's query execution, so its
        # AdaptiveSparkPlan finalizes (count() would plan a separate QE)
        j.collect()
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_scoring_plan_has_no_broadcast_of_queries(spark):
    """strategy='join' brute force: the plan must contain NO
    BroadcastExchange and NO cartesian/nested-loop join — the only
    exchanges are the hash partitioning into (query-block, node-block)
    groups and the final top-k window sort."""
    import numpy as np

    from raptor_rag_spark.operators.knn import brute_force_knn

    rng = np.random.RandomState(7)
    mk = lambda m, pre: spark.createDataFrame(  # noqa: E731
        [(i, [float(x) for x in v / np.linalg.norm(v)]) for i, v in enumerate(rng.randn(m, 8))],
        f"{pre}_id long, {'q_embedding' if pre == 'query' else 'embedding'} array<float>",
    )
    out = brute_force_knn(mk(40, "query"), mk(200, "node"), k=3, strategy="join")
    plan = _plan(out)
    assert "BroadcastExchange" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan  # the block-pair matmul


def test_score_candidates_join_plans_hash_join(spark):
    """_score_candidates(strategy='join'): candidates join query
    embeddings via a real equi-join (shuffle-hash or sort-merge — never
    a driver collect, never a nested loop)."""
    import numpy as np

    from raptor_rag_spark.operators.knn import _score_candidates

    rng = np.random.RandomState(7)
    nodes = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(100)],
        "node_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(10)],
        "query_id long, q_embedding array<float>",
    )
    cand = queries.select("query_id").crossJoin(nodes.limit(5)).select(
        "query_id", "node_id", "embedding"
    )
    out = _score_candidates(cand, queries, strategy="join")
    plan = _plan(out)
    assert "CartesianProduct" not in plan.replace("CartesianProduct", "", 1), plan  # only the test's own crossJoin
    assert ("ShuffledHashJoin" in plan or "SortMergeJoin" in plan or "BroadcastHashJoin" in plan), plan


def test_plan_is_bare_scan_rejects_python_kernel(spark):
    """A pandas UDF projected straight over a checkpoint is a 3-line
    plan (Project / ArrowEvalPython / LogicalRDD) but not a cheap
    re-scan: re-executing it re-runs the Python kernel."""
    import pandas as pd

    from raptor_rag_spark.functions.planutil import plan_is_bare_scan

    @F.pandas_udf("double")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1.0

    pinned = spark.range(8).selectExpr("cast(id as double) as x").localCheckpoint()
    assert plan_is_bare_scan(pinned)
    with_udf = pinned.withColumn("y", plus_one("x"))
    plan = with_udf._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" in plan and len(plan.strip().splitlines()) == 3, plan
    assert not plan_is_bare_scan(with_udf)


def test_traversal_oracle_cache_drops_stale_layout_siblings(tmp_path, monkeypatch):
    """The traversal oracle's cached tree is keyed by level layout and
    source tag: trees cached for the same tag under another layout
    version, or under the unversioned key, are removed; the current
    key and other tags' trees stay."""
    import tempfile

    from raptor_rag_spark.operators.tree import LEVEL_LAYOUT_VERSION
    from raptor_rag_spark.plans.driver_queries import _traversal_tree_base

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    tag, other = "0123456789ab", "ba9876543210"
    names = [
        f"rrs_trav_tree_{tag}",
        f"rrs_trav_tree_flat0_{tag}",
        f"rrs_trav_tree_{LEVEL_LAYOUT_VERSION}_{tag}",
        f"rrs_trav_tree_{other}",
        f"rrs_trav_tree_flat0_{other}",
        f"unrelated_{tag}",
    ]
    for name in names:
        (tmp_path / name / "level_0").mkdir(parents=True)
    base = _traversal_tree_base(tag)
    assert base == str(tmp_path / f"rrs_trav_tree_{LEVEL_LAYOUT_VERSION}_{tag}")
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(names[2:])
