"""Driver-contract query catalog: every implemented operator from
SURVEY.md §2 exposed as (spark_query, duckdb_oracle_sql) pairs.

Conventions (driver compare = row count + schema + order-insensitive
value hash with columns sorted by name):
- every computed column is aliased IDENTICALLY on both sides;
- doubles that cross the hash are ROUNDed on both sides (ranking
  itself always uses the unrounded value);
- counts/sums are cast so Spark long == DuckDB BIGINT;
- no timestamps in outputs (epoch seconds instead — engine-TZ proof).

Queries without an oracle entry (stateful chunking, hash-embedder
retrieval, minhash/simhash, multimodal) get the driver's weaker
rows-only check; their exactness is covered by pytest oracles instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raptor_rag_spark.config import EngineConfig
from raptor_rag_spark.functions.localtab import local_df
from raptor_rag_spark.operators import knn as knn_ops
from raptor_rag_spark.operators import tile as tile_ops
from raptor_rag_spark.operators.dedup import (
    DEFAULT_MAX_DF as DEDUP_MAX_DF,
    exact_dedup_groups,
    embedding_neardup_pairs,
    make_simhash_udf,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
)
from raptor_rag_spark.operators.textstats import lang_id, make_fingerprint_udf, quality_metrics
from raptor_rag_spark.operators.chunk import chunk_documents
from raptor_rag_spark.operators.embed import embed_texts
from raptor_rag_spark.operators.spatial import point_in_polygon_expr, rasterize
from raptor_rag_spark.tokenizer import (
    duckdb_token_count_expr,
    spark_token_count,
)

CFG = EngineConfig()
DIM = 64  # embeddings.parquet dimension
N_QUERIES = 8  # vec_id < 8 act as kNN query vectors
K = 5

# deterministic projection, shared by Spark and the SQL oracles
_P0, _P1 = tile_ops.projection_literals(DIM, CFG.seed)
P0_SQL = "[" + ",".join(repr(v) for v in _P0) + "]"
P1_SQL = "[" + ",".join(repr(v) for v in _P1) + "]"

XY_CTE = f"""xy AS (
  SELECT vec_id, label,
         list_dot_product(embedding::DOUBLE[], {P0_SQL}) AS x,
         list_dot_product(embedding::DOUBLE[], {P1_SQL}) AS y
  FROM embeddings
)"""


def _grid_sql(coord: str, res: int) -> str:
    n = 1 << (res + 1)
    return f"CAST(LEAST(GREATEST(FLOOR(({coord}+1.0)/2.0*{n}.0), 0), {n - 1}) AS INT)"


def _quadkey_sql(ix: str, iy: str, res: int) -> str:
    digits = [
        f"CAST((({iy} >> {res - i}) & 1)*2 + (({ix} >> {res - i}) & 1) AS VARCHAR)"
        for i in range(res + 1)
    ]
    return "concat(" + ", ".join(digits) + ")"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# chunk+embed leaf pipeline memo, keyed by (application, sf_dir): the
# three tree-dependent contract entries (cell_summary,
# traversal_retrieval, collapsed_retrieval) all start from this exact
# deterministic DataFrame — computing it once per session changes no
# result (pinned oracles regenerate identically) but stops the suite
# re-running chunk+embed per entry. localCheckpoint pins it executor-
# side; a fresh session (new applicationId) recomputes.
_LEAVES_CACHE: dict[tuple[str, str], DataFrame] = {}


def _leaf_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _LEAVES_CACHE.get(key)
    if df is None:
        docs = _t(spark, sf_dir, "documents")
        chunks = chunk_documents(docs, max_tokens=60)
        df = (
            embed_texts(chunks, dim=DIM)
            .withColumnRenamed("chunk_id", "node_id")
            .select("node_id", "text", "n_tokens", "embedding")
            .localCheckpoint(eager=True)
        )
        _LEAVES_CACHE[key] = df
    return df


# a fixed pentagon in reduced space with no horizontal edges (PIP oracle)
PIP_POLYGON = [
    (0.00, -0.45),
    (0.42, -0.10),
    (0.25, 0.40),
    (-0.28, 0.38),
    (-0.40, -0.12),
]


def _pip_sql(x: str, y: str) -> str:
    terms = []
    n = len(PIP_POLYGON)
    for i in range(n):
        ax, ay = PIP_POLYGON[i]
        bx, by = PIP_POLYGON[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({ay!r} > {y}) <> ({by!r} > {y})) AND "
            f"({x} < ({bx!r} - {ax!r}) * ({y} - {ay!r}) / ({by!r} - {ay!r}) + {ax!r}) "
            f"THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


# ====================================================================
# Spark-side query functions
# ====================================================================


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (§2.12 relational built-ins + W5-style agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2: window top-k per group (events)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "event_id", F.round("value", 2).alias("value"), "rnk")
    )


def q_running_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/W4: running-sum budget prefix (break at first overflow)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    cum = F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        ev.withColumn("cum_value", cum)
        .filter(F.col("cum_value") <= 500.0)
        .select("user_id", "event_id", F.round("cum_value", 2).alias("cum_value"))
    )


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-analog tumbling window agg (batch form; §2.10 note)."""
    ev = _t(spark, sf_dir, "events")
    win = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long")
    return (
        ev.groupBy(win.alias("win_start"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 1800 s starts a new session per user."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(SESSION_SQL_SPARK)


SESSION_SQL_CORE = """
WITH marked AS (
  SELECT user_id, event_id, {epoch} AS es,
         CASE WHEN {epoch} - LAG({epoch}) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
), sess AS (
  SELECT user_id, event_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM marked
), per_session AS (
  SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, session_idx
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events
FROM per_session GROUP BY user_id
"""
SESSION_SQL_SPARK = SESSION_SQL_CORE.format(epoch="unix_timestamp(ts)")
# FLOOR before cast: duckdb double->bigint cast ROUNDS, Spark's
# unix_timestamp FLOORS sub-second timestamps
SESSION_SQL_DUCK = SESSION_SQL_CORE.format(epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)")


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 tagged union: kind='doc' = sentence/token counts per
    document; kind='sentence' = each non-blank sentence with its token
    count (merged to free a contract slot for c4_filters; 50-entry
    driver record cap)."""
    docs = _t(spark, sf_dir, "documents")
    sentences = F.split(F.col("text"), r"\.|!|\?|\n")
    non_empty = F.filter(sentences, lambda s: F.trim(s) != "")
    doc = docs.select(
        F.lit("doc").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("sentence"),
        spark_token_count(F.col("text")).alias("n_tokens"),
        F.size(non_empty).alias("n_sentences"),
    )
    sent = (
        docs.select("doc_id", F.explode(sentences).alias("sentence"))
        .filter(F.trim(F.col("sentence")) != "")
        .select(
            F.lit("sentence").alias("kind"),
            "doc_id",
            "sentence",
            spark_token_count(F.col("sentence")).alias("n_tokens"),
            F.lit(None).cast("int").alias("n_sentences"),
        )
    )
    return doc.unionByName(sent)


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rule set (terminal-punct + >=5-word line filter,
    >=3 surviving lines, lorem-ipsum/brace page drops) — map-side
    array HOFs, text never shuffles; md5 of the rebuilt text under the
    hash gate."""
    from raptor_rag_spark.operators.textstats import c4_line_filters

    docs = _t(spark, sf_dir, "documents")
    # the synthetic corpus is punctuation-free single-line keyword text
    # (every doc would drop at the >=3-lines rule): construct the line
    # structure deterministically in-query — 6-word lines terminated
    # with periods, a lorem-ipsum line planted on doc_id%5, a brace
    # line on doc_id%7 — so BOTH branches of every rule exercise
    # (decontam/pii precedent; replacement parity Spark $1 / DuckDB \\1
    # verified)
    lineified = F.regexp_replace("text", r"((\S+ ){5}\S+) ", "$1.\n")
    planted = F.concat(
        lineified,
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("\nthis padded line has lorem ipsum inside it."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\nthis line carries a { brace marker here."),
        ).otherwise(F.lit("")),
    )
    docs = docs.withColumn("text", planted)
    out = c4_line_filters(docs)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_kept").cast("int").alias("n_kept"),
        "kept",
        F.md5(F.col("text")).alias("text_md5"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs)


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_metrics(_t(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow lang-id kernel (integer-exact twin of the lang_id JVM
    expression, equality pytest) — the HOF chain is interpreted."""
    from raptor_rag_spark.operators.textstats import make_lang_id_udf

    docs = _t(spark, sf_dir, "documents")
    lid = make_lang_id_udf()
    return docs.select("doc_id", lid(F.col("text")).alias("lang_pred"))


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    xy = tile_ops.reduce_2d(emb, dim=DIM, seed=CFG.seed)
    parts = [
        tile_ops.tile(xy, r).select("vec_id", "resolution", "cell_id") for r in range(4)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_tile_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    xy = tile_ops.reduce_2d(emb, dim=DIM, seed=CFG.seed)
    return tile_ops.tile_soft(xy, 3, soft_eps=0.15).select("vec_id", "cell_id", "is_soft")


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 recast: per-cell aggregation over the resolution ladder."""
    emb = _t(spark, sf_dir, "embeddings")
    xy = tile_ops.reduce_2d(emb, dim=DIM, seed=CFG.seed)
    parts = [
        tile_ops.tile(xy, r).select("vec_id", "label", "resolution", "cell_id")
        for r in range(4)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("resolution", "cell_id").agg(
        F.count("*").alias("n_points"),
        F.countDistinct("label").alias("n_labels"),
        F.round(F.avg("label"), 6).alias("avg_label"),
    )


def q_density_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    xy = tile_ops.reduce_2d(emb, dim=DIM, seed=CFG.seed)
    return rasterize(xy, 0.125)


def _rerank_rounded(out: DataFrame, k: int) -> DataFrame:
    """Contract-query ranking: rank on (round(dist,6), node_id) instead
    of the raw double — Spark's BLAS matmul and DuckDB's sequential
    list_dot_product can differ in the last ulp on near-tied distances,
    which would flip row_number ranks and fail the hash compare. The
    operator's own rank (unrounded + node_id tie-break) remains the
    engine semantics; the margin rows fetched above k absorb rounding
    ties at the k boundary."""
    from pyspark.sql import Window

    # + 0.0 folds IEEE -0.0 (float-noise negative self-distance) to 0.0
    rdist = (F.round("dist", 6) + F.lit(0.0)).alias("dist")
    w = Window.partitionBy("query_id").orderBy(
        (F.round("dist", 6) + F.lit(0.0)).asc(), F.col("node_id").asc()
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "node_id", "rank", rdist)
    )


# margin rows fetched beyond k so re-ranking on the rounded distance
# cannot lose a row that rounding pulls across the k boundary. The
# engine fetches top-(k+margin) on the UNROUNDED dist while the oracle
# ranks every row on the rounded dist, so the compare only holds while
# fewer than RANK_MARGIN+1 candidates tie within 1e-6 at the k
# boundary. 16 distinct 64-dim hash-embedder vectors landing in one
# 1e-6 distance bucket around the k-th neighbor is beyond-astronomical;
# per-batch top-k fetch cost is unchanged.
RANK_MARGIN = 16


def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 brute kNN + W3 threshold mode, one tagged result (merged
    from the former knn_brute + knn_threshold entries — the driver
    records at most 50 contract entries, see COVERAGE.md). One scoring
    pass serves both branches: kind='topk' is the k={K} ranking;
    kind='threshold' keeps rounded dist > 0.55 within the top-20
    ranking (the reference's distance-not-similarity quirk,
    tree_retriever.py:293-296)."""
    from raptor_rag_spark.operators.knn import threshold_select

    emb = _t(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("node_id"), "embedding")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = knn_ops.brute_force_knn(queries, nodes, k=20 + RANK_MARGIN)
    ranked = _rerank_rounded(out, 20)
    cols = ["query_id", "node_id", "rank", "dist"]
    topk = ranked.filter(F.col("rank") <= K).select(
        F.lit("topk").alias("kind"), *cols
    )
    thr = threshold_select(ranked, 0.55).select(
        F.lit("threshold").alias("kind"), *cols
    )
    return topk.unionByName(thr)


def q_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute kNN over the INT8-QUANTIZED corpus (the 4x memory/scan
    lever, operators/quantize.py): same queries as knn_brute, corpus
    stored as array<tinyint> + per-vector scale, dequantized per block
    inside the kernel. Deterministic (symmetric round-half-even
    quantization + pinned tie-breaks) -> pinned golden VALUES oracle;
    the rank-1 hit for each query is itself (quantization preserves the
    self-match), and ranks vs the float path drift only where distances
    tie within the quantization error."""
    from raptor_rag_spark.operators.quantize import (
        brute_force_knn_quantized,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("node_id"), "embedding")
    nodes_q = quantize_embeddings(nodes).select("node_id", "q_vec", "q_scale")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = brute_force_knn_quantized(queries, nodes_q, k=K + RANK_MARGIN)
    return _rerank_rounded(out, K)


def q_knn_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship tile-pruned kNN at fixed ring=1, res=2 (hard home
    cells both sides) — semantics exactly mirrored in the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    xy = tile_ops.reduce_2d(emb, dim=DIM, seed=CFG.seed)
    nodes = xy.select(F.col("vec_id").alias("node_id"), "embedding", "x", "y")
    tiles = tile_ops.tile(nodes, 2).select("node_id", "resolution", "cell_id")
    queries = xy.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        "x",
        "y",
    )
    out = knn_ops.tile_knn(
        queries,
        nodes.select("node_id", "embedding"),
        tiles,
        resolution=2,
        k=K + RANK_MARGIN,
        ring=1,
        max_ring=1,
    )
    return _rerank_rounded(out, K)


def q_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon, BOTH physical strategies in one tagged result
    (merged with the former pip_tiled entry — the driver records at
    most 50 contract entries, see COVERAGE.md): 'exact' = per-row ray
    cast; 'tiled' = covering-accelerated (full/boundary cell
    classification via broadcast join; exact ray cast only on the
    boundary band). The tiled output is row-identical to the exact one,
    so the oracle is the same closed form tagged twice."""
    from raptor_rag_spark.operators.spatial import point_in_polygon_tiled

    emb = _t(spark, sf_dir, "embeddings")
    xy = tile_ops.reduce_2d(emb, dim=DIM, seed=CFG.seed)
    exact = xy.select(
        F.lit("exact").alias("method"),
        "vec_id",
        point_in_polygon_expr(F.col("x"), F.col("y"), PIP_POLYGON).alias("inside"),
    )
    tiled = point_in_polygon_tiled(xy, PIP_POLYGON, resolution=4, id_col="vec_id").select(
        F.lit("tiled").alias("method"), "vec_id", "inside"
    )
    return exact.unionByName(tiled)


def q_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets — ROLLUP and CUBE (§2.12), one tagged result
    (merged from the former rollup + cube entries; 50-entry driver
    record cap, see COVERAGE.md)."""
    li = _t(spark, sf_dir, "lineitem")
    r = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_val"), F.count("*").alias("n"))
        .withColumn("grouping_kind", F.lit("rollup_qty"))
    )
    c = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_val"),
            F.count("*").alias("n"),
        )
        .withColumn("grouping_kind", F.lit("cube_price"))
    )
    return r.unionByName(c).select(
        "grouping_kind", "l_returnflag", "l_linestatus", "sum_val", "n"
    )


def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join + agg: orders x customer -> per-nation stats."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.3)


DECONTAM_MOD = 41  # bench set = docs with doc_id % 41 == 3 (deterministic)
DECONTAM_PREFIX_WORDS = 25
DECONTAM_N = 5
DECONTAM_THRESHOLD = 0.4

# q_para_dedup kind='span': 15-token sentence planted on doc_id%5==3
SPAN_PLANT = (
    "subscribe to our newsletter for weekly updates and exclusive "
    "offers delivered straight to your inbox"
)
SPAN_K = 8


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (train/test n-gram overlap): the
    benchmark set is derived deterministically from documents (every
    41st doc contributes its first 25 normalized words as an "eval
    item"), so the oracle can rebuild it in SQL; flagged = corpus docs
    covering >= 40% of a bench item's 5-gram set. The scale shape is
    dedup.decontaminate's broadcast-benchmark hash probe (no corpus
    shuffle before the per-(doc,bench) count)."""
    from raptor_rag_spark.operators.dedup import decontaminate, normalized_text

    docs = _t(spark, sf_dir, "documents")
    words = F.split(normalized_text(F.col("text")), " ")
    # text-not-NULL mirrors the oracle's w CTE: a NULL-text bench doc
    # would otherwise become text '' here (concat_ws never returns
    # NULL) while the oracle drops it
    bench = (
        docs.filter(F.col("text").isNotNull())
        .filter(F.col("doc_id") % DECONTAM_MOD == 3)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.concat_ws(" ", F.slice(words, 1, DECONTAM_PREFIX_WORDS)).alias("text"),
        )
    )
    return decontaminate(
        docs, bench, n=DECONTAM_N, threshold=DECONTAM_THRESHOLD
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup line/para fraction,
    top word/2gram share) — one Arrow map-only pass, no shuffle; the
    oracle recomputes them with explode+aggregate SQL (same integer
    counts, same IEEE divisions)."""
    from raptor_rag_spark.operators.textstats import repetition_metrics

    docs = _t(spark, sf_dir, "documents")
    return repetition_metrics(docs)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, one tagged result (merged from the
    former embedding_neardup + self_similarity_tiled entries; 50-entry
    driver record cap, see COVERAGE.md). kind='exact' = blocked
    all-pairs BLAS; kind='tiled' = the scale path — only pairs
    co-located in a soft cell (res 3, eps 0.15) are scored, per-cell
    matmul; the soft-cell semantics are mirrored exactly in the
    oracle SQL."""
    from raptor_rag_spark.operators.similarity import self_similarity_pairs

    emb = _t(spark, sf_dir, "embeddings")
    exact = embedding_neardup_pairs(emb, min_cosine=0.35).select(
        F.lit("exact").alias("kind"), "id_a", "id_b", "cosine"
    )
    tiled = self_similarity_pairs(
        emb, min_cosine=0.35, resolution=3, item_id="vec_id", dim=DIM
    ).select(F.lit("tiled").alias("kind"), "id_a", "id_b", "cosine")
    return exact.unionByName(tiled)


# ----------------------------- rows-only (no SQL oracle) ------------


def q_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 stateful chunk packing (not SQL-expressible — the running cut
    point resets). Contract output is a per-chunk digest incl. md5 of
    the EXACT chunk text, compared against a pinned golden oracle
    (tools/gen_pinned_oracles.py): byte-level parity evidence, stronger
    than the old rows-only check. Kernel parity vs the actual reference
    split_text stays hypothesis-tested in test_chunker_parity."""
    docs = _t(spark, sf_dir, "documents")
    ch = chunk_documents(docs, max_tokens=60)
    return ch.select(
        "chunk_id",
        "doc_id",
        "chunk_idx",
        "n_tokens",
        F.md5("text").alias("text_md5"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash family, one tagged result (merged from the former
    simhash_sig + simhash_pairs entries; 50-entry driver record cap,
    see COVERAGE.md). kind='sig' rows carry (doc_id, -1, simhash);
    kind='pair' rows carry (id_a, id_b, hamming) from the 12-bit block
    pigeonhole candidate join + exact popcount verify (hot buckets
    capped). Bit-identical oracle in DuckDB via md5-prefix60. The FNV
    Python kernel (make_simhash_udf) remains the no-shuffle per-row
    variant, covered by pytest planted-pair tests."""
    from raptor_rag_spark.operators.dedup import simhash_pairs_jvm
    from raptor_rag_spark.operators.textstats import simhash_signatures

    docs = _t(spark, sf_dir, "documents")
    # one signature materialization for both branches (the 48-column
    # bit-sum aggregate is the dominant stage)
    sig_full = simhash_signatures(docs).localCheckpoint(eager=False)
    sig = sig_full.select(
        F.lit("sig").alias("kind"),
        F.col("doc_id").cast("long").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        F.col("simhash").cast("long").alias("val"),
    )
    pairs = simhash_pairs_jvm(
        docs, max_hamming=3, blocks=4, precomputed_sig=sig_full
    ).select(
        F.lit("pair").alias("kind"),
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("hamming").cast("long").alias("val"),
    )
    return sig.unionByName(pairs)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint (md5-prefix60), Arrow kernel — byte-
    identical to the JVM expression fingerprint_col (equality pytest)
    but ~10x faster: Catalyst evaluates transform/F.get INTERPRETED
    (~23 s for 5000 docs at sf0.1 vs ~2 s here). The oracle validates
    the kernel directly; fingerprint_col remains the documented
    reference semantics; make_fingerprint_udf (FNV) the pluggable
    hash seam."""
    from raptor_rag_spark.operators.textstats import make_md5_fingerprint_udf

    docs = _t(spark, sf_dir, "documents")
    fp = make_md5_fingerprint_udf()
    return docs.select("doc_id", fp(F.col("text")).alias("fingerprint"))


def q_collapsed_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end collapsed retrieval over documents with the hash
    embedder (rows-only: embedder is not SQL)."""
    from raptor_rag_spark.operators.retrieve import embed_queries, retrieve_collapsed

    nodes = _leaf_nodes(spark, sf_dir).withColumn("layer", F.lit(0))
    # pin the corpus: retrieval joins nodes twice (kNN scan + text
    # dereference) and the budget/context read it again — without this
    # the chunk+embed pipeline re-executes per consumer (measured 31 s
    # -> ~8 s at sf0.1)
    nodes = tile_ops.reduce_2d(nodes, dim=DIM, seed=CFG.seed).localCheckpoint(eager=True)
    queries = local_df(
        spark,
        [(0, "table scan join"), (1, "window aggregate"), (2, "stream filter data")],
        "query_id long, text string",
    )
    q = embed_queries(queries, dim=DIM)
    kept, _ctx = retrieve_collapsed(q, nodes, method="brute", k=5, max_tokens=200)
    return kept.select("query_id", "node_id", "rank", F.round("dist", 6).alias("dist"))


def q_ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-projection adaptive-quadtree ANN search (pinned golden
    oracle; exactness vs brute force is a measured recall,
    pytest-floored at 0.85). The index persists via its own save/load
    keyed by the source fingerprint — repeat runs exercise the load
    path (no projection/occupancy rebuild, no key re-collect) and
    return identical results (test_ann_index_save_load_identical)."""
    import os as _os
    import tempfile

    from raptor_rag_spark.operators.similarity import TileAnnIndex
    from raptor_rag_spark.sources.tables import source_fingerprint

    emb = _t(spark, sf_dir, "embeddings")
    tag = source_fingerprint(sf_dir)
    ipath = _os.path.join(tempfile.gettempdir(), f"rrs_ann_{tag}")
    if _os.path.exists(_os.path.join(ipath, "meta.json")):
        idx = TileAnnIndex.load(spark, ipath)
    else:
        idx = TileAnnIndex(
            emb.select(F.col("vec_id").alias("node_id"), "embedding"),
            dim=DIM, seeds=(224, 777), base_resolution=2, max_occupancy=64, max_resolution=7,
        )
        idx.save(ipath)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = idx.search(q, k=K, ring=2)
    return out.select("query_id", "node_id", "rank")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from raptor_rag_spark.operators.multimodal import (
        decode_features,
        fake_decode,
        synthetic_media,
    )

    media = synthetic_media(spark, n=48)
    out = decode_features(media, decode_fn=fake_decode)
    return out.select("media_id", "kind", "n_bytes", F.size("feature").alias("feature_dim"))


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 (query:/passage: prefixing), P9 (newline->space), P4
    (splitlines-exact flattening) as one scalar-function surface."""
    from raptor_rag_spark.operators.knn import flatten_lines

    docs = _t(spark, sf_dir, "documents")
    prefixed = F.when(
        ~F.col("text").rlike("^(query:|passage:)"),
        F.concat(F.lit("query: "), F.col("text")),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        prefixed.alias("prefixed"),
        F.regexp_replace(F.col("text"), "\n", " ").alias("no_newlines"),
        flatten_lines(F.col("text")).alias("flattened"),
    )


def q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 invariant: the engine embedder emits unit-norm vectors of the
    configured dim (reference e5 vectors are normalized,
    production_test_report.json:70-72) — the oracle states the
    invariant as literals."""
    docs = _t(spark, sf_dir, "documents")
    emb = embed_texts(docs, dim=DIM)
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    return emb.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(norm, 5).alias("norm"),
    )


def q_cell_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-cell extractive summarization (groupBy + applyInPandas
    UDAF shape). Rows-only: the summarizer is not SQL."""
    from raptor_rag_spark.operators.tree import build_level

    nodes = tile_ops.reduce_2d(_leaf_nodes(spark, sf_dir), dim=DIM, seed=CFG.seed)
    parents = build_level(nodes, layer=1, resolution=2, cfg=CFG)
    return parents.select(
        "node_id", "cell_id", F.size("children").alias("n_children"), "n_tokens"
    )


def _traversal_tree_base(tag: str) -> str:
    """The temp-dir base of the traversal oracle's tree for source
    ``tag``, keyed by the level layout too: a tree cached in an older
    layout is rebuilt instead of failing its read. Trees cached for the
    tag under another layout version, or the unversioned
    ``rrs_trav_tree_<tag>``, are removed first."""
    import shutil
    import tempfile

    from raptor_rag_spark.operators.tree import LEVEL_LAYOUT_VERSION

    tmp = tempfile.gettempdir()
    name = f"rrs_trav_tree_{LEVEL_LAYOUT_VERSION}_{tag}"
    for entry in os.listdir(tmp):
        if entry.startswith("rrs_trav_tree_") and entry.endswith("_" + tag) and entry != name:
            shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
    return os.path.join(tmp, name)


def q_traversal_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-traversal retrieval over a 2-level built tree (pinned
    golden oracle: build uses the summarizer + hash embedder). The
    checkpoint base is keyed by the source-data fingerprint so repeat
    runs RESUME from the levels instead of rebuilding (identical tree
    either way — test_resume_mid_build_identical)."""
    from raptor_rag_spark.operators.retrieve import embed_queries, retrieve_traversal
    from raptor_rag_spark.operators.tree import build_tree, last_complete_level
    from raptor_rag_spark.sources.tables import source_fingerprint

    leaves = _leaf_nodes(spark, sf_dir)
    base = _traversal_tree_base(source_fingerprint(sf_dir))
    nodes = build_tree(
        spark, leaves, base, CFG, start_resolution=2, max_layers=2, embed_dim=DIM, resume=True
    )
    queries = local_df(
        spark,
        [(0, "table scan join"), (1, "window aggregate group")],
        "query_id long, text string",
    )
    q = embed_queries(queries, dim=DIM)
    # the level manifests already know the top layer — saves the
    # max(layer) aggregation job inside retrieve_traversal
    sel, _ctx = retrieve_traversal(
        q, nodes, k=3, start_layer=last_complete_level(base)
    )
    return sel.select("query_id", "node_id", "sel_layer", "rank")


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: latency-percentile shape (exact percentiles so the DuckDB
    oracle matches bit-for-bit after rounding; approx_percentile is
    engine-specific and only used for BENCH sanity)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count("*").alias("n"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set ops (INTERSECT / EXCEPT over user sets) plus the §2.4
    anti-join surface (customers without orders, per nation) in one
    tagged result — merged from the former set_ops + semi_anti entries
    (50-entry driver record cap, see COVERAGE.md). Unified schema
    (kind, key, n): set-op rows carry n=1 per member; anti rows carry
    the per-nation customer count; kind='latest_per_user' rows carry
    the event_id kept by dedup.keep_latest (recrawl collapse: newest
    row per key, ts DESC + event_id ASC tie-break — the WindowGroupLimit
    top-1 plan shape)."""
    ev = _t(spark, sf_dir, "events")
    signup = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    error = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = signup.intersect(error).select(
        F.lit("both").alias("kind"),
        F.col("user_id").alias("key"),
        F.lit(1).cast("long").alias("n"),
    )
    only_signup = signup.exceptAll(error).select(
        F.lit("signup_only").alias("kind"),
        F.col("user_id").alias("key"),
        F.lit(1).cast("long").alias("n"),
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("no_orders_nation").alias("kind"),
            F.col("c_nationkey").cast("long").alias("key"),
            "n",
        )
    )
    from raptor_rag_spark.operators.dedup import keep_latest

    latest = keep_latest(ev, ["user_id"], "ts", tie_cols=["event_id"]).select(
        F.lit("latest_per_user").alias("kind"),
        F.col("user_id").cast("long").alias("key"),
        F.col("event_id").cast("long").alias("n"),
    )
    return both.unionByName(only_signup).unionByName(anti).unionByName(latest)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (§2.12 checklist): for each signup event, the most
    recent prior click by the same user. Composed from built-ins
    (join + window), the Spark-native as-of pattern."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    signup = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("s_ts")
    )
    click = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    j = signup.join(click, "user_id").filter(F.col("c_ts") <= F.col("s_ts"))
    w = Window.partitionBy("signup_id").orderBy(F.col("c_ts").desc(), F.col("click_id").desc())
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("signup_id", "user_id", "click_id")
    )


def q_raster_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector: density cells back to polygons + centroids
    (C6/north_rule raster<->vector conversion), SQL-checkable via the
    centroid/corner arithmetic."""
    from raptor_rag_spark.operators.spatial import vectorize

    emb = _t(spark, sf_dir, "embeddings")
    xy = tile_ops.reduce_2d(emb, dim=DIM, seed=CFG.seed)
    v = vectorize(rasterize(xy, 0.125), 0.125)
    return v.select(
        "gx",
        "gy",
        F.col("n").alias("n"),
        F.round("cx", 6).alias("cx"),
        F.round("cy", 6).alias("cy"),
        F.size("boundary").alias("n_vertices"),
    )


def q_pages_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.8 partition pruning: the pages table is materialized
    partitioned by (year, month) of warc_ts; a one-month query must hit
    only that partition's directories (plan-asserted in
    test_plans_and_skew) and never read the html binary column. The
    oracle recomputes the same month from doc_id arithmetic."""
    from raptor_rag_spark.sources.tables import write_pages_partitioned

    out = write_pages_partitioned(spark, sf_dir)
    pages = spark.read.parquet(out)
    return (
        pages.filter((F.col("year") == 2024) & (F.col("month") == 3))
        .groupBy("lang")
        .agg(F.count("*").alias("n_pages"), F.sum("n_chars").alias("sum_chars"))
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial range join in the reduced plane: all embedding pairs
    within radius 0.12 of the first N_QUERIES query points — cell-
    bucketed equi-join + exact distance filter; the oracle is the
    naive theta join."""
    from raptor_rag_spark.operators.spatial import range_join

    emb = _t(spark, sf_dir, "embeddings")
    xy = tile_ops.reduce_2d(emb, dim=DIM, seed=CFG.seed)
    left = xy.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "x", "y"
    )
    right = xy.select(F.col("vec_id").alias("node_id"), "x", "y")
    out = range_join(left, right, radius=0.12)
    return out.select(
        "query_id", "node_id", (F.round("dist_xy", 6) + F.lit(0.0)).alias("dist_xy")
    )


def q_global_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 global ORDER BY + LIMIT: Spark plans TakeOrderedAndProject
    (per-partition top-N + tiny driver merge), never a global sort —
    plan-asserted in test_plans_and_skew."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price")
        )
        .orderBy(F.col("price").desc(), F.col("l_orderkey"), F.col("l_linenumber"))
        .limit(20)
    )


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 W1/W2 + §2.6 in one tagged result (merged from the former
    topk_per_group + global_topn entries — 50-entry driver record cap,
    COVERAGE.md): kind='group' = window top-3 per event_type
    (WindowGroupLimit, plan-asserted); kind='global' = global ORDER BY
    + LIMIT 20 (TakeOrderedAndProject, plan-asserted). Columns
    normalized to (kind, gkey, id_a, id_b, val)."""
    grp = q_topk_per_group(spark, sf_dir).select(
        F.lit("group").alias("kind"),
        F.col("event_type").alias("gkey"),
        F.col("event_id").cast("long").alias("id_a"),
        F.col("rnk").cast("long").alias("id_b"),
        F.col("value").alias("val"),
    )
    glob = q_global_topn(spark, sf_dir).select(
        F.lit("global").alias("kind"),
        F.lit("").alias("gkey"),
        F.col("l_orderkey").cast("long").alias("id_a"),
        F.col("l_linenumber").cast("long").alias("id_b"),
        F.col("price").alias("val"),
    )
    return grp.unionByName(glob)


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash family, one tagged result (merged from the former
    minhash_sig + minhash_pairs entries — 50-entry driver record cap,
    COVERAGE.md). kind='sig' rows carry (doc_id, hash_idx, min_val);
    kind='pair' rows carry (id_a, id_b, n_common, jaccard) from the
    LSH band join + exact verify; kind='est' rows carry the banded
    candidates' estimated Jaccard (the pre-filter surface the former
    pairs entry exposed). Bit-identical DuckDB oracle (md5-prefix60
    base hash) for every branch."""
    from raptor_rag_spark.operators.dedup import (
        minhash_dedup_pairs_jvm,
        minhash_signatures_jvm,
    )

    docs = _t(spark, sf_dir, "documents")
    # ONE signature materialization feeds the sig branch AND the pairs
    # pipeline (passed through as precomputed_sig) — the md5-shingle
    # min() aggregate is the query's dominant stage and previously
    # re-executed once per branch
    sig_full = minhash_signatures_jvm(docs).localCheckpoint(eager=False)
    sig = (
        sig_full
        .select("doc_id", F.posexplode("sig").alias("hash_idx", "min_val"))
        .select(
            F.lit("sig").alias("kind"),
            F.col("doc_id").cast("long").alias("id_a"),
            F.col("hash_idx").cast("long").alias("id_b"),
            F.col("min_val").cast("long").alias("lval"),
            F.lit(None).cast("double").alias("dval"),
        )
    )
    pairs_df = minhash_dedup_pairs_jvm(
        docs, threshold=0.35, precomputed_sig=sig_full
    ).localCheckpoint(eager=False)  # reused by the pair AND est branches
    pair = pairs_df.select(
        F.lit("pair").alias("kind"),
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("n_common").cast("long").alias("lval"),
        F.col("jaccard").alias("dval"),
    )
    est = pairs_df.select(
        F.lit("est").alias("kind"),
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.lit(None).cast("long").alias("lval"),
        F.col("est_jaccard").alias("dval"),
    )
    return sig.unionByName(pair).unionByName(est)


def q_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/pii.py): emails / IPv4s / US-style phones
    detected and redacted by pure-JVM regexp at scan speed. The
    synthetic corpus carries no PII, so the query deterministically
    plants contact strings derived from doc_id on every third doc
    (decontam precedent: the oracle rebuilds the plant closed-form) —
    the counts and the scrubbed-text md5 then exercise all three
    patterns plus untouched-doc passthrough."""
    from raptor_rag_spark.operators.pii import scrub_pii

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    contact = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        d.cast("string"),
        F.lit("@example.com or 192.168."),
        (d % 256).cast("string"),
        F.lit("."),
        ((d * 7) % 256).cast("string"),
        F.lit(" tel 555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((d * 3) % 10000).cast("string"), 4, "0"),
    )
    planted = docs.withColumn(
        "text", F.when(d % 3 == 0, contact).otherwise(F.col("text"))
    )
    out = scrub_pii(planted)
    return out.select(
        "doc_id",
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_ipv4").cast("int").alias("n_ipv4"),
        F.col("n_phone").cast("int").alias("n_phone"),
        F.col("n_pii").cast("int").alias("n_pii"),
        F.md5("text").alias("scrubbed_md5"),
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity quality filter (textstats.lm_doc_scores,
    CCNet-style): add-one-smoothed corpus unigram model, per-doc mean
    negative log-likelihood. Full-vocab variant here (closed-form
    oracle); the 100 TB path sets top_v for a broadcast vocab join."""
    from raptor_rag_spark.operators.textstats import lm_doc_scores

    docs = _t(spark, sf_dir, "documents")
    out = lm_doc_scores(docs)
    return out.select(
        "doc_id", F.col("n_tok").cast("long").alias("n_tok"), "nll_avg"
    )


def q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph hygiene, BOTH strategies in one tagged
    result: kind='first' = C4-style exact line dedup
    (dedup.dedup_paragraphs — every non-blank line kept only at its
    first (doc_id, line_idx) occurrence); kind='df' =
    RefinedWeb/Dolma-style document-frequency boilerplate removal
    (dedup.drop_boilerplate_lines — lines in >= 5% of docs dropped
    from EVERY doc, first copy included). The synthetic corpus has no
    repeated lines, so the query deterministically plants boilerplate
    (a nav-bar line on doc_id%4==1 docs ~25% DF, a footer on
    doc_id%6==2 ~17% — disjoint plants by parity): 'first' must keep
    exactly one winner each, 'df' must drop both everywhere; all other
    lines pass through and the rebuilt-text md5 pins reassembly
    byte-exactly. kind='span' = ExactSubstr duplicate-span removal
    (dedup.remove_duplicate_spans, Lee et al. 2021 — every token
    covered by a >=8-token span occurring >=2 times corpus-wide is
    dropped, ALL copies): its plant appends one fixed 15-token
    sentence on doc_id%5==3 docs (the 8 fully-in-plant windows must
    dup out; boundary windows drop only on the natural birthday
    collisions of pre-plant suffixes, which the oracle reproduces
    closed-form), and the synthetic corpus's own natural >=8-gram
    repeats are detected identically by both sides. For 'span',
    n_lines/n_kept count TOKENS of the whitespace-collapsed stream
    and text_md5 hashes the space-rejoined kept tokens."""
    from raptor_rag_spark.operators.dedup import (
        dedup_paragraphs,
        drop_boilerplate_lines,
        remove_duplicate_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t1 = F.when(
        d % 4 == 1, F.concat(F.lit("HOME | ABOUT | CONTACT\n"), F.col("text"))
    ).otherwise(F.col("text"))
    planted = docs.withColumn("text", t1).withColumn(
        "text",
        F.when(
            d % 6 == 2,
            F.concat(F.col("text"), F.lit("\nCopyright 2024 Example Corp")),
        ).otherwise(F.col("text")),
    )

    def _shape(out: DataFrame, kind: str, n_col: str = "n_lines") -> DataFrame:
        return out.select(
            F.lit(kind).alias("kind"),
            "doc_id",
            F.col(n_col).cast("long").alias("n_lines"),
            F.col("n_kept").cast("long").alias("n_kept"),
            "text_md5",
        )

    span_planted = docs.withColumn(
        "text",
        F.when(
            d % 5 == 3, F.concat(F.col("text"), F.lit(" " + SPAN_PLANT))
        ).otherwise(F.col("text")),
    )
    return (
        _shape(dedup_paragraphs(planted), "first")
        .unionByName(_shape(drop_boilerplate_lines(planted, min_doc_frac=0.05), "df"))
        .unionByName(
            _shape(
                remove_duplicate_spans(span_planted, k=SPAN_K, min_count=2),
                "span",
                n_col="n_tokens",
            )
        )
    )


def q_catalog_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-catalog time travel (Iceberg-shaped seam): documents
    split into create (even doc_id) + append (odd doc_id) snapshots;
    each snapshot id must read exactly its chain's rows. Oracle
    recomputes the two counts from doc_id parity."""
    import os as _os
    import tempfile

    from raptor_rag_spark.sources.catalog import get_catalog
    from raptor_rag_spark.sources.tables import source_fingerprint

    tag = source_fingerprint(sf_dir)
    root = _os.path.join(tempfile.gettempdir(), f"rrs_cat_{tag}")
    cat = get_catalog(spark, root)
    t = cat.table("documents")
    if not t.exists():
        docs = _t(spark, sf_dir, "documents")
        t.create(docs.filter(F.col("doc_id") % 2 == 0))
        t.append(docs.filter(F.col("doc_id") % 2 == 1))
    snaps = t.snapshots()
    rows = [
        (s["id"], t.read(snapshot_id=s["id"]).count()) for s in snaps
    ]
    return local_df(spark, rows, "snapshot_id int, n_rows long")


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct per group (§2.12 checklist) — rows-only:
    HLL sketches are engine-specific, so exactness is a pytest relative-
    error bound vs the exact count, not a hash compare."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count("*").alias("n"),
    )


def q_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a hot key (lang is Zipf-
    skewed). Result identical to a plain GROUP BY — the oracle proves
    the salting is purely physical."""
    from raptor_rag_spark.operators.skew import salted_count_sum

    docs = _t(spark, sf_dir, "documents")
    return salted_count_sum(docs, ["lang"], sum_col="n_chars", salt=8)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: blocking keys (exact-normalized-text md5 +
    winnowing fingerprint) -> star edges per key (member -> key-min,
    never all-pairs) -> distributed connected components (alternating
    large-star/small-star, O(log n) rounds) -> (doc_id, cluster_id).
    The keep-one-canonical-doc-per-cluster stage of the pipeline; the
    DuckDB oracle computes the same transitive closure with a
    recursive CTE."""
    from raptor_rag_spark.operators.dedup import normalized_text
    from raptor_rag_spark.operators.graph import connected_components
    from raptor_rag_spark.operators.textstats import make_md5_fingerprint_udf

    docs = _t(spark, sf_dir, "documents")
    # Arrow kernel (byte-identical to fingerprint_col; the interpreted
    # HOF costs ~28 s/eval at sf0.1) + checkpoint so the keys evaluate
    # ONCE — they otherwise recompute in roots, the edge join, and the
    # CC seed (measured 106 s -> ~5 s at sf0.1)
    fp = make_md5_fingerprint_udf()
    keys = (
        docs.select(
            "doc_id",
            F.concat(F.lit("T:"), F.md5(normalized_text(F.col("text")))).alias("k"),
        )
        .unionByName(
            docs.select(
                "doc_id",
                F.concat(F.lit("F:"), fp(F.col("text")).cast("string")).alias("k"),
            )
        )
        .filter(F.col("k").isNotNull())
        .localCheckpoint(eager=False)
    )
    roots = keys.groupBy("k").agg(F.min("doc_id").alias("root"))
    edges = (
        keys.join(roots, "k")
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("doc_id").alias("src"), F.col("root").alias("dst"))
    )
    return connected_components(
        edges, vertices=docs.select("doc_id"), id_col="doc_id"
    ).select("doc_id", F.col("cluster_id").cast("long").alias("cluster_id"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of the three deterministic sampling/selection ops
    (schema kind/doc_id/grp/n):

    - 'bernoulli': stratified md5-hash sample (20% of 'en', 50% rest);
      grp = lang, n = 0. Membership is a pure function of doc_id —
      repartition-invariant, bit-reproducible in the oracle.
    - 'mixture': weighted mixture with up-sampling epochs (en @ 250%,
      rest @ 40%); grp = lang, n = epoch — the per-source
      sampling-proportion/epoch step of LM training recipes.
    - 'budget': exact global selection under a token budget (best
      quality_score first, 2/5 of total corpus tokens); grp = '',
      n = the doc's token count. Two-phase histogram + boundary-bucket
      window engine-side; plain QUALIFY-cumsum oracle-side.
    """
    from raptor_rag_spark.operators.textstats import (
        quality_metrics,
        sample_mixture,
        select_to_token_budget,
        stratified_hash_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    bern = stratified_hash_sample(docs, rates_pct={"en": 20}, default_pct=50).select(
        F.lit("bernoulli").alias("kind"),
        "doc_id",
        F.col("lang").alias("grp"),
        F.lit(0).cast("long").alias("n"),
    )
    mix = sample_mixture(docs, rates_pct={"en": 250}, default_pct=40).select(
        F.lit("mixture").alias("kind"),
        "doc_id",
        F.col("lang").alias("grp"),
        F.col("epoch").cast("long").alias("n"),
    )
    # pin the 3-column scored projection: the selection evaluates its
    # input up to 4 times (operator docstring) + the total agg below —
    # without this the regex-heavy quality scan re-runs ~5x
    scored = quality_metrics(docs).select(
        "doc_id",
        "quality_score",
        F.coalesce(F.col("n_tokens").cast("long"), F.lit(0)).alias("n_tokens"),
    ).localCheckpoint(eager=False)
    total = scored.agg(F.sum("n_tokens")).collect()[0][0] or 0
    sel = select_to_token_budget(
        scored, budget=int(total) * 2 // 5, num_buckets=64
    ).select(
        F.lit("budget").alias("kind"),
        "doc_id",
        F.lit("").alias("grp"),
        F.col("n_tokens").alias("n"),
    )
    return bern.unionByName(mix).unionByName(sel)


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tokens per language (term-frequency corpus profile).
    Explode -> partial-agg count -> WindowGroupLimit top-k."""
    from raptor_rag_spark.operators.textstats import top_terms

    docs = _t(spark, sf_dir, "documents")
    return top_terms(docs, stratum_col="lang", text_col="text", k=5)


# ====================================================================
# Registry
# ====================================================================

# EXACTLY 50 entries. The driver's CORRECTNESS artifact records at most
# 50 queries in this dict's insertion order (round 3 registered 52 and
# the artifact silently truncated the last two) — so the contract
# surface is consolidated to 50 tagged entries covering every operator:
# rollup_cube = rollup + cube, pip = exact + tiled strategies,
# set_ops = intersect/except + anti-join, each a UNION with a tag
# column mirrored in its oracle. The formerly-truncated entries
# (multimodal_features, ann_index_search) now sit early on purpose.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "topk": q_topk,
    "running_budget": q_running_budget,
    "tumbling_window": q_tumbling_window,
    "sessionize": q_sessionize,
    "doc_stats": q_doc_stats,
    "c4_filters": q_c4_filters,
    "dedup_exact": q_dedup_exact,
    "quality": q_quality,
    "lang_id": q_lang_id,
    "multimodal_features": q_multimodal_features,
    "ann_index_search": q_ann_index_search,
    "knn_quantized": q_knn_quantized,
    "tile_assign": q_tile_assign,
    "tile_soft": q_tile_soft,
    "cell_rollup": q_cell_rollup,
    "density_raster": q_density_raster,
    "knn_brute": q_knn_brute,
    "knn_tiled": q_knn_tiled,
    "pip": q_pip,
    "rollup_cube": q_rollup_cube,
    "join_agg": q_join_agg,
    "ngram_jaccard": q_ngram_jaccard,
    "decontam": q_decontam,
    "repetition": q_repetition,
    "embedding_neardup": q_embedding_neardup,
    "pii": q_pii,
    "lm_score": q_lm_score,
    "para_dedup": q_para_dedup,
    "text_normalize": q_text_normalize,
    "embed_norm": q_embed_norm,
    "percentiles": q_percentiles,
    "set_ops": q_set_ops,
    "asof_join": q_asof_join,
    "salted_rollup": q_salted_rollup,
    "pages_month": q_pages_month,
    "catalog_snapshots": q_catalog_snapshots,
    "range_join": q_range_join,
    "simhash": q_simhash,
    "dedup_clusters": q_dedup_clusters,
    "stratified_sample": q_stratified_sample,
    "top_terms": q_top_terms,
    "approx_distinct": q_approx_distinct,
    "raster_vectorize": q_raster_vectorize,
    "cell_summary": q_cell_summary,
    "traversal_retrieval": q_traversal_retrieval,
    "chunks": q_chunks,
    "minhash": q_minhash,
    "fingerprint": q_fingerprint,
    "collapsed_retrieval": q_collapsed_retrieval,
}


def _lang_id_sql() -> str:
    from raptor_rag_spark.operators.textstats import STOPWORDS

    hit_cols = []
    for lang in sorted(STOPWORDS):
        lst = "[" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
        hit_cols.append(
            f"len(list_filter(words, w -> list_contains({lst}, w))) AS h_{lang}"
        )
    langs = sorted(STOPWORDS)
    # argmax with lexicographic tie-break == first lang whose count is
    # >= all later langs' counts and > all earlier? Simpler: CASE chain
    # checking h_x >= every other h (earlier langs win ties).
    cases = []
    for i, lang in enumerate(langs):
        conds = []
        for j, other in enumerate(langs):
            if i == j:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"h_{lang} {op} h_{other}")
        cases.append("WHEN " + " AND ".join(conds) + f" THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    total = " + ".join(f"h_{lang}" for lang in langs)
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '') AS words
  FROM documents
), h AS (
  SELECT doc_id, {", ".join(hit_cols)} FROM w
)
SELECT doc_id, CASE WHEN {total} = 0 THEN 'und' ELSE {case_sql} END AS lang_pred FROM h
"""


def _fingerprint_sql(window: int = 8) -> str:
    parts = ", ".join(f"words[i+{j}]" for j in range(window))
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '') AS words
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN len(words) = 0 THEN 0 ELSE
         list_min(list_transform(range(1, greatest(len(words) - {window - 1}, 1) + 1),
           i -> CAST(concat('0x', substr(md5(concat_ws(' ', {parts})), 1, 15)) AS BIGINT)))
       END AS BIGINT) AS fingerprint
FROM w
"""


def _minhash_sql(n_hashes: int = 64, shingle_n: int = 3) -> str:
    from raptor_rag_spark.operators.dedup import _P31, _minhash_params

    a, b = _minhash_params(n_hashes)
    mins = ", ".join(
        f"MIN((h * {int(a[i])} + {int(b[i])}) % {_P31}) AS m{i}" for i in range(n_hashes)
    )
    sig = "[" + ", ".join(f"m{i}" for i in range(n_hashes)) + "]"
    parts = ", ".join(f"words[i+{j}]" for j in range(shingle_n))
    return f"""
WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(words) - {shingle_n - 1}, 1) + 1),
                          i -> concat_ws(' ', {parts})))) AS sh
  FROM w
), h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % {_P31} AS h FROM sh
), acc AS (
  SELECT doc_id, {mins} FROM h GROUP BY doc_id
)
SELECT doc_id,
       CAST(unnest(range(0, {n_hashes})) AS INT) AS hash_idx,
       unnest({sig}) AS min_val
FROM acc
"""


def _minhash_pairs_sql(
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.35,
    slack: float = 0.15,
) -> str:
    """DuckDB mirror of minhash_dedup_pairs_jvm: same md5-prefix60 base
    hash, same universal family, same value-banding, same est
    pre-filter, same exact shingle Jaccard (list_intersect)."""
    from raptor_rag_spark.operators.dedup import _P31, _minhash_params

    a, b = _minhash_params(n_hashes)
    rpb = n_hashes // bands
    mins = ", ".join(
        f"MIN((h * {int(a[i])} + {int(b[i])}) % {_P31}) AS m{i}" for i in range(n_hashes)
    )
    sig = "[" + ", ".join(f"m{i}" for i in range(n_hashes)) + "]"
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, sig, {bi} AS band_idx, "
        + "["
        + ", ".join(f"m{bi * rpb + j}" for j in range(rpb))
        + "] AS band_key FROM acc"
        for bi in range(bands)
    )
    parts = ", ".join(f"words[i+{j}]" for j in range(shingle_n))
    return f"""
WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS words
  FROM documents
), shs AS (
  SELECT doc_id, list_distinct(
           list_transform(range(1, greatest(len(words) - {shingle_n - 1}, 1) + 1),
                          i -> concat_ws(' ', {parts}))) AS shingles
  FROM w
), sh AS (
  SELECT doc_id, unnest(shingles) AS sh FROM shs
), h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % {_P31} AS h FROM sh
), acc AS (
  SELECT doc_id, {mins} FROM h GROUP BY doc_id
), acc2 AS (
  SELECT *, {sig} AS sig FROM acc
), banded AS (
  {band_selects.replace('FROM acc', 'FROM acc2')}
), pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
), est AS (
  SELECT p.id_a, p.id_b,
         len(list_filter(range(1, {n_hashes} + 1), i -> sa.sig[i] = sb.sig[i])) * 1.0 / {n_hashes} AS est_jaccard
  FROM pairs p JOIN acc2 sa ON sa.doc_id = p.id_a JOIN acc2 sb ON sb.doc_id = p.id_b
  WHERE len(list_filter(range(1, {n_hashes} + 1), i -> sa.sig[i] = sb.sig[i])) * 1.0 / {n_hashes}
        >= {threshold} - {slack}
), verified AS (
  SELECT e.id_a, e.id_b, ROUND(e.est_jaccard, 6) AS est_jaccard,
         CAST(len(list_intersect(ga.shingles, gb.shingles)) AS BIGINT) AS n_common,
         len(ga.shingles) AS sz_a, len(gb.shingles) AS sz_b
  FROM est e JOIN shs ga ON ga.doc_id = e.id_a JOIN shs gb ON gb.doc_id = e.id_b
)
SELECT id_a, id_b, est_jaccard, n_common,
       ROUND(n_common * 1.0 / (sz_a + sz_b - n_common), 6) AS jaccard
FROM verified
WHERE ROUND(n_common * 1.0 / (sz_a + sz_b - n_common), 6) >= {threshold}
"""


def _minhash_union_sql() -> str:
    """Tagged union of the signature + pairs mirrors (merged contract
    entry): 'sig' rows from _minhash_sql, 'pair'/'est' rows from one
    shared evaluation of _minhash_pairs_sql."""
    return f"""
SELECT 'sig' AS kind, CAST(doc_id AS BIGINT) AS id_a,
       CAST(hash_idx AS BIGINT) AS id_b, CAST(min_val AS BIGINT) AS lval,
       CAST(NULL AS DOUBLE) AS dval
FROM ({_minhash_sql()})
UNION ALL
SELECT kind, id_a, id_b, lval, dval FROM (
  WITH mp AS ({_minhash_pairs_sql()})
  SELECT 'pair' AS kind, CAST(id_a AS BIGINT) AS id_a,
         CAST(id_b AS BIGINT) AS id_b, CAST(n_common AS BIGINT) AS lval,
         jaccard AS dval
  FROM mp
  UNION ALL
  SELECT 'est' AS kind, CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
         CAST(NULL AS BIGINT), est_jaccard
  FROM mp
)
"""


def _pii_sql() -> str:
    """Mirror of q_pii: identical plant, regexes, and scrub order.
    The three patterns use only the Java-regex/RE2-shared subset."""
    from raptor_rag_spark.operators.pii import PII_PATTERNS

    (_, email, e_repl), (_, ipv4, i_repl), (_, phone, p_repl) = PII_PATTERNS
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           text || ' Contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                || ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
         ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{email}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '{ipv4}')) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{phone}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(text, '{email}'))
            + len(regexp_extract_all(text, '{ipv4}'))
            + len(regexp_extract_all(text, '{phone}')) AS INT) AS n_pii,
       md5(regexp_replace(regexp_replace(regexp_replace(
             text, '{email}', '{e_repl}', 'g'),
             '{ipv4}', '{i_repl}', 'g'),
             '{phone}', '{p_repl}', 'g')) AS scrubbed_md5
FROM planted
"""


def _lm_score_sql() -> str:
    """Mirror of q_lm_score: same ASCII-alnum tokenization, add-one
    smoothing over the full corpus vocabulary, mean -ln p per doc."""
    return """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'), s -> s <> '')) AS token
  FROM documents
), counts AS (
  SELECT token, CAST(COUNT(*) AS DOUBLE) AS n FROM toks GROUP BY token
), tot AS (
  SELECT SUM(n) AS nt, CAST(COUNT(*) AS DOUBLE) AS v FROM counts
), scored AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         ROUND(AVG(-ln((c.n + 1.0) / (tot.nt + tot.v + 1.0))), 6) AS nll_avg
  FROM toks t JOIN counts c USING (token) CROSS JOIN tot
  GROUP BY t.doc_id
)
SELECT d.doc_id, CAST(COALESCE(s.n_tok, 0) AS BIGINT) AS n_tok, s.nll_avg
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def _para_dedup_sql() -> str:
    """Mirror of q_para_dedup: identical plants; kind='first' =
    first-occurrence winner per non-blank line; kind='df' = drop lines
    whose distinct-doc frequency >= greatest(ceil(5% of docs), 2);
    blank lines pass through both; md5 of the '\\n'-rejoin in line
    order. kind='span' = ExactSubstr window-cover removal: k-token
    windows duplicated (total count >= 2) corpus-wide mark their k
    covered positions; kept tokens rejoin with ' '. The oracle groups
    windows by STRING where the engine groups by xxhash64 fingerprint
    — identical unless xxhash64 collides (~n^2/2^65, zero at test
    SFs)."""
    k = SPAN_K
    parts = ", ".join(f"toks[i+{j}]" for j in range(k))
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 1 THEN 'HOME | ABOUT | CONTACT' || chr(10) || text
              ELSE text END AS t1
  FROM documents
), p2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 2 THEN t1 || chr(10) || 'Copyright 2024 Example Corp'
              ELSE t1 END AS text
  FROM planted
), ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS arr FROM p2
), lines AS (
  SELECT doc_id,
         CAST(unnest(range(1, len(arr) + 1)) AS BIGINT) - 1 AS line_idx,
         unnest(arr) AS line
  FROM ls
), blanks AS (
  SELECT doc_id, line_idx, line FROM lines WHERE trim(line) = ''
), content AS (
  SELECT doc_id, line_idx, line FROM lines WHERE trim(line) <> ''
), totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lines GROUP BY doc_id
), winners AS (
  SELECT doc_id, line_idx, line,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
  FROM content
), kept_first AS (
  SELECT doc_id, line_idx, line FROM winners WHERE rn = 1
  UNION ALL
  SELECT doc_id, line_idx, line FROM blanks
), boiler AS (
  SELECT line FROM (
    SELECT line, COUNT(*) AS ndocs
    FROM (SELECT DISTINCT line, doc_id FROM content) GROUP BY line
  ), (SELECT greatest(CAST(ceil(COUNT(DISTINCT doc_id) * 0.05) AS BIGINT), 2) AS thr
      FROM documents)
  WHERE ndocs >= thr
), kept_df AS (
  SELECT c.doc_id, c.line_idx, c.line FROM content c ANTI JOIN boiler b ON c.line = b.line
  UNION ALL
  SELECT doc_id, line_idx, line FROM blanks
), rebuilt_first AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         md5(string_agg(line, chr(10) ORDER BY line_idx)) AS text_md5
  FROM kept_first GROUP BY doc_id
), rebuilt_df AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         md5(string_agg(line, chr(10) ORDER BY line_idx)) AS text_md5
  FROM kept_df GROUP BY doc_id
), sp AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 3 THEN text || ' {SPAN_PLANT}' ELSE text END AS text
  FROM documents WHERE text IS NOT NULL
), st AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks
  FROM sp
), sw AS (
  SELECT doc_id,
         CAST(unnest(range(0, greatest(len(toks) - {k - 1}, 0))) AS BIGINT) AS pos,
         unnest(list_transform(range(1, greatest(len(toks) - {k - 1}, 0) + 1),
                               i -> concat_ws(' ', {parts}))) AS win
  FROM st
), sdup AS (
  SELECT win FROM sw GROUP BY win HAVING COUNT(*) >= 2
), scov AS (
  SELECT DISTINCT w.doc_id, w.pos + o.o AS tpos
  FROM sw w JOIN sdup d USING (win)
  CROSS JOIN (SELECT CAST(unnest(range(0, {k})) AS BIGINT) AS o) o
), stok AS (
  SELECT doc_id,
         CAST(unnest(range(0, len(toks))) AS BIGINT) AS tpos,
         unnest(toks) AS tok
  FROM st
), skept AS (
  SELECT t.doc_id, t.tpos, t.tok
  FROM stok t ANTI JOIN scov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
), srebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY tpos)) AS text_md5
  FROM skept GROUP BY doc_id
), stotals AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_lines FROM st
)
SELECT 'first' AS kind, t.doc_id, t.n_lines,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept, r.text_md5
FROM totals t LEFT JOIN rebuilt_first r USING (doc_id)
UNION ALL
SELECT 'df' AS kind, t.doc_id, t.n_lines,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept, r.text_md5
FROM totals t LEFT JOIN rebuilt_df r USING (doc_id)
UNION ALL
SELECT 'span' AS kind, t.doc_id, t.n_lines,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept, r.text_md5
FROM stotals t LEFT JOIN srebuilt r USING (doc_id)
"""


def _decontam_sql() -> str:
    """Mirrors q_decontam: bench items = first 25 normalized words of
    every (doc_id % 41 == 3) doc; overlap = |5-gram(doc) ∩
    5-gram(bench)| / |5-gram(bench)| >= 0.4."""
    n = DECONTAM_N
    parts = ", ".join(f"words[i+{j}]" for j in range(n))
    bparts = ", ".join(f"bw[i+{j}]" for j in range(n))
    return f"""
WITH w AS (
  -- text IS NOT NULL mirrors the engine kernel, which yields a NULL
  -- shingle array for NULL text (explode drops the doc); without the
  -- filter DuckDB's greatest(NULL-4,1)=1 + concat_ws-skips-NULLs
  -- would materialize a '' shingle for NULL-text docs
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS words
  FROM documents WHERE text IS NOT NULL
), bench AS (
  SELECT doc_id AS bench_id, array_to_string(words[1:{DECONTAM_PREFIX_WORDS}], ' ') AS btext
  FROM w WHERE doc_id % {DECONTAM_MOD} = 3
), bw AS (
  SELECT bench_id, string_split(btext, ' ') AS bw FROM bench
), bsh AS (
  SELECT bench_id, list_distinct(
           list_transform(range(1, greatest(len(bw) - {n - 1}, 1) + 1),
                          i -> concat_ws(' ', {bparts}))) AS shingles
  FROM bw
), bx AS (
  SELECT bench_id, unnest(shingles) AS sh FROM bsh
), sizes AS (
  SELECT bench_id, CAST(len(shingles) AS BIGINT) AS sz_bench FROM bsh
), dsh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(words) - {n - 1}, 1) + 1),
                          i -> concat_ws(' ', {parts})))) AS sh
  FROM w
), hits AS (
  SELECT d.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM dsh d JOIN bx b ON d.sh = b.sh
  GROUP BY d.doc_id, b.bench_id
)
SELECT h.doc_id, h.bench_id, h.n_common, s.sz_bench,
       ROUND(h.n_common / CAST(s.sz_bench AS DOUBLE), 6) AS overlap_frac
FROM hits h JOIN sizes s ON s.bench_id = h.bench_id
WHERE h.n_common / CAST(s.sz_bench AS DOUBLE) >= {DECONTAM_THRESHOLD}
"""


def _repetition_sql() -> str:
    """Mirrors textstats.repetition_metrics: same integer counts, same
    IEEE divisions (1.0 - d/t, mc/t), ROUND(...,6) both sides. NULL
    text -> NULL metrics via natural NULL propagation."""
    return """
WITH base AS (SELECT doc_id, text FROM documents),
l AS (
  SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
  FROM base
),
p AS (
  SELECT doc_id, list_filter(string_split(text, chr(10) || chr(10)), x -> x <> '') AS ps
  FROM base
),
w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '') AS ws
  FROM base
),
b AS (
  SELECT doc_id, list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bs
  FROM w
),
wmax AS (
  SELECT doc_id, MAX(c) AS mc FROM (
    SELECT doc_id, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(ws) AS x FROM w) GROUP BY doc_id, x
  ) GROUP BY doc_id
),
bmax AS (
  SELECT doc_id, MAX(c) AS mc FROM (
    SELECT doc_id, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(bs) AS x FROM b) GROUP BY doc_id, x
  ) GROUP BY doc_id
)
SELECT base.doc_id,
       CAST(len(l.ls) AS INT) AS n_lines,
       ROUND(CASE WHEN len(l.ls) = 0 THEN 0.0
             ELSE 1.0 - (len(list_distinct(l.ls)) * 1.0 / len(l.ls)) END, 6) AS dup_line_frac,
       CAST(len(p.ps) AS INT) AS n_paras,
       ROUND(CASE WHEN len(p.ps) = 0 THEN 0.0
             ELSE 1.0 - (len(list_distinct(p.ps)) * 1.0 / len(p.ps)) END, 6) AS dup_para_frac,
       ROUND(CASE WHEN len(w.ws) = 0 THEN 0.0
             ELSE wmax.mc * 1.0 / len(w.ws) END, 6) AS top_word_frac,
       ROUND(CASE WHEN len(b.bs) = 0 THEN 0.0
             ELSE bmax.mc * 1.0 / len(b.bs) END, 6) AS top_bigram_frac
FROM base
JOIN l ON l.doc_id = base.doc_id
JOIN p ON p.doc_id = base.doc_id
JOIN w ON w.doc_id = base.doc_id
JOIN b ON b.doc_id = base.doc_id
LEFT JOIN wmax ON wmax.doc_id = base.doc_id
LEFT JOIN bmax ON bmax.doc_id = base.doc_id
"""


def _sampling_union_sql() -> str:
    """Tagged union oracle for the three sampling/selection kinds
    (mirrors q_stratified_sample): md5-hash Bernoulli sample, mixture
    with up-sampling epochs, and the exact token-budget prefix
    selection (QUALIFY running-cumsum; engine runs the two-phase
    histogram equivalent — same kept set by the monotone-bucket
    argument in select_to_token_budget's docstring)."""
    from raptor_rag_spark.tokenizer import duckdb_token_count_expr

    h60 = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
    # the mixture draw is salted with 'mix|' (sample_mixture) so it is
    # independent of the bernoulli draw above when the ops compose
    h60_mix = (
        "CAST(concat('0x', substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        " AS BIGINT) % 100"
    )
    return f"""
WITH scored AS (
  SELECT doc_id,
         ROUND(CASE WHEN text IS NULL THEN 0.0 ELSE GREATEST(1.0
           - (CASE WHEN len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')) < 5 THEN 0.5 ELSE 0.0 END)
           - (CASE WHEN length(text) > 0 AND length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text) > 0.3 THEN 0.3 ELSE 0.0 END)
           - (CASE WHEN length(text) > 0 AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) > 0.2 THEN 0.2 ELSE 0.0 END)
           - (CASE WHEN length(text) = 0 OR length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) < 0.5 THEN 0.2 ELSE 0.0 END), 0.0) END, 6) AS quality_score,
         COALESCE({duckdb_token_count_expr('text')}, 0) AS toks
  FROM documents
), mix AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' THEN 250 ELSE 40 END AS rate,
         {h60_mix} AS h
  FROM documents
)
SELECT 'bernoulli' AS kind, doc_id, lang AS grp, CAST(0 AS BIGINT) AS n
FROM documents
WHERE {h60} < CASE WHEN lang = 'en' THEN 20 ELSE 50 END
UNION ALL
SELECT 'mixture' AS kind, doc_id, lang AS grp,
       CAST(unnest(range(rate // 100 + CASE WHEN h < rate % 100 THEN 1 ELSE 0 END)) AS BIGINT) AS n
FROM mix
UNION ALL
SELECT 'budget' AS kind, doc_id, '' AS grp, CAST(toks AS BIGINT) AS n
FROM scored
QUALIFY SUM(toks) OVER (ORDER BY quality_score DESC, doc_id ASC ROWS UNBOUNDED PRECEDING)
        <= (SELECT SUM(toks) * 2 // 5 FROM scored)
"""


def _top_terms_sql(k: int = 5) -> str:
    from raptor_rag_spark.tokenizer import TOKEN_PATTERN

    return f"""
WITH t AS (
  SELECT lang AS stratum, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
  FROM documents
), tf AS (
  SELECT stratum, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY stratum, term
), r AS (
  SELECT stratum, term, tf,
         CAST(ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY tf DESC, term ASC) AS INT) AS rnk
  FROM tf
)
SELECT stratum, term, tf, rnk FROM r WHERE rnk <= {k}
"""


def _simhash_ctes(bits: int = 48) -> str:
    """CTE chain ending in sigs(doc_id, simhash) — shared by the
    simhash_sig and simhash_pairs oracles."""
    from raptor_rag_spark.tokenizer import TOKEN_PATTERN

    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(bits)
    )
    packed = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return f"""t AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t
), acc AS (
  SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
), packed AS (
  SELECT doc_id, {packed} AS s FROM acc
), sigs AS (
  SELECT d.doc_id, CAST(COALESCE(p.s, 0) AS BIGINT) AS simhash
  FROM documents d LEFT JOIN packed p ON d.doc_id = p.doc_id
)"""


def _simhash_union_sql(
    bits: int = 48, blocks: int = 4, max_hamming: int = 3, max_block_df: int = 1000
) -> str:
    """Mirrors the merged q_simhash: kind='sig' rows straight from the
    shared sig CTE; kind='pair' rows via dedup.simhash_pairs_jvm's
    block-pigeonhole candidates (hot buckets capped) + exact popcount
    verify."""
    width = bits // blocks
    mask = (1 << width) - 1
    vals = ", ".join(f"({bi})" for bi in range(blocks))
    return f"""
WITH {_simhash_ctes(bits)},
blocked AS (
  SELECT doc_id, simhash, b.bi AS block_idx,
         (simhash >> (b.bi * {width})) & {mask} AS block_val
  FROM sigs, (VALUES {vals}) b(bi)
), capped AS (
  SELECT doc_id, simhash, block_idx, block_val FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY block_idx, block_val) AS c FROM blocked
  ) WHERE c <= {max_block_df}
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.simhash AS sa, r.simhash AS sb
  FROM capped l JOIN capped r
    ON l.block_idx = r.block_idx AND l.block_val = r.block_val
   AND l.doc_id < r.doc_id
)
SELECT 'sig' AS kind, doc_id AS id_a, CAST(-1 AS BIGINT) AS id_b, simhash AS val
FROM sigs
UNION ALL
SELECT 'pair' AS kind, id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS val
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


def _dedup_clusters_sql(window: int = 8) -> str:
    """Mirrors q_dedup_clusters: blocking keys (norm-text md5 +
    winnowing fingerprint) -> star edges per key -> transitive closure
    (recursive CTE; min reachable id = the component minimum, exactly
    what large-star/small-star converges to)."""
    parts = ", ".join(f"words[i+{j}]" for j in range(window))
    return f"""
WITH RECURSIVE w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '') AS words
  FROM documents
), fp AS (
  SELECT doc_id,
         CAST(CASE WHEN len(words) = 0 THEN 0 ELSE
           list_min(list_transform(range(1, greatest(len(words) - {window - 1}, 1) + 1),
             i -> CAST(concat('0x', substr(md5(concat_ws(' ', {parts})), 1, 15)) AS BIGINT)))
         END AS BIGINT) AS fingerprint
  FROM w
), keys AS (
  -- || (NULL-propagating), NOT concat(): DuckDB concat() SKIPS NULL
  -- arguments, so a NULL-text doc would get key 'T:' here while the
  -- engine's F.concat yields NULL (filtered below) — they must agree
  SELECT doc_id, 'T:' || md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS k
  FROM documents
  UNION ALL
  SELECT doc_id, 'F:' || CAST(fingerprint AS VARCHAR) AS k FROM fp
), e0 AS (
  SELECT doc_id AS src, MIN(doc_id) OVER (PARTITION BY k) AS dst
  FROM keys WHERE k IS NOT NULL
), edges AS (
  SELECT src, dst FROM e0 WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM e0 WHERE src <> dst
), reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id FROM reach GROUP BY id
"""


# ---------------------- pinned golden VALUES oracles ----------------
# For kernels that are not SQL-expressible (stateful chunking,
# hash-embedder retrieval, multimodal fake decode, engine HLL) the
# engine output at a given sf dir is a deterministic constant (seeded
# projection, hash embedder, pinned tie-breaks) — generated ONCE by
# tools/gen_pinned_oracles.py, re-emitted here as a typed VALUES table
# guarded by the sf's document count. This upgrades those queries from
# the driver's rows-only check to the full hash compare; regenerate
# only on an intentional semantic change.

_DUCK_TYPES = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
}


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def pinned_oracle_map() -> dict[str, str]:
    import json

    path = os.path.join(os.path.dirname(__file__), "pinned_oracles.json")
    if not os.path.exists(path):  # pre-generation: stay rows-only
        return {}
    with open(path) as fh:
        pinned = json.load(fh)
    out: dict[str, str] = {}
    for name, e in pinned.items():
        cols = e["columns"]
        col_list = ", ".join(f"c{i}" for i in range(len(cols)))
        sel = ", ".join(
            f"CAST(c{i} AS {_DUCK_TYPES[t]}) AS {cname}"
            for i, (cname, t) in enumerate(cols)
        )
        branches = []
        for br in e["branches"]:
            if not br["rows"]:
                continue
            vals = ",\n".join(
                "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in br["rows"]
            )
            guard = (
                ""
                if e["sf_independent"]
                else f"\nWHERE (SELECT COUNT(*) FROM events) = {br['n_events']}"
            )
            branches.append(
                f"SELECT {sel} FROM (VALUES\n{vals}) t({col_list}){guard}"
            )
        if branches:
            out[name] = "\nUNION ALL\n".join(branches)
    return out


def oracle_sql_map() -> dict[str, str]:
    g2 = _grid_sql("x", 2)
    tile_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, {r} AS resolution, {_quadkey_sql('ix', 'iy', r)} AS cell_id "
        f"FROM (SELECT vec_id, {_grid_sql('x', r)} AS ix, {_grid_sql('y', r)} AS iy FROM xy)"
        for r in range(4)
    )
    tile_union_lbl = "\nUNION ALL\n".join(
        f"SELECT vec_id, label, {r} AS resolution, {_quadkey_sql('ix', 'iy', r)} AS cell_id "
        f"FROM (SELECT vec_id, label, {_grid_sql('x', r)} AS ix, {_grid_sql('y', r)} AS iy FROM xy)"
        for r in range(4)
    )

    m = {
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "topk": """
SELECT 'group' AS kind, event_type AS gkey, CAST(event_id AS BIGINT) AS id_a,
       CAST(rnk AS BIGINT) AS id_b, ROUND(value, 2) AS val
FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rnk
  FROM events
) WHERE rnk <= 3
UNION ALL
SELECT 'global' AS kind, '' AS gkey, CAST(l_orderkey AS BIGINT) AS id_a,
       CAST(l_linenumber AS BIGINT) AS id_b, val
FROM (
  SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS val
  FROM lineitem
  ORDER BY val DESC, l_orderkey, l_linenumber
  LIMIT 20
)
""",
        "running_budget": """
SELECT user_id, event_id, ROUND(cum_value, 2) AS cum_value
FROM (
  SELECT user_id, event_id,
         SUM(value) OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_value
  FROM events
) WHERE cum_value <= 500.0
""",
        "tumbling_window": """
SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS win_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""",
        "sessionize": SESSION_SQL_DUCK,
        "doc_stats": f"""
SELECT 'doc' AS kind, doc_id, CAST(NULL AS VARCHAR) AS sentence,
       CAST({duckdb_token_count_expr('text')} AS INT) AS n_tokens,
       CAST(len(list_filter(string_split_regex(text, '\\.|!|\\?|\\n'), s -> trim(s) <> '')) AS INT) AS n_sentences
FROM documents
UNION ALL
SELECT 'sentence' AS kind, doc_id, sentence,
       CAST({duckdb_token_count_expr('sentence')} AS INT) AS n_tokens,
       CAST(NULL AS INT) AS n_sentences
FROM (
  SELECT doc_id, unnest(string_split_regex(text, '\\.|!|\\?|\\n')) AS sentence
  FROM documents
) WHERE trim(sentence) <> ''
""",
        "c4_filters": """
WITH d AS (
  SELECT doc_id,
         regexp_replace(text, '((\\S+ ){5}\\S+) ', '\\1.' || chr(10), 'g')
         || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'this padded line has lorem ipsum inside it.' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'this line carries a { brace marker here.' ELSE '' END AS text
  FROM documents
), k AS (
  SELECT doc_id, text,
         COALESCE(len(string_split(text, chr(10))), 0) AS n_lines,
         list_filter(string_split(text, chr(10)),
           x -> regexp_matches(x, '[.!?"]\\s*$')
            AND len(list_filter(string_split_regex(x, '\\s+'), w -> w <> '')) >= 5
         ) AS kept_lines
  FROM d
), f AS (
  SELECT doc_id, text, n_lines,
         COALESCE(len(kept_lines), 0) AS n_kept, kept_lines,
         COALESCE(len(kept_lines) >= 3
           AND NOT contains(lower(text), 'lorem ipsum')
           AND NOT contains(text, '{'), FALSE) AS kept
  FROM k
)
SELECT doc_id, CAST(n_lines AS INT) AS n_lines, CAST(n_kept AS INT) AS n_kept, kept,
       CASE WHEN kept THEN md5(array_to_string(kept_lines, chr(10))) END AS text_md5
FROM f
""",
        "dedup_exact": """
SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups
FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS norm FROM documents)
GROUP BY norm
""",
        "quality": f"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')) AS n_words,
         {duckdb_token_count_expr('text')} AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces
  FROM documents
), m AS (
  SELECT doc_id, (text IS NULL) AS is_null_text, n_chars, n_words, n_tokens,
         CASE WHEN n_words > 0 THEN (n_chars - spaces) * 1.0 / n_words ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_chars > 0 THEN alpha * 1.0 / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_chars > 0 THEN digits * 1.0 / n_chars ELSE 0.0 END AS digit_ratio,
         CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars ELSE 0.0 END AS punct_ratio
  FROM base
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS INT) AS n_chars, CAST(n_words AS INT) AS n_words,
       CAST(n_tokens AS INT) AS n_tokens,
       ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(alpha_ratio, 6) AS alpha_ratio,
       ROUND(digit_ratio, 6) AS digit_ratio,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(CASE WHEN is_null_text THEN 0.0 ELSE GREATEST(1.0
         - (CASE WHEN n_words < 5 THEN 0.5 ELSE 0.0 END)
         - (CASE WHEN digit_ratio > 0.3 THEN 0.3 ELSE 0.0 END)
         - (CASE WHEN punct_ratio > 0.2 THEN 0.2 ELSE 0.0 END)
         - (CASE WHEN alpha_ratio < 0.5 THEN 0.2 ELSE 0.0 END), 0.0) END, 6) AS quality_score
FROM m
""",
        "lang_id": _lang_id_sql(),
        "fingerprint": _fingerprint_sql(),
        "simhash": _simhash_union_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "stratified_sample": _sampling_union_sql(),
        "top_terms": _top_terms_sql(),
        "minhash": _minhash_union_sql(),
        "pii": _pii_sql(),
        "lm_score": _lm_score_sql(),
        "para_dedup": _para_dedup_sql(),
        "tile_assign": f"WITH {XY_CTE}\n{tile_union}",
        "tile_soft": f"""
WITH {XY_CTE},
g AS (
  SELECT vec_id, x, y, {_grid_sql('x', 3)} AS ix, {_grid_sql('y', 3)} AS iy FROM xy
),
f AS (
  SELECT vec_id, ix, iy,
         (x + 1.0) / 2.0 * 16.0 - ix AS fx,
         (y + 1.0) / 2.0 * 16.0 - iy AS fy
  FROM g
),
offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
kept AS (
  SELECT vec_id, ix + dx AS ix, iy + dy AS iy, (dx <> 0 OR dy <> 0) AS is_soft
  FROM f, offs
  WHERE (dx = 0 OR (dx = -1 AND fx < 0.15 AND ix > 0) OR (dx = 1 AND fx > (1.0 - 0.15) AND ix < 15))
    AND (dy = 0 OR (dy = -1 AND fy < 0.15 AND iy > 0) OR (dy = 1 AND fy > (1.0 - 0.15) AND iy < 15))
)
SELECT vec_id, {_quadkey_sql('ix', 'iy', 3)} AS cell_id, is_soft FROM kept
""",
        "cell_rollup": f"""
WITH {XY_CTE},
t AS ({tile_union_lbl})
SELECT resolution, cell_id, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
       ROUND(AVG(label), 6) AS avg_label
FROM t GROUP BY resolution, cell_id
""",
        "density_raster": f"""
WITH {XY_CTE}
SELECT CAST(FLOOR(x / 0.125) AS INT) AS gx, CAST(FLOOR(y / 0.125) AS INT) AS gy,
       CAST(COUNT(*) AS BIGINT) AS n
FROM xy GROUP BY 1, 2
""",
        "knn_brute": f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS node_id,
         ROUND(1.0 - list_dot_product(q.qe, e.embedding::DOUBLE[]), 6) + 0.0 AS dist
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, node_id, dist,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, node_id ASC) AS rank
  FROM scored
)
SELECT 'topk' AS kind, query_id, node_id, CAST(rank AS INT) AS rank, dist
FROM ranked WHERE rank <= {K}
UNION ALL
SELECT 'threshold' AS kind, query_id, node_id, CAST(rank AS INT) AS rank, dist
FROM ranked WHERE rank <= 20 AND dist > 0.55
""",
        "knn_tiled": f"""
WITH {XY_CTE},
pts AS (SELECT vec_id, x, y, {g2} AS ix, {_grid_sql('y', 2)} AS iy FROM xy),
nodes AS (SELECT p.vec_id AS node_id, e.embedding::DOUBLE[] AS emb, p.ix, p.iy
          FROM pts p JOIN embeddings e ON e.vec_id = p.vec_id),
q AS (SELECT p.vec_id AS query_id, e.embedding::DOUBLE[] AS qe, p.ix, p.iy
      FROM pts p JOIN embeddings e ON e.vec_id = p.vec_id WHERE p.vec_id < {N_QUERIES}),
cand AS (
  SELECT q.query_id, n.node_id,
         ROUND(1.0 - list_dot_product(q.qe, n.emb), 6) + 0.0 AS dist
  FROM q JOIN nodes n
    ON abs(q.ix - n.ix) <= 1 AND abs(q.iy - n.iy) <= 1
), ranked AS (
  SELECT query_id, node_id, dist,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, node_id ASC) AS rank
  FROM cand
)
SELECT query_id, node_id, CAST(rank AS INT) AS rank, dist
FROM ranked WHERE rank <= {K}
""",
        "pip": f"""
WITH {XY_CTE},
p AS (SELECT vec_id, {_pip_sql('x', 'y')} AS inside FROM xy)
SELECT 'exact' AS method, vec_id, inside FROM p
UNION ALL
SELECT 'tiled' AS method, vec_id, inside FROM p
""",
        "rollup_cube": """
SELECT 'rollup_qty' AS grouping_kind, l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_val, CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube_price' AS grouping_kind, l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice), 2) AS sum_val, CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
        "join_agg": """
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
""",
        "text_normalize": """
SELECT doc_id,
       CASE WHEN NOT regexp_matches(text, '^(query:|passage:)')
            THEN 'query: ' || text ELSE text END AS prefixed,
       regexp_replace(text, '\\n', ' ', 'g') AS no_newlines,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '\\r\\n', chr(10), 'g'),
           '[\\n\\r\\x0B\\f\\x1C-\\x1E\\x{0085}\\x{2028}\\x{2029}]$', ''),
         '[\\n\\r\\x0B\\f\\x1C-\\x1E\\x{0085}\\x{2028}\\x{2029}]', ' ', 'g') AS flattened
FROM documents
""",
        "embed_norm": """
SELECT doc_id, CAST(64 AS INT) AS dim, 1.0 AS norm FROM documents
""",
        "raster_vectorize": f"""
WITH {XY_CTE},
r AS (
  SELECT CAST(FLOOR(x / 0.125) AS INT) AS gx, CAST(FLOOR(y / 0.125) AS INT) AS gy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM xy GROUP BY 1, 2
)
SELECT gx, gy, n,
       ROUND((gx * 0.125 + (gx * 0.125 + 0.125)) / 2, 6) AS cx,
       ROUND((gy * 0.125 + (gy * 0.125 + 0.125)) / 2, 6) AS cy,
       CAST(4 AS INT) AS n_vertices
FROM r
""",
        "range_join": f"""
WITH {XY_CTE}
SELECT q.vec_id AS query_id, n.vec_id AS node_id,
       ROUND(sqrt((q.x - n.x) * (q.x - n.x) + (q.y - n.y) * (q.y - n.y)), 6) + 0.0 AS dist_xy
FROM xy q JOIN xy n
  ON (q.x - n.x) * (q.x - n.x) + (q.y - n.y) * (q.y - n.y) <= 0.12 * 0.12
WHERE q.vec_id < {N_QUERIES}
""",
        "catalog_snapshots": """
SELECT CAST(1 AS INT) AS snapshot_id,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows
FROM documents
UNION ALL
SELECT CAST(2 AS INT), CAST(COUNT(*) AS BIGINT) FROM documents
""",
        "pages_month": """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pages, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE year(TIMESTAMP '2024-01-01 00:00:00' + ((doc_id % 400) * INTERVAL 1 DAY)) = 2024
  AND month(TIMESTAMP '2024-01-01 00:00:00' + ((doc_id % 400) * INTERVAL 1 DAY)) = 3
GROUP BY lang
""",
        "salted_rollup": """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
FROM documents GROUP BY lang
""",
        "percentiles": """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.95), 4) AS p95,
       ROUND(quantile_cont(value, 0.99), 4) AS p99,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
        "set_ops": """
WITH signup AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'),
error AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
SELECT 'both' AS kind, user_id AS key, CAST(1 AS BIGINT) AS n
FROM (SELECT user_id FROM signup INTERSECT SELECT user_id FROM error)
UNION ALL
SELECT 'signup_only' AS kind, user_id AS key, CAST(1 AS BIGINT) AS n
FROM (SELECT user_id FROM signup EXCEPT SELECT user_id FROM error)
UNION ALL
SELECT 'no_orders_nation' AS kind, CAST(c_nationkey AS BIGINT) AS key,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey
UNION ALL
SELECT 'latest_per_user' AS kind, CAST(user_id AS BIGINT) AS key,
       CAST(event_id AS BIGINT) AS n
FROM (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
""",
        "asof_join": """
WITH signup AS (
  SELECT event_id AS signup_id, user_id, ts AS s_ts FROM events WHERE event_type = 'signup'
), click AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'
), j AS (
  SELECT s.signup_id, s.user_id, c.click_id,
         ROW_NUMBER() OVER (PARTITION BY s.signup_id ORDER BY c.c_ts DESC, c.click_id DESC) AS rn
  FROM signup s JOIN click c ON s.user_id = c.user_id AND c.c_ts <= s.s_ts
)
SELECT signup_id, user_id, click_id FROM j WHERE rn = 1
""",
        "ngram_jaccard": f"""
WITH w AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS words
  FROM documents
), sh0 AS (
  SELECT id, unnest(list_distinct(
           list_transform(range(1, greatest(len(words) - 2, 1) + 1),
                          i -> concat_ws(' ', words[i], words[i+1], words[i+2])))) AS sh
  FROM w
), sh AS (
  -- mirror of the engine's max_df stopword-shingle cap
  SELECT id, sh FROM sh0
  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= {DEDUP_MAX_DF})
), sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, n_common,
       ROUND(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.3
""",
        "decontam": _decontam_sql(),
        "repetition": _repetition_sql(),
        "embedding_neardup": f"""
WITH {XY_CTE},
g AS (
  SELECT vec_id, x, y, {_grid_sql('x', 3)} AS ix, {_grid_sql('y', 3)} AS iy FROM xy
),
f AS (
  SELECT vec_id, ix, iy,
         (x + 1.0) / 2.0 * 16.0 - ix AS fx,
         (y + 1.0) / 2.0 * 16.0 - iy AS fy
  FROM g
),
offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
cells AS (
  SELECT vec_id, (ix + dx) * 16 + (iy + dy) AS cell
  FROM f, offs
  WHERE (dx = 0 OR (dx = -1 AND fx < 0.15 AND ix > 0) OR (dx = 1 AND fx > (1.0 - 0.15) AND ix < 15))
    AND (dy = 0 OR (dy = -1 AND fy < 0.15 AND iy > 0) OR (dy = 1 AND fy > (1.0 - 0.15) AND iy < 15))
),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT 'exact' AS kind, a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.35
UNION ALL
SELECT 'tiled' AS kind, id_a, id_b,
       ROUND(list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm), 6) AS cosine
FROM pairs JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
WHERE list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm) >= 0.35
""",
    }
    m.update(pinned_oracle_map())
    return m
