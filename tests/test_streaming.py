"""Incremental / Structured Streaming ingestion."""

import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.datagen import synthetic_pages
from raptor_rag_spark.streaming import (
    incremental_level0,
    read_stream_level0,
    stream_pages,
)


def test_incremental_level0_batch(spark):
    pages = synthetic_pages(spark, n=32, seed=5)
    nodes = incremental_level0(pages, dim=32)
    rows = nodes.collect()
    assert rows
    cols = set(nodes.columns)
    assert {"node_id", "text", "n_tokens", "embedding", "x", "y"} <= cols
    assert all(abs(sum(v * v for v in r["embedding"]) - 1.0) < 1e-5 for r in rows)


def test_incremental_level0_repeated_url_keeps_each_pages_leaves(spark):
    """A url that repeats in a batch (a recrawl under a new page_id,
    here with another page's content) gives each page its own leaves:
    distinct node ids, and the leaves of the batch are those of its
    pages taken one by one."""
    pages = synthetic_pages(spark, n=6, seed=5).localCheckpoint(eager=True)
    p0 = pages.filter("page_id = 0").select("url").first()["url"]
    again = pages.filter("page_id = 1").select(
        F.lit(100).cast("long").alias("page_id"), F.lit(p0).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    batch = pages.unionByName(again)

    def leaves(df):
        return [(r["node_id"], r["text"]) for r in incremental_level0(df, dim=32).collect()]

    got = leaves(batch)
    assert len({nid for nid, _ in got}) == len(got)
    ids = [r["page_id"] for r in batch.select("page_id").collect()]
    want = [leaf for pid in ids for leaf in leaves(batch.filter(F.col("page_id") == pid))]
    assert sorted(got) == sorted(want)


def test_stream_pages_available_now(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src"))
    chk = str(tmp_path_factory.mktemp("stream_chk"))
    out = str(tmp_path_factory.mktemp("stream_out"))
    synthetic_pages(spark, n=24, seed=6).write.mode("overwrite").parquet(src)

    q = stream_pages(spark, src, chk, out)
    q.awaitTermination(120)
    got = read_stream_level0(spark, out)
    n1 = got.count()
    assert n1 > 0
    assert got.select(F.min(F.size("embedding"))).first()[0] == 64

    # append a second batch of pages -> only the new rows are processed
    synthetic_pages(spark, n=12, seed=7).withColumn(
        "page_id", F.col("page_id") + 1000
    ).write.mode("append").parquet(src)
    q2 = stream_pages(spark, src, chk, out)
    q2.awaitTermination(120)
    n2 = read_stream_level0(spark, out).count()
    assert n2 > n1


def test_stateful_sessionize_across_microbatches(spark, tmp_path_factory):
    """applyInPandasWithState sessionization: a session spanning two
    micro-batches keeps ONE session index (per-batch windows cannot do
    this), and the full streamed assignment equals the batch gap-window
    computation over the same events."""
    import datetime as dt

    from raptor_rag_spark.streaming.stateful import sessionize_stream

    src = str(tmp_path_factory.mktemp("sess_src"))
    chk = str(tmp_path_factory.mktemp("sess_chk"))

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rows(specs):
        return [
            (uid, eid, t0 + dt.timedelta(seconds=off)) for uid, eid, off in specs
        ]

    schema = "user_id long, event_id long, ts timestamp"
    # batch 1: user 1 two events 10 min apart (one session, still open);
    # user 2 one event
    spark.createDataFrame(
        rows([(1, 1, 0), (1, 2, 600), (2, 10, 0)]), schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    # batch 2 (separate file): user 1 event 10 min after batch 1 (SAME
    # session across the batch boundary) then one 2 h later (new
    # session); user 2 event 3 h later (new session)
    spark.createDataFrame(
        rows([(1, 3, 1200), (1, 4, 1200 + 7200), (2, 11, 10800)]), schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_sec=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert len(got) == 6
    # user 1: events 1,2,3 one session (3 crosses the micro-batch
    # boundary), event 4 a new one
    assert got[(1, 1)] == got[(1, 2)] == got[(1, 3)]
    assert got[(1, 4)] == got[(1, 1)] + 1
    # user 2: second event past the gap -> new session
    assert got[(2, 11)] == got[(2, 10)] + 1


def test_windowed_agg_with_watermark_drops_late_rows(spark, tmp_path_factory):
    """Structured Streaming event-time tumbling window + watermark:
    the watermark persists in the checkpoint across availableNow runs,
    finalized windows are emitted (append mode, file sink) once the
    watermark passes their end, and a row arriving behind the watermark
    is DROPPED. Three runs — file order inside one run is not
    guaranteed, so each phase is its own run: (1) two windows of
    events, (2) an event far ahead that advances the watermark,
    (3) a late row for the first window."""
    import datetime as dt

    src = str(tmp_path_factory.mktemp("wm_src"))
    chk = str(tmp_path_factory.mktemp("wm_chk"))
    out = str(tmp_path_factory.mktemp("wm_out"))
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, value double"

    def rows(specs):
        return [(eid, t0 + dt.timedelta(seconds=off), v) for eid, off, v in specs]

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "2 minutes")
            .groupBy(F.window("ts", "1 minute").alias("win"))
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .select(F.col("win.start").cast("long").alias("ws"), "n", "s")
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["ws"]: (r["n"], r["s"]) for r in spark.read.parquet(out).collect()
        }

    spark.createDataFrame(
        rows([(1, 0, 1.0), (2, 30, 2.0), (3, 90, 3.0)]), schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    out1 = run()
    assert out1 == {}  # nothing finalized yet (watermark lags a batch)

    spark.createDataFrame(rows([(4, 3600, 4.0)]), schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()  # advances the persisted watermark past both windows

    spark.createDataFrame(rows([(5, 10, 99.0)]), schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = run()

    import calendar

    w0 = calendar.timegm(t0.timetuple())
    # both early windows finalized WITHOUT the late row (eid 5 dropped)
    assert got[w0] == (2, 3.0), got
    assert got[w0 + 60] == (1, 3.0), got


def test_streamed_pages_feed_incremental_tree_update(spark, tmp_path_factory):
    """The full §2.10 ingest story end-to-end: pages arrive via
    Structured Streaming (stream_pages -> level-0 rows), then
    incremental_update folds them into an existing checkpointed tree —
    and the result equals a from-scratch build over the merged leaves."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree
    from raptor_rag_spark.streaming.incremental import incremental_update

    src = str(tmp_path_factory.mktemp("e2e_src"))
    chk = str(tmp_path_factory.mktemp("e2e_chk"))
    out = str(tmp_path_factory.mktemp("e2e_out"))
    base = str(tmp_path_factory.mktemp("e2e_tree"))
    base_all = str(tmp_path_factory.mktemp("e2e_tree_all"))

    initial = synthetic_pages(spark, n=48, seed=11)
    leaves0 = incremental_level0(initial)
    build_tree(spark, leaves0, base, DEFAULT_CONFIG, start_resolution=3)

    # 12 new pages arrive through the stream
    synthetic_pages(spark, n=12, seed=12).withColumn(
        "page_id", F.col("page_id") + 5000
    ).write.mode("overwrite").parquet(src)
    q = stream_pages(spark, src, chk, out)
    q.awaitTermination(120)
    new_leaves = read_stream_level0(spark, out)
    assert new_leaves.count() > 0

    got = incremental_update(spark, base, new_leaves, DEFAULT_CONFIG)

    # from-scratch oracle over the merged leaves
    want = build_tree(
        spark, leaves0.unionByName(new_leaves), base_all, DEFAULT_CONFIG,
        start_resolution=3, resume=False,
    )
    cols = ["node_id", "layer", "cell_id", "text", "n_tokens"]
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.select(*cols).collect())
    assert g == w


def test_manifest_rows_match_storage_after_incremental_update(
    spark, tmp_path_factory
):
    """Regression (round 6): after an incremental update, EVERY level's
    manifest row count must equal what is actually on storage. The old
    arithmetic manifest update read partition keys through a Spark scan
    whose partition-column type inference stripped leading zeros from
    quadkey prefixes ('01230' -> 1230), so replaced entries were never
    popped and manifests drifted ABOVE storage (observed +2 rows/level
    at sf0.01) — silently inflating every recompute-fraction
    denominator. The footer-walk counts key by the literal dir name."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import (
        _level_path,
        _manifest_path,
        build_tree,
        read_manifest,
    )
    from raptor_rag_spark.streaming.incremental import incremental_update

    import os

    base = str(tmp_path_factory.mktemp("mani_tree"))
    pages = synthetic_pages(spark, n=48, seed=21)
    leaves0 = incremental_level0(pages)
    build_tree(spark, leaves0, base, DEFAULT_CONFIG, start_resolution=3)

    delta = incremental_level0(
        synthetic_pages(spark, n=8, seed=22).withColumn(
            "page_id", F.col("page_id") + 7000
        )
    )
    incremental_update(spark, base, delta, DEFAULT_CONFIG)

    lvl = 0
    while os.path.exists(_manifest_path(base, lvl)):
        m = read_manifest(base, lvl)
        actual = spark.read.parquet(_level_path(base, lvl)).count()
        assert m["rows"] == actual, (
            f"level {lvl}: manifest says {m['rows']} rows, storage has {actual}"
        )
        # per-partition counts + append-ledger rows must add up to the
        # total (appends extend "rows" without touching "partitions")
        appended = sum(int(a["rows"]) for a in m.get("appends", []))
        assert sum(m["partitions"].values()) + appended == m["rows"]
        lvl += 1


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path_factory):
    """Streaming exact dedup: a url recrawled within the watermark is
    dropped (state-bounded dropDuplicatesWithinWatermark), across
    micro-batch boundaries."""
    import datetime as dt

    from raptor_rag_spark.streaming.incremental import dedup_stream

    root = tmp_path_factory.mktemp("sdedup")
    in_dir, out_dir, ck = str(root / "in"), str(root / "out"), str(root / "ck")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows1 = [("http://a/1", base, "x"), ("http://a/2", base, "y")]
    rows2 = [("http://a/2", base + dt.timedelta(minutes=5), "y2"),
             ("http://a/3", base + dt.timedelta(minutes=5), "z")]
    schema = "url string, warc_ts timestamp, text string"
    spark.createDataFrame(rows1, schema).write.parquet(f"{in_dir}/b1")
    spark.createDataFrame(rows2, schema).write.parquet(f"{in_dir}/b2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/*")
    )
    q = (
        dedup_stream(stream, key_cols=("url",), watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    urls = sorted(r["url"] for r in got.select("url").collect())
    assert urls == ["http://a/1", "http://a/2", "http://a/3"]

    # batch equivalence (the COVERAGE.md exemption's backing claim):
    # within the watermark window the streaming dedup keeps exactly the
    # first row per key — identical to the batch first-per-key window
    from pyspark.sql import Window

    batch = spark.createDataFrame(rows1 + rows2, schema)
    w = Window.partitionBy("url").orderBy("warc_ts")
    want = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("url", "warc_ts", "text")
    )
    assert sorted(map(tuple, got.select("url", "warc_ts", "text").collect())) == sorted(
        map(tuple, want.collect())
    )


def test_append_level_idempotent_under_retry(spark, tmp_path_factory):
    """Crash-safety of the level-0 ingest append (round-3 advice):
    (a) a retry with the same append_id after a SUCCESSFUL commit is a
    no-op; (b) a retry after a crash between the data rename and the
    manifest commit scrubs the orphaned part files and applies exactly
    once — no duplicate node_id rows in either case."""
    import glob
    import json
    import os

    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import (
        _level_path,
        _manifest_path,
        build_tree,
        read_manifest,
    )
    from raptor_rag_spark.streaming.incremental import append_level

    base = str(tmp_path_factory.mktemp("append_retry_tree"))
    leaves0 = incremental_level0(synthetic_pages(spark, n=24, seed=21))
    build_tree(spark, leaves0, base, DEFAULT_CONFIG, start_resolution=3)
    rows0 = int(read_manifest(base, 0)["rows"])

    delta = incremental_level0(
        synthetic_pages(spark, n=6, seed=22).withColumn(
            "page_id", F.col("page_id") + 9000
        )
    ).withColumn("layer", F.lit(0)).withColumn(
        "cell_id", F.lit(None).cast("string")
    ).withColumn("children", F.array().cast("array<long>")).select(
        "node_id", "layer", "cell_id", "text", "children", "n_tokens",
        "embedding", "x", "y",
    ).localCheckpoint(eager=True)
    n_delta = delta.count()

    # (a) successful apply, then an identical retry
    m1 = append_level(delta, base, 0, {"input": "t"}, append_id="batch-1")
    m2 = append_level(delta, base, 0, {"input": "t"}, append_id="batch-1")
    assert m1["rows"] == m2["rows"] == rows0 + n_delta
    lvl = spark.read.parquet(_level_path(base, 0))
    assert lvl.count() == rows0 + n_delta
    assert lvl.select("node_id").distinct().count() == rows0 + n_delta

    # (b) simulate a crash AFTER the part-file renames but BEFORE the
    # manifest commit: roll the manifest back by hand, leaving the
    # batch-2 part files orphaned in the level dir
    append_level(delta.withColumn("node_id", F.col("node_id") + 10_000_000),
                 base, 0, {"input": "t"}, append_id="batch-2")
    m = read_manifest(base, 0)
    m["rows"] -= n_delta
    m["appends"] = [a for a in m["appends"] if a.get("id") != "batch-2"]
    with open(_manifest_path(base, 0), "w") as fh:
        json.dump(m, fh)
    orphans = glob.glob(os.path.join(_level_path(base, 0), "part-inflight-batch-2-*"))
    assert orphans  # the crash left visible rows the manifest undercounts
    m3 = append_level(delta.withColumn("node_id", F.col("node_id") + 10_000_000),
                      base, 0, {"input": "t"}, append_id="batch-2")
    assert m3["rows"] == rows0 + 2 * n_delta
    lvl = spark.read.parquet(_level_path(base, 0))
    assert lvl.count() == rows0 + 2 * n_delta
    assert lvl.select("node_id").distinct().count() == rows0 + 2 * n_delta


def test_streamed_pages_feed_ann_index_append(spark, tmp_path_factory):
    """Crawl-scale ingest story for the ANN index: pages arrive via
    Structured Streaming (stream_pages -> level-0 node rows), then
    TileAnnIndex.append folds them in — equal to an index rebuilt from
    scratch over the merged corpus (the FAISS-add analog, without the
    reference's full rebuild)."""
    from raptor_rag_spark.operators.similarity import TileAnnIndex

    src = str(tmp_path_factory.mktemp("ann_src"))
    chk = str(tmp_path_factory.mktemp("ann_chk"))
    out = str(tmp_path_factory.mktemp("ann_out"))

    initial = incremental_level0(synthetic_pages(spark, n=40, seed=31)).select(
        "node_id", "embedding"
    ).localCheckpoint(eager=True)
    kw = dict(
        id_col="node_id", dim=64, seeds=(224,), base_resolution=2,
        max_occupancy=64, max_resolution=7,
    )
    idx = TileAnnIndex(initial, **kw)

    synthetic_pages(spark, n=10, seed=32).withColumn(
        "page_id", F.col("page_id") + 7000
    ).write.mode("overwrite").parquet(src)
    q = stream_pages(spark, src, chk, out)
    q.awaitTermination(120)
    streamed = spark.read.parquet(out).select("node_id", "embedding").localCheckpoint(
        eager=True
    )
    assert streamed.count() > 0
    idx.append(streamed)

    merged = initial.unionByName(streamed)
    full = TileAnnIndex(merged, **kw)
    a = sorted(map(tuple, idx.views[0][2].collect()))
    b = sorted(map(tuple, full.views[0][2].collect()))
    assert a == b
    queries = merged.limit(8).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["node_id"], r["rank"]) for r in df.collect()
    )
    assert key(idx.search(queries, k=5, ring=2)) == key(full.search(queries, k=5, ring=2))


def test_crawl_day_end_to_end(spark, tmp_path_factory):
    """The whole §2.10 ingest story in one pipeline: a day's crawl
    arrives via Structured Streaming WITH a planted recrawl duplicate →
    dedup_stream drops it inside the watermark → level-0 rows feed BOTH
    the tree (incremental_update, affected cells only) and the
    persisted ANN index (append_persisted, affected partitions only) →
    retrieval and index search both see the new content and agree with
    from-scratch rebuilds."""
    import datetime as dt

    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.similarity import TileAnnIndex
    from raptor_rag_spark.operators.tree import build_tree
    from raptor_rag_spark.streaming.incremental import dedup_stream, incremental_update

    root = tmp_path_factory.mktemp("crawlday")
    src, ck, out = str(root / "src"), str(root / "ck"), str(root / "out")
    tree_base, tree_all = str(root / "tree"), str(root / "tree_all")
    idx_path = str(root / "idx")

    # yesterday's corpus: tree + persisted ANN index
    initial_pages = synthetic_pages(spark, n=40, seed=51)
    leaves0 = incremental_level0(initial_pages).localCheckpoint(eager=True)
    build_tree(spark, leaves0, tree_base, DEFAULT_CONFIG, start_resolution=3)
    kw = dict(
        id_col="node_id", dim=64, seeds=(224,), base_resolution=2,
        max_occupancy=64, max_resolution=7,
    )
    TileAnnIndex(leaves0.select("node_id", "embedding"), **kw).save(idx_path)

    # today's crawl: 8 fresh pages + 1 recrawl of an existing url
    # + 1 FUZZY near-dup (new url, near-identical text) that the
    # exact-url watermark dedup cannot catch
    # seed 5200: datagen seeds rows by (seed + page_id), so seed 52
    # ids 0-7 would EQUAL seed-51 ids 1-8 (exact text copies the fuzzy
    # stage below would rightly drop); 5200 is outside 51+[0,40)
    fresh = (
        synthetic_pages(spark, n=8, seed=5200)
        .withColumn("page_id", F.col("page_id") + 8000)
        # datagen urls are /p/{pid} over zipf-skewed domains — fresh
        # pids 0-7 collide with initial urls often enough to die in the
        # left_anti below; re-key them unambiguously
        .withColumn("url", F.concat(F.lit("https://fresh.test/p/"), F.col("page_id")))
    )
    recrawl = initial_pages.limit(1).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 5 MINUTES")
    )
    neardup = initial_pages.limit(1).select(
        (F.col("page_id") + 9000).alias("page_id"),
        F.concat(F.col("url"), F.lit("?v=2")).alias("url"),
        "warc_ts",
        "html",
        F.concat(F.col("text"), F.lit(" tiny tail")).alias("text"),
        "lang",
    )
    batch = (
        fresh.unionByName(initial_pages.limit(1))
        .unionByName(recrawl)
        .unionByName(neardup)
    )
    batch.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        dedup_stream(stream, key_cols=("url",), watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    deduped = spark.read.parquet(out)
    # the recrawl was dropped; the url survives once; the fuzzy
    # near-dup sails through (different url)
    assert deduped.count() == 10
    new_pages = deduped.join(
        initial_pages.select("url"), "url", "left_anti"
    ).localCheckpoint(eager=True)
    assert new_pages.count() == 9

    # fuzzy stage: the persisted minhash store (built on yesterday's
    # corpus) drops the near-identical-text page the url dedup missed
    from raptor_rag_spark.operators.minhash_store import MinHashSignatureStore

    mh = MinHashSignatureStore.build(
        spark, initial_pages, str(root / "mh"),
        id_col="page_id", text_col="text", n_buckets=4,
    )
    new_pages = mh.ingest(new_pages, threshold=0.8).localCheckpoint(eager=True)
    assert new_pages.count() == 8
    assert new_pages.filter(F.col("page_id") >= 9000).count() == 0
    for _t in mh.meta["tables"].values():
        spark.sql(f"DROP TABLE IF EXISTS {_t}")

    new_leaves = incremental_level0(new_pages).localCheckpoint(eager=True)
    got_tree = incremental_update(spark, tree_base, new_leaves, DEFAULT_CONFIG)
    want_tree = build_tree(
        spark, leaves0.unionByName(new_leaves), tree_all, DEFAULT_CONFIG,
        start_resolution=3, resume=False,
    )
    cols = ["node_id", "layer", "cell_id", "text", "n_tokens"]
    assert sorted(map(tuple, got_tree.select(*cols).collect())) == sorted(
        map(tuple, want_tree.select(*cols).collect())
    )

    idx = TileAnnIndex.load(spark, idx_path)
    idx.append_persisted(idx_path, new_leaves.select("node_id", "embedding"))
    merged = leaves0.select("node_id", "embedding").unionByName(
        new_leaves.select("node_id", "embedding")
    )
    full = TileAnnIndex(merged, **kw)
    queries = new_leaves.limit(4).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["node_id"], r["rank"]) for r in df.collect()
    )
    got_k = key(idx.search(queries, k=5, ring=2))
    assert got_k == key(full.search(queries, k=5, ring=2))
    # new content is findable: each new-chunk query's rank-1 is itself
    assert {qid for qid, _, r in [(a, b, c) for a, b, c in got_k] if r == 1} == {
        r["query_id"] for r in queries.select("query_id").collect()
    }


def test_stream_sink_replayed_epoch_is_exactly_once(spark, tmp_path_factory):
    """foreachBatch is at-least-once: a crash between the sink write and
    the streaming checkpoint commit replays the micro-batch. The epoch-
    partitioned sink must absorb the replay (REPLACE its partition, not
    append a duplicate) — the exactly-once half of the ingest story."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.streaming.incremental import _epoch_sink

    out = str(tmp_path_factory.mktemp("epoch_sink_out"))
    sink = _epoch_sink(out, DEFAULT_CONFIG)
    batch = synthetic_pages(spark, n=10, seed=31)
    sink(batch, 0)
    first = sorted(
        map(tuple, read_stream_level0(spark, out).select("node_id").collect())
    )
    assert len(first) > 0
    sink(batch, 0)  # the replay
    replayed = sorted(
        map(tuple, read_stream_level0(spark, out).select("node_id").collect())
    )
    assert replayed == first
    # a genuinely new epoch still lands next to it
    sink(synthetic_pages(spark, n=5, seed=32).withColumn(
        "page_id", F.col("page_id") + 900
    ), 1)
    assert read_stream_level0(spark, out).count() > len(first)


def test_two_streams_one_store_do_not_clobber(spark, tmp_path_factory):
    """Epoch ids are only unique per streaming checkpoint: two streams
    (distinct checkpoint dirs) feeding one out_dir must not overwrite
    each other's epoch-0 partitions — the sink namespaces the partition
    key by checkpoint."""
    src1 = str(tmp_path_factory.mktemp("ns_src1"))
    src2 = str(tmp_path_factory.mktemp("ns_src2"))
    out = str(tmp_path_factory.mktemp("ns_out"))
    synthetic_pages(spark, n=8, seed=41).write.mode("overwrite").parquet(src1)
    synthetic_pages(spark, n=6, seed=42).withColumn(
        "page_id", F.col("page_id") + 7000
    ).write.mode("overwrite").parquet(src2)
    q1 = stream_pages(spark, src1, str(tmp_path_factory.mktemp("ns_chk1")), out)
    q1.awaitTermination(120)
    n1 = read_stream_level0(spark, out).count()
    q2 = stream_pages(spark, src2, str(tmp_path_factory.mktemp("ns_chk2")), out)
    q2.awaitTermination(120)
    n2 = read_stream_level0(spark, out).count()
    assert n1 > 0
    assert n2 > n1  # stream 2's epoch 0 landed NEXT TO stream 1's


def test_stream_composes_scrub_and_quality(spark, tmp_path_factory):
    """The webtext map-only ops (PII scrub, quality metrics columns,
    lang-id) compose directly into a streaming ingest: readStream ->
    scrub_pii -> quality/lang columns -> sink, across micro-batches —
    no stateful operator involved, so the plan stays watermark-free
    and per-batch map-only (the 100 TB ingest shape: scrub at first
    touch, before anything persists)."""
    from pyspark.sql import functions as F

    from raptor_rag_spark.operators.pii import scrub_pii
    from raptor_rag_spark.operators.textstats import lang_id

    root = tmp_path_factory.mktemp("scompose")
    in_dir, out_dir, ck = str(root / "in"), str(root / "out"), str(root / "ck")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "the cat and the dog went to the market for a mail a@b.io")], schema
    ).write.parquet(f"{in_dir}/b1")
    spark.createDataFrame(
        [(2, "der und die das ist nicht ein ip 10.0.0.1 mit auf zu")], schema
    ).write.parquet(f"{in_dir}/b2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/*")
    )
    cleaned = scrub_pii(stream).withColumn("lang", lang_id(F.col("text")))
    q = (
        cleaned.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert got[1]["n_email"] == 1 and "<EMAIL>" in got[1]["text"]
    assert got[2]["n_ipv4"] == 1 and "<IP>" in got[2]["text"]
    assert got[1]["lang"] == "en" and got[2]["lang"] == "de"


def test_incremental_update_planned_defers_counts_and_flushes_exact(
    spark, tmp_path_factory
):
    """Append planner end-to-end: (a) a scattered batch below the
    per-cell threshold lands in level 0 but DEFERS parent recompute
    (ledger counts it, parents byte-identical); (b) a retried batch
    neither duplicates leaves nor double-counts; (c) a later batch
    pushes cells over the threshold -> due cells flush and clear;
    (d) force_flush restores exact equality with a from-scratch build
    over the merged leaves (the eager incremental==scratch property,
    extended to deferred cells)."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree, read_level
    from raptor_rag_spark.streaming.incremental import (
        incremental_update_planned,
        read_pending,
    )

    root = tmp_path_factory.mktemp("planned")
    base, base_all = str(root / "tree"), str(root / "tree_all")
    kw = dict(max_layers=4)

    leaves0 = incremental_level0(synthetic_pages(spark, n=40, seed=61)).localCheckpoint(
        eager=True
    )
    build_tree(spark, leaves0, base, DEFAULT_CONFIG, start_resolution=3, **kw)
    parents_before = sorted(
        map(tuple, read_level(spark, base, 1).select("node_id", "text").collect())
    )
    n_lvl0 = read_level(spark, base, 0).count()

    def batch(seed, offset):
        pages = synthetic_pages(spark, n=8, seed=seed).withColumn(
            "page_id", F.col("page_id") + offset
        ).withColumn(
            "url", F.concat(F.lit(f"https://b{offset}.test/p/"), F.col("page_id"))
        )
        return incremental_level0(pages).localCheckpoint(eager=True)

    b1 = batch(6100, 10_000)
    # (a) high threshold: no cell flushes
    incremental_update_planned(
        spark, base, b1, DEFAULT_CONFIG, min_pending_per_cell=10**6, **kw
    )
    led = read_pending(base)
    assert sum(led["cells"].values()) == b1.count()
    assert len(led["applied"]) == 1 and not led["flushes"]
    assert read_level(spark, base, 0).count() == n_lvl0 + b1.count()
    assert (
        sorted(map(tuple, read_level(spark, base, 1).select("node_id", "text").collect()))
        == parents_before
    )

    # (b) retry: same batch again — no new leaves, no double counts
    incremental_update_planned(
        spark, base, b1, DEFAULT_CONFIG, min_pending_per_cell=10**6, **kw
    )
    led2 = read_pending(base)
    assert led2["cells"] == led["cells"] and len(led2["applied"]) == 1
    assert read_level(spark, base, 0).count() == n_lvl0 + b1.count()

    # ledger tracks cell sizes (seeded from level 0 + batch increments)
    assert sum(led["sizes"].values()) == n_lvl0 + b1.count()
    assert all(led["sizes"][c] >= n for c, n in led["cells"].items())

    # (c) second batch with absolute threshold 1 and the relative test
    # disabled: every pending cell flushes
    b2 = batch(6200, 20_000)
    incremental_update_planned(
        spark, base, b2, DEFAULT_CONFIG,
        min_pending_per_cell=1, min_pending_frac=0.0, **kw
    )
    led3 = read_pending(base)
    assert not led3["cells"] and len(led3["flushes"]) == 1
    assert led3["flushes"][0]["recomputed_parents"] > 0
    parents_flushed = sorted(
        map(tuple, read_level(spark, base, 1).select("node_id", "text").collect())
    )
    assert parents_flushed != parents_before

    # (d) third deferred batch, then force_flush == from-scratch build
    b3 = batch(6300, 30_000)
    incremental_update_planned(
        spark, base, b3, DEFAULT_CONFIG, min_pending_per_cell=10**6, **kw
    )
    assert read_pending(base)["cells"]  # b3 pending
    got = incremental_update_planned(
        spark, base, None, DEFAULT_CONFIG, force_flush=True, **kw
    )
    assert not read_pending(base)["cells"]
    merged = leaves0.unionByName(b1).unionByName(b2).unionByName(b3)
    want = build_tree(
        spark, merged, base_all, DEFAULT_CONFIG, resume=False, start_resolution=3, **kw
    )
    cols = ["node_id", "layer", "cell_id", "text", "n_tokens"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_planner_seed_persists_before_append_no_double_count(
    spark, tmp_path_factory, monkeypatch
):
    """Crash-retry on the FIRST planned call must not double-count the
    batch in the ledger's sizes: the seeded ledger persists BEFORE the
    level-0 append commits, so a retry that re-presents the batch after
    a crash between the append and the count-merge write merges the
    counts exactly once (sizes total == pre-append leaves + batch)."""
    from raptor_rag_spark import operators
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.maintenance import write_meta_atomic
    from raptor_rag_spark.operators.tree import build_tree, read_level
    from raptor_rag_spark.streaming.incremental import (
        incremental_update_planned,
        read_pending,
    )

    root = tmp_path_factory.mktemp("planned_crash")
    base = str(root / "tree")
    kw = dict(max_layers=4)
    leaves0 = incremental_level0(synthetic_pages(spark, n=30, seed=71)).localCheckpoint(
        eager=True
    )
    build_tree(spark, leaves0, base, DEFAULT_CONFIG, start_resolution=3, **kw)
    n_lvl0 = read_level(spark, base, 0).count()

    pages = synthetic_pages(spark, n=8, seed=7100).withColumn(
        "page_id", F.col("page_id") + 40_000
    ).withColumn("url", F.concat(F.lit("https://crash.test/p/"), F.col("page_id")))
    b1 = incremental_level0(pages).localCheckpoint(eager=True)

    # crash between the level-0 append and the ledger count-merge:
    # the first write (the seed) succeeds, the second (count merge) dies
    calls = {"n": 0}

    def dying_write(path, obj):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash before count-merge write")
        return write_meta_atomic(path, obj)

    monkeypatch.setattr(
        operators.maintenance, "write_meta_atomic", dying_write
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_update_planned(
            spark, base, b1, DEFAULT_CONFIG, min_pending_per_cell=10**6, **kw
        )
    monkeypatch.undo()
    # the append committed, the seed persisted, the counts did not
    assert read_level(spark, base, 0).count() == n_lvl0 + b1.count()
    led = read_pending(base)
    assert led["resolution"] is not None and not led["cells"]
    assert sum(led["sizes"].values()) == n_lvl0  # pre-append seed

    # retry: append dedups on the content id; counts merge exactly once
    incremental_update_planned(
        spark, base, b1, DEFAULT_CONFIG, min_pending_per_cell=10**6, **kw
    )
    led2 = read_pending(base)
    assert read_level(spark, base, 0).count() == n_lvl0 + b1.count()
    assert sum(led2["cells"].values()) == b1.count()
    assert sum(led2["sizes"].values()) == n_lvl0 + b1.count()  # no inflation


def test_planner_noop_flush_skips_seeding_scan(spark, tmp_path_factory):
    """flush_appends()/planner with nothing to append on a tree that
    never deferred: returns the collapsed table WITHOUT creating (or
    scanning for) a ledger — a defensive flush before every export must
    not pay an O(level-0) job each time."""
    import os

    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree
    from raptor_rag_spark.streaming.incremental import (
        _pending_path,
        incremental_update_planned,
    )

    root = tmp_path_factory.mktemp("planned_noop")
    base = str(root / "tree")
    kw = dict(max_layers=4)
    leaves0 = incremental_level0(synthetic_pages(spark, n=25, seed=81)).localCheckpoint(
        eager=True
    )
    want = build_tree(spark, leaves0, base, DEFAULT_CONFIG, start_resolution=3, **kw)
    got = incremental_update_planned(
        spark, base, None, DEFAULT_CONFIG, force_flush=True, **kw
    )
    assert not os.path.exists(_pending_path(base))  # no ledger materialized
    cols = ["node_id", "layer", "text"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_flush_history_bounded_with_running_totals(
    spark, tmp_path_factory, monkeypatch
):
    """The ledger lives for the tree's lifetime (every later eager
    append force-flushes through it), so the flush history must not
    grow per append: the list is capped at _PENDING_FLUSHES_KEEP while
    flush_totals keeps exact running counters."""
    from raptor_rag_spark import streaming
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree
    from raptor_rag_spark.streaming.incremental import (
        incremental_update_planned,
        read_pending,
    )

    monkeypatch.setattr(streaming.incremental, "_PENDING_FLUSHES_KEEP", 2)
    root = tmp_path_factory.mktemp("flush_cap")
    base = str(root / "tree")
    kw = dict(max_layers=4)
    leaves0 = incremental_level0(synthetic_pages(spark, n=25, seed=91)).localCheckpoint(
        eager=True
    )
    build_tree(spark, leaves0, base, DEFAULT_CONFIG, start_resolution=3, **kw)

    for day in range(3):  # min_pending_per_cell=1 => every batch flushes
        pages = synthetic_pages(spark, n=4, seed=9100 + day).withColumn(
            "page_id", F.col("page_id") + 50_000 + 1_000 * day
        ).withColumn(
            "url", F.concat(F.lit(f"https://cap.test/{day}/p/"), F.col("page_id"))
        )
        batch = incremental_level0(pages).localCheckpoint(eager=True)
        incremental_update_planned(
            spark, base, batch, DEFAULT_CONFIG, min_pending_per_cell=1,
            min_pending_frac=0.0, **kw
        )

    led = read_pending(base)
    assert len(led["flushes"]) == 2  # capped at the monkeypatched keep
    assert led["flush_totals"]["flushes"] == 3  # totals remember all
    assert led["flush_totals"]["cells"] >= 3
    assert led["flush_totals"]["recomputed_parents"] > 0


def test_direct_eager_update_settles_pending_ledger(spark, tmp_path_factory):
    """Calling incremental_update DIRECTLY (not via the api facade) on
    a tree with a pending ledger must settle the ledger, not bypass it
    — the invariant lives in the streaming module, at every call site."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree
    from raptor_rag_spark.streaming.incremental import (
        incremental_update,
        incremental_update_planned,
        read_pending,
    )

    root = tmp_path_factory.mktemp("direct_settle")
    base = str(root / "tree")
    kw = dict(max_layers=4)
    leaves0 = incremental_level0(synthetic_pages(spark, n=25, seed=92)).localCheckpoint(
        eager=True
    )
    build_tree(spark, leaves0, base, DEFAULT_CONFIG, start_resolution=3, **kw)

    p1 = synthetic_pages(spark, n=5, seed=9200).withColumn(
        "page_id", F.col("page_id") + 60_000
    ).withColumn("url", F.concat(F.lit("https://direct.test/a/"), F.col("page_id")))
    b1 = incremental_level0(p1).localCheckpoint(eager=True)
    incremental_update_planned(
        spark, base, b1, DEFAULT_CONFIG, min_pending_per_cell=10**6, **kw
    )
    assert read_pending(base)["cells"]  # b1 deferred

    p2 = synthetic_pages(spark, n=4, seed=9300).withColumn(
        "page_id", F.col("page_id") + 70_000
    ).withColumn("url", F.concat(F.lit("https://direct.test/b/"), F.col("page_id")))
    b2 = incremental_level0(p2).localCheckpoint(eager=True)
    got = incremental_update(spark, base, b2, DEFAULT_CONFIG, **kw)

    led = read_pending(base)
    assert not led["cells"]  # settled, not bypassed
    assert led["flushes"] and led["flushes"][-1]["forced"]
    assert got.filter("layer = 0").count() == leaves0.count() + b1.count() + b2.count()


# ---------------------------------------------- one tree layout

@pytest.fixture(scope="module")
def small_tree(spark, tmp_path_factory):
    """A 48-page tree built at start_resolution=3; tests copy it before
    editing it."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree

    base = str(tmp_path_factory.mktemp("layout_tree") / "tree")
    leaves = incremental_level0(synthetic_pages(spark, n=48, seed=21))
    build_tree(spark, leaves, base, DEFAULT_CONFIG, start_resolution=3)
    return base


def _copy_tree(src, tmp_path):
    import shutil

    dst = str(tmp_path / "tree")
    shutil.copytree(src, dst)
    return dst


def test_tree_records_start_resolution_and_refuses_another(
    spark, small_tree, tmp_path
):
    """build_tree records its start resolution in the level-0 manifest,
    and resuming — directly or by reopening an engine — with another
    value raises a named error instead of growing levels at another
    resolution."""
    import json

    from raptor_rag_spark.api import RaptorEngine
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import (
        _manifest_path,
        build_tree,
        read_manifest,
        tree_start_resolution,
    )

    base = _copy_tree(small_tree, tmp_path)
    assert read_manifest(base, 0)["start_resolution"] == 3
    assert tree_start_resolution(base) == 3
    empty = spark.createDataFrame(
        [], "node_id long, text string, n_tokens int, embedding array<float>"
    )
    with pytest.raises(ValueError, match="start_resolution=3, got start_resolution=2"):
        build_tree(spark, empty, base, DEFAULT_CONFIG, start_resolution=2, resume=True)
    with pytest.raises(ValueError, match="start_resolution=3, got start_resolution=4"):
        RaptorEngine(spark, base, DEFAULT_CONFIG)

    # a tree written before the field existed records none
    m0 = read_manifest(base, 0)
    del m0["start_resolution"]
    with open(_manifest_path(base, 0), "w") as fh:
        json.dump(m0, fh)
    assert tree_start_resolution(base) is None


def test_append_on_foreign_layout_raises_named_error(spark, small_tree, tmp_path):
    """Incremental maintenance refuses a tree that records no start
    resolution with a named ValueError."""
    import json

    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import _manifest_path, read_manifest
    from raptor_rag_spark.streaming.incremental import incremental_update

    base = _copy_tree(small_tree, tmp_path)
    delta = incremental_level0(
        synthetic_pages(spark, n=4, seed=23).withColumn(
            "page_id", F.col("page_id") + 8000
        )
    )
    m0 = read_manifest(base, 0)
    del m0["start_resolution"]
    with open(_manifest_path(base, 0), "w") as fh:
        json.dump(m0, fh)
    with pytest.raises(ValueError, match="records no start resolution"):
        incremental_update(spark, base, delta, DEFAULT_CONFIG)


def test_level_reads_run_at_most_one_job(spark, small_tree, tmp_path):
    """Every level is read through the fixed level schema: building the
    DataFrame costs at most the partition listing (no schema-inference
    job), and the rows are the level's, quadkey prefixes intact. The
    listing is forced onto the cluster, as on a level with many
    partitions, so a schema-inference job would show up as a second.
    Level 0 is one flat dir and runs no job at all. Leaves that arrive
    with other numeric types (n_tokens long, embedding array<double>)
    are written in the level schema, so their level 0 reads back
    through it."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import (
        NODES_SCHEMA,
        _level_path,
        build_tree,
        read_level,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"

    def jobs_to_build(group, make):
        prev = spark.conf.get(listing)
        spark.conf.set(listing, "1")
        sc.setJobGroup(group, group)
        try:
            df = make()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.conf.set(listing, prev)
        return df, len(tracker.getJobIdsForGroup(group))

    full, n_full = jobs_to_build(
        "layout-read-level", lambda: read_level(spark, small_tree, 1)
    )
    assert n_full <= 1, n_full

    on_disk = spark.read.parquet(_level_path(small_tree, 1))
    assert full.schema.simpleString() == on_disk.schema.simpleString()
    cols = ["node_id", "cell_id", "text"]
    assert sorted(map(tuple, full.select(*cols).collect())) == sorted(
        map(tuple, on_disk.select(*cols).collect())
    )

    lvl0, n_lvl0 = jobs_to_build(
        "layout-read-level0", lambda: read_level(spark, small_tree, 0)
    )
    assert n_lvl0 == 0, n_lvl0
    nodes_struct = spark.createDataFrame([], NODES_SCHEMA).schema.simpleString()
    assert lvl0.schema.simpleString() == nodes_struct

    wide = lvl0.select(
        "node_id",
        "text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    base = str(tmp_path / "wide")
    build_tree(spark, wide, base, DEFAULT_CONFIG, start_resolution=3, max_layers=0)
    got = read_level(spark, base, 0)
    assert got.schema.simpleString() == nodes_struct
    cols = ["node_id", "n_tokens", "embedding"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, lvl0.select(*cols).collect())
    )


def test_partitioned_level_layout_raises_named_error(spark, small_tree, tmp_path):
    """A level dir in the pre-flat ``cell_pfx=`` partition layout is
    refused with one named error by the Spark reader, the driver reader
    and level compaction, instead of being read as another layout."""
    import os
    import shutil

    from raptor_rag_spark.operators.maintenance import compact_level
    from raptor_rag_spark.operators.tree import (
        LevelLayoutError,
        _level_path,
        read_level,
        read_level_local,
    )

    base = _copy_tree(small_tree, tmp_path)
    path = _level_path(base, 1)
    part_dir = os.path.join(path, "cell_pfx=0123")
    os.makedirs(part_dir)
    for fn in os.listdir(path):
        if fn.startswith("part-"):
            shutil.move(os.path.join(path, fn), part_dir)
    for read in (
        lambda: read_level(spark, base, 1),
        lambda: read_level_local(base, 1),
        lambda: compact_level(spark, base, 1),
    ):
        with pytest.raises(LevelLayoutError, match="cell_pfx= partition layout"):
            read()


def test_read_level_local_matches_read_level(spark, small_tree):
    """The driver reader returns the Spark reader's rows of every level,
    skipping the files Spark skips (a ``_``-prefixed staging dir here)."""
    import os
    import shutil

    from raptor_rag_spark.operators.tree import (
        NODES_COLUMNS,
        _level_path,
        last_complete_level,
        read_level,
        read_level_local,
    )

    def rows(records):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in records
        )

    staged = os.path.join(_level_path(small_tree, 0), "_inflight_test")
    part = next(f for f in os.listdir(_level_path(small_tree, 0)) if f.startswith("part-"))
    os.makedirs(staged)
    shutil.copy(os.path.join(_level_path(small_tree, 0), part), staged)
    try:
        for k in range(last_complete_level(small_tree) + 1):
            local = read_level_local(small_tree, k)
            assert list(local.columns) == NODES_COLUMNS
            got = [
                [v.tolist() if hasattr(v, "tolist") else v for v in r]
                for r in local.itertuples(index=False)
            ]
            want = [list(r) for r in read_level(spark, small_tree, k).collect()]
            assert rows(got) == rows(want), k
    finally:
        shutil.rmtree(staged)


# ---------------------------------------------- one flat upper level


def _day_leaves(spark, tag, seed=77, first_id=50_000):
    """The leaves of one 6-page day, pinned."""
    return incremental_level0(
        synthetic_pages(spark, n=6, seed=seed)
        .withColumn("page_id", F.col("page_id") + first_id)
        .withColumn("url", F.concat(F.lit(f"https://{tag}.test/"), F.col("page_id")))
    ).localCheckpoint(eager=True)


def _deferred_day(spark, base, tag):
    """Land one 6-page day on ``base`` without flushing any cell."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.streaming.incremental import incremental_update_planned

    incremental_update_planned(
        spark, base, _day_leaves(spark, tag), DEFAULT_CONFIG, min_pending_per_cell=10**6
    )


def _levels(spark, base):
    from raptor_rag_spark.operators.tree import last_complete_level, read_level

    return [
        sorted(
            (r["node_id"], r["cell_id"], r["text"], tuple(sorted(r["children"])))
            for r in read_level(spark, base, k).collect()
        )
        for k in range(last_complete_level(base) + 1)
    ]


def _keep_level0_cells(spark, base, keep):
    """Rewrite level 0 of ``base`` with only the leaves of the ``keep``
    start-resolution (3) cells; returns (kept leaves, removed cells)."""
    from raptor_rag_spark.operators.tile import tile
    from raptor_rag_spark.operators.tree import read_level, write_level

    lvl0 = read_level(spark, base, 0)
    cells = tile(lvl0, 3).select("node_id", "cell_id")
    every = sorted(r["cell_id"] for r in cells.select("cell_id").distinct().collect())
    kept = keep(every)
    rest = lvl0.join(
        cells.filter(F.col("cell_id").isin(kept)).select("node_id"), "node_id"
    ).localCheckpoint(eager=True)
    write_level(rest, base, 0, {"input": "test"}, start_resolution=3)
    return rest, sorted(set(every) - set(kept))


def _scratch_levels(spark, leaves, tmp_path):
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree

    scratch = str(tmp_path / "scratch")
    build_tree(
        spark, leaves.select("node_id", "text", "n_tokens", "embedding"), scratch,
        DEFAULT_CONFIG, start_resolution=3, resume=False,
    )
    return _levels(spark, scratch)


def test_flush_drops_parent_of_emptied_cell(spark, small_tree, tmp_path):
    """A recomputed start-resolution cell with no children left loses
    its old parent: with level 0 rewritten without one cell's leaves,
    rebuilding that cell leaves every level equal to a from-scratch
    build over the same level 0."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import rebuild_levels

    base = _copy_tree(small_tree, tmp_path)
    rest, gone = _keep_level0_cells(spark, base, lambda cells: cells[1:])
    rebuild_levels(spark, base, DEFAULT_CONFIG, affected_l1=gone)

    assert not [r for r in _levels(spark, base)[1] if r[1].startswith(gone[0])]
    assert _levels(spark, base) == _scratch_levels(spark, rest, tmp_path)


def test_flush_that_shrinks_the_tree_applies_the_stop_rules(spark, tmp_path):
    """A flush applies the build's stop rules: with level 0 of a
    three-level tree rewritten down to 6 start-resolution cells and the
    other cells' removal flushed through the append ledger, the tree
    stops where a from-scratch build over the same level 0 stops (level
    1 at <= min_level_nodes rows), with every level equal to that
    build's, instead of keeping the level above."""
    import json
    import os

    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree, last_complete_level
    from raptor_rag_spark.streaming.incremental import incremental_update_planned

    base = str(tmp_path / "tree")
    leaves = incremental_level0(synthetic_pages(spark, n=120, seed=21))
    build_tree(spark, leaves, base, DEFAULT_CONFIG, start_resolution=3)
    top = last_complete_level(base)
    assert top >= 2
    rest, gone = _keep_level0_cells(spark, base, lambda cells: cells[:6])
    ledger = {
        "resolution": 3, "cells": {c: 1 for c in gone}, "sizes": {},
        "applied": [], "flushes": [],
    }
    with open(os.path.join(base, "pending_appends.json"), "w") as fh:
        json.dump(ledger, fh)
    incremental_update_planned(spark, base, None, DEFAULT_CONFIG, force_flush=True)

    want = _scratch_levels(spark, rest, tmp_path)
    assert len(want) < top + 1
    assert _levels(spark, base) == want


def _full_levels(spark, base):
    """Every column of every level, row-sorted: byte-level equality."""
    from raptor_rag_spark.operators.tree import last_complete_level, read_level

    return [
        sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in read_level(spark, base, k).collect()
        )
        for k in range(last_complete_level(base) + 1)
    ]


@pytest.fixture(scope="module")
def driver_bound_reference(spark, tmp_path_factory):
    """The 48-page tree and two deferred days, built at the default
    driver bound: (the built tree's levels, the levels of a scratch
    build over the merged leaves)."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree

    root = tmp_path_factory.mktemp("bound_ref")
    leaves = incremental_level0(synthetic_pages(spark, n=48, seed=21)).localCheckpoint(
        eager=True
    )
    days = [
        incremental_level0(
            synthetic_pages(spark, n=6, seed=80 + d)
            .withColumn("page_id", F.col("page_id") + 60_000 + 100 * d)
            .withColumn("url", F.concat(F.lit(f"https://bound{d}.test/"), F.col("page_id")))
        ).localCheckpoint(eager=True)
        for d in range(2)
    ]
    build_tree(spark, leaves, str(root / "built"), DEFAULT_CONFIG, start_resolution=3)
    merged = leaves.unionByName(days[0]).unionByName(days[1])
    build_tree(spark, merged, str(root / "merged"), DEFAULT_CONFIG, start_resolution=3)
    return (
        leaves, days,
        _full_levels(spark, str(root / "built")), _full_levels(spark, str(root / "merged")),
    )


@pytest.mark.parametrize("bound", ["spark", "default"])
def test_driver_and_spark_level_steps_write_identical_levels(
    spark, tmp_path, monkeypatch, driver_bound_reference, bound
):
    """With the driver bound at 0 (every level step in Spark) and at its
    default (every level of this tree on the driver), a build and a
    flush of two deferred days write byte-identical levels — node ids,
    cell ids, texts, children, n_tokens, embeddings, x and y — equal to
    the default bound's build and to a scratch build over the merged
    leaves."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.functions import planutil
    from raptor_rag_spark.operators.tree import build_tree
    from raptor_rag_spark.streaming.incremental import incremental_update_planned

    leaves, days, built, merged = driver_bound_reference
    if bound == "spark":
        monkeypatch.setattr(planutil, "DRIVER_MAX_ROWS", 0)
    base = str(tmp_path / "tree")
    build_tree(spark, leaves, base, DEFAULT_CONFIG, start_resolution=3)
    assert _full_levels(spark, base) == built
    for day in days:
        incremental_update_planned(
            spark, base, day, DEFAULT_CONFIG, min_pending_per_cell=10**6
        )
    incremental_update_planned(spark, base, None, DEFAULT_CONFIG, force_flush=True)
    assert _full_levels(spark, base) == merged


def test_driver_written_level_round_trips(spark, tmp_path, driver_bound_reference):
    """A level written on the driver with pyarrow is a level like any
    other: a build and a flush of two deferred days with Arrow
    conversion off write the same levels as with it on; every level
    reads back in NODES_SCHEMA, each level >= 1 is one part file keyed
    as write task 0 whose footer rows equal the manifest's, and
    maintenance.compact_level and read_level_local take it."""
    from pyspark.sql.types import StructType

    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.maintenance import compact_level
    from raptor_rag_spark.operators.tree import (
        NODES_COLUMNS,
        NODES_SCHEMA,
        _level_path,
        build_tree,
        last_complete_level,
        read_level,
        read_level_local,
        read_manifest,
        storage_partition_counts,
    )
    from raptor_rag_spark.streaming.incremental import incremental_update_planned

    leaves, days, built, merged = driver_bound_reference
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(arrow)
    spark.conf.set(arrow, "false")
    try:
        base = str(tmp_path / "tree")
        build_tree(spark, leaves, base, DEFAULT_CONFIG, start_resolution=3)
        assert _full_levels(spark, base) == built
        for day in days:
            incremental_update_planned(
                spark, base, day, DEFAULT_CONFIG, min_pending_per_cell=10**6
            )
        incremental_update_planned(spark, base, None, DEFAULT_CONFIG, force_flush=True)
    finally:
        spark.conf.set(arrow, prev)
    assert _full_levels(spark, base) == merged

    top = last_complete_level(base)
    assert top >= 2
    for k in range(1, top + 1):
        manifest = read_manifest(base, k)
        level = read_level(spark, base, k)
        assert level.schema == StructType.fromDDL(NODES_SCHEMA)
        counts = storage_partition_counts(_level_path(base, k))
        assert counts == {"0": manifest["rows"]} == manifest["partitions"], k
        local = read_level_local(base, k)
        assert list(local.columns) == NODES_COLUMNS
        assert sorted(local["node_id"]) == sorted(r["node_id"] for r in level.collect())
        report = compact_level(spark, base, k)
        assert report["rows"] == manifest["rows"], k
    assert _full_levels(spark, base) == merged


def test_rebuild_levels_on_the_driver_runs_no_job(spark, small_tree, tmp_path, count_jobs):
    """Rebuilding every level >= 1 of a tree whose levels fit the driver
    reads, summarizes and writes them with pyarrow: no Spark job."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import rebuild_levels

    base = _copy_tree(small_tree, tmp_path)
    before = _full_levels(spark, base)
    _, n_jobs = count_jobs(
        "rebuild-driver", lambda: rebuild_levels(spark, base, DEFAULT_CONFIG)
    )
    assert n_jobs == 0
    assert _full_levels(spark, base) == before


def test_flush_crash_before_manifest_commit_keeps_old_level(
    spark, small_tree, tmp_path, monkeypatch
):
    """A flush that dies after swapping level 1's rewrite in, but before
    committing its manifest, applies nothing: reopening the tree brings
    back level 1's pre-flush rows with no swap sibling left and
    manifest == storage, and the retried flush gives the same tree as
    an uncrashed one."""
    import glob
    import shutil

    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators import maintenance
    from raptor_rag_spark.operators.tree import (
        _manifest_path,
        build_tree,
        last_complete_level,
        read_level,
        read_manifest,
    )
    from raptor_rag_spark.streaming.incremental import incremental_update_planned

    base = _copy_tree(small_tree, tmp_path)
    _deferred_day(spark, base, "crash")
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    before = _levels(spark, base)

    real = maintenance.write_meta_atomic
    level1 = _manifest_path(base, 1)

    def crash(path, meta):
        if path == level1:
            raise OSError("crash before the level-1 manifest commit")
        real(path, meta)

    monkeypatch.setattr(maintenance, "write_meta_atomic", crash)
    with pytest.raises(OSError, match="level-1 manifest"):
        incremental_update_planned(spark, base, None, DEFAULT_CONFIG, force_flush=True)
    monkeypatch.setattr(maintenance, "write_meta_atomic", real)

    empty = spark.createDataFrame(
        [], "node_id long, text string, n_tokens int, embedding array<float>"
    )
    build_tree(spark, empty, base, DEFAULT_CONFIG, start_resolution=3, resume=True)
    assert _levels(spark, base) == before
    assert not glob.glob(f"{base}/level=*/nodes.parquet.*")
    for k in range(last_complete_level(base) + 1):
        assert read_manifest(base, k)["rows"] == read_level(spark, base, k).count()

    incremental_update_planned(spark, base, None, DEFAULT_CONFIG, force_flush=True)
    incremental_update_planned(spark, clean, None, DEFAULT_CONFIG, force_flush=True)
    assert _levels(spark, base) == _levels(spark, clean)
    assert _levels(spark, base)[1] != before[1]


def _ledger_write_crash(monkeypatch, base, nth):
    """Make the ``nth`` append-ledger write under ``base`` raise (other
    sidecar writes, the level manifests among them, go through)."""
    from raptor_rag_spark.operators import maintenance
    from raptor_rag_spark.streaming.incremental import _pending_path

    real, seen = maintenance.write_meta_atomic, {"n": 0}

    def write(path, meta):
        if path == _pending_path(base):
            seen["n"] += 1
            if seen["n"] == nth:
                raise OSError(f"crash at ledger write {nth}")
        real(path, meta)

    monkeypatch.setattr(maintenance, "write_meta_atomic", write)


def test_later_day_crash_before_count_merge_counts_the_batch_once(
    spark, small_tree, tmp_path, monkeypatch
):
    """On a later deferred day, a crash after the level-0 append commits
    but before the ledger's count merge leaves the ledger as it was; the
    retried day appends nothing more and adds the day's per-cell counts
    once, to both the pending cells and the cell sizes."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tile import tile
    from raptor_rag_spark.operators.tree import read_level
    from raptor_rag_spark.streaming.incremental import incremental_update_planned, read_pending

    base = _copy_tree(small_tree, tmp_path)
    _deferred_day(spark, base, "first")
    before, n_before = read_pending(base), read_level(spark, base, 0).count()
    day = _day_leaves(spark, "later", seed=79, first_id=70_000)
    per_cell = {r["cell_id"]: r["count"] for r in tile(day, 3).groupBy("cell_id").count().collect()}

    def land():
        incremental_update_planned(spark, base, day, DEFAULT_CONFIG, min_pending_per_cell=10**6)

    _ledger_write_crash(monkeypatch, base, 1)
    with pytest.raises(OSError, match="ledger write 1"):
        land()
    monkeypatch.undo()
    assert read_level(spark, base, 0).count() == n_before + day.count()
    assert read_pending(base) == before

    land()
    after = read_pending(base)
    assert read_level(spark, base, 0).count() == n_before + day.count()
    for key in ("cells", "sizes"):
        want = dict(before[key])
        for c, n in per_cell.items():
            want[c] = want.get(c, 0) + n
        assert after[key] == want, key
    assert len(after["applied"]) == len(before["applied"]) + 1


def test_later_day_crash_before_ledger_clear_reruns_to_scratch(
    spark, small_tree, tmp_path, monkeypatch
):
    """On a later day that flushes, a crash after the flush commits its
    levels but before the ledger clear leaves the day's cells pending;
    rerunning the day empties the ledger, and every level then equals a
    from-scratch build over the tree's level 0."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree, read_level
    from raptor_rag_spark.streaming.incremental import incremental_update_planned, read_pending

    base = _copy_tree(small_tree, tmp_path)
    _deferred_day(spark, base, "first")
    day = _day_leaves(spark, "later", seed=79, first_id=70_000)

    def flush_day():
        incremental_update_planned(spark, base, day, DEFAULT_CONFIG, force_flush=True)

    # write 1 merges the day's counts, write 2 clears the flushed cells
    _ledger_write_crash(monkeypatch, base, 2)
    with pytest.raises(OSError, match="ledger write 2"):
        flush_day()
    monkeypatch.undo()
    assert read_pending(base)["cells"]

    flush_day()
    assert read_pending(base)["cells"] == {}
    scratch = str(tmp_path / "scratch")
    build_tree(
        spark, read_level(spark, base, 0).drop("layer", "cell_id", "children"), scratch,
        DEFAULT_CONFIG, start_resolution=3,
    )
    assert _full_levels(spark, base) == _full_levels(spark, scratch)


def _assert_flat_upper_levels(spark, base):
    import glob
    import os

    from raptor_rag_spark.operators.tree import _level_path, last_complete_level

    par = spark.sparkContext.defaultParallelism
    for k in range(1, last_complete_level(base) + 1):
        path = _level_path(base, k)
        assert not [e for e in os.listdir(path) if os.path.isdir(os.path.join(path, e))]
        assert 1 <= len(glob.glob(os.path.join(path, "part-*.parquet"))) <= par + 1


def test_flush_and_build_job_counts_pinned(spark, tmp_path, count_jobs):
    """Jobs of a 48-page build, of two deferred days that flush no cell
    and of a forced flush of those days, with partition discovery forced
    onto the cluster as on a level with more cells than the discovery
    threshold (32; level 1 of a 1,500-page tree has 56 start-resolution
    cells). One partition dir per cell cost a listing job per read of an
    upper level: 8 build and 17 flush jobs; flat levels took 7 and 12.
    Reading level 0 through the level schema (no inference job) and
    resuming without leaves cut the build, the day and the flush from
    7, 10 and 12 jobs to 5, 8 and 9. Building levels that fit the
    driver there, one write job each, cut the build to level 0's write
    plus level 1's (2 jobs) and the flush to the rewrite of level 1 plus
    the level 2 it grows (2 jobs). Counting a day's delta per cell in
    the aggregation that derives its append id cut the first day (which
    also seeds the ledger's cell sizes) from 8 jobs to 6 and a later day
    from 6 to 4: the checkpoint, the aggregation and the write. Writing
    the driver-built levels with pyarrow cut the build to level 0's
    write (1 job) and the flush, whose every level fits the driver, to
    none. After the build and the flush, every level >= 1 is one flat
    dir of at most defaultParallelism + 1 part files."""
    from raptor_rag_spark.config import DEFAULT_CONFIG
    from raptor_rag_spark.operators.tree import build_tree
    from raptor_rag_spark.streaming.incremental import incremental_update_planned

    listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(listing)
    spark.conf.set(listing, "1")
    try:
        leaves = incremental_level0(synthetic_pages(spark, n=48, seed=21)).localCheckpoint(
            eager=True
        )
        base = str(tmp_path / "tree")
        _, n_build = count_jobs(
            "pin-build",
            lambda: build_tree(spark, leaves, base, DEFAULT_CONFIG, start_resolution=3),
        )
        _assert_flat_upper_levels(spark, base)
        day = _day_leaves(spark, "pin")
        _, n_day = count_jobs(
            "pin-day",
            lambda: incremental_update_planned(
                spark, base, day, DEFAULT_CONFIG, min_pending_per_cell=10**6
            ),
        )
        day2 = _day_leaves(spark, "pin2", seed=78, first_id=60_000)
        _, n_day2 = count_jobs(
            "pin-day2",
            lambda: incremental_update_planned(
                spark, base, day2, DEFAULT_CONFIG, min_pending_per_cell=10**6
            ),
        )
        _, n_flush = count_jobs(
            "pin-flush",
            lambda: incremental_update_planned(
                spark, base, None, DEFAULT_CONFIG, force_flush=True
            ),
        )
        _assert_flat_upper_levels(spark, base)
    finally:
        spark.conf.set(listing, prev)
    assert n_build <= 1, n_build
    assert n_day <= 6, n_day
    assert n_day2 <= 4, n_day2
    assert n_flush == 0, n_flush
