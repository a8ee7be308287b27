"""Small-file compaction (operators/maintenance.py): row-identical
sorted rewrites, append-ledger preservation, orphan rollback, and the
crash-window heal protocol."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.config import DEFAULT_CONFIG
from raptor_rag_spark.datagen import synthetic_pages
from raptor_rag_spark.operators.maintenance import (
    compact_ann_nodes,
    compact_level,
    compact_parquet_dir,
    heal_compaction,
)
from raptor_rag_spark.operators.tree import (
    _level_path,
    _manifest_path,
    build_tree,
    level0_rows,
    read_manifest,
    write_level,
)
from raptor_rag_spark.streaming.incremental import append_level, incremental_level0


def _delta(spark, seed, shift):
    return level0_rows(
        incremental_level0(
            synthetic_pages(spark, n=6, seed=seed).withColumn(
                "page_id", F.col("page_id") + shift
            )
        ),
        DEFAULT_CONFIG,
        DEFAULT_CONFIG.embedding_dim,
    ).localCheckpoint(eager=True)


@pytest.fixture()
def level_store(spark, tmp_path_factory):
    """Tree with 3 committed level-0 appends — the many-small-files
    state a streaming ingest leaves behind."""
    base = str(tmp_path_factory.mktemp("compact_tree"))
    leaves = incremental_level0(synthetic_pages(spark, n=24, seed=31))
    build_tree(spark, leaves, base, DEFAULT_CONFIG, start_resolution=3)
    for i in range(3):
        append_level(
            _delta(spark, 40 + i, 9000 + 1000 * i), base, 0, {"input": "t"},
            append_id=f"batch{i}",
        )
    return base


def _rows(spark, path):
    return sorted(
        (r["node_id"], r["text"], r["n_tokens"]) for r in
        spark.read.parquet(path).select("node_id", "text", "n_tokens").collect()
    )


def test_compact_level_row_identical_fewer_files_ledger_kept(spark, level_store):
    base = level_store
    path = _level_path(base, 0)
    before = _rows(spark, path)
    m0 = read_manifest(base, 0)
    n_files0 = len(glob.glob(os.path.join(path, "part-*")))

    rep = compact_level(spark, base, 0)
    assert rep["compacted"] is True
    assert rep["files_after"] < rep["files_before"] == n_files0
    assert _rows(spark, path) == before  # byte-level row parity
    m1 = read_manifest(base, 0)
    assert m1["rows"] == m0["rows"]
    # the append ledger survives compaction: a retried append of an
    # already-applied batch must still no-op even though its part files
    # were merged away
    assert [a["id"] for a in m1["appends"]] == [a["id"] for a in m0["appends"]]
    assert m1["compactions"][0]["files_before"] == n_files0
    m2 = append_level(_delta(spark, 40, 9000), base, 0, {"input": "t"},
                      append_id="batch0")
    assert m2["rows"] == m1["rows"]
    assert _rows(spark, path) == before

    # idempotent: a second compaction is a no-op
    rep2 = compact_level(spark, base, 0)
    assert rep2["compacted"] is False
    assert rep2["files_after"] == rep["files_after"]


def test_compact_level_rolls_back_uncommitted_append(spark, level_store):
    """An append that crashed between its part-file renames and its
    manifest commit must be scrubbed (not absorbed): once compaction
    merged those rows, the retry could no longer find them by name and
    would double-apply."""
    base = level_store
    path = _level_path(base, 0)
    crash = _delta(spark, 50, 20000)
    n_crash = crash.count()
    append_level(crash, base, 0, {"input": "t"}, append_id="crashed1")
    m = read_manifest(base, 0)
    committed_rows = m["rows"] - n_crash
    m["rows"] = committed_rows
    m["appends"] = [a for a in m["appends"] if a["id"] != "crashed1"]
    with open(_manifest_path(base, 0), "w") as fh:
        json.dump(m, fh)

    rep = compact_level(spark, base, 0)
    assert rep["scrubbed_orphan_appends"] == ["crashed1"]
    assert rep["rows"] == committed_rows
    assert spark.read.parquet(path).count() == committed_rows

    # the retry then lands the batch exactly once
    m3 = append_level(crash, base, 0, {"input": "t"}, append_id="crashed1")
    assert m3["rows"] == committed_rows + n_crash
    lvl = spark.read.parquet(path)
    assert lvl.count() == committed_rows + n_crash
    assert lvl.select("node_id").distinct().count() == committed_rows + n_crash


def test_compact_output_is_range_partitioned_and_sorted(spark, level_store):
    """The data-skipping claim: compacted files hold disjoint sorted
    node_id ranges, so parquet min/max stats prune file/row-group reads
    for any id/sort-key range predicate."""
    base = level_store
    path = _level_path(base, 0)
    from raptor_rag_spark.operators.maintenance import _dir_stats

    _, total_bytes = _dir_stats(path)
    rep = compact_level(spark, base, 0, target_file_bytes=total_bytes // 2 + 1)
    assert rep["compacted"] and rep["files_after"] == 2
    spans = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        ids = [r["node_id"] for r in spark.read.parquet(f).collect()]
        assert ids == sorted(ids), f"{f} not sorted within file"
        spans.append((min(ids), max(ids)))
    spans.sort()
    for (lo_a, hi_a), (lo_b, _hi_b) in zip(spans, spans[1:]):
        assert hi_a < lo_b, "file node_id ranges overlap"


def test_heal_compaction_crash_windows(spark, tmp_path):
    live = str(tmp_path / "store")
    spark.range(0, 100).withColumn("v", F.col("id") * 2).write.parquet(live)
    want = sorted((r["id"], r["v"]) for r in spark.read.parquet(live).collect())

    # window a: rewrite finished, swap never started -> discard rewrite
    os.makedirs(live + ".compacting")
    assert heal_compaction(live) == "discarded-incomplete"
    assert not os.path.exists(live + ".compacting")

    # window c: swap done, old-dir cleanup crashed -> remove old
    os.makedirs(live + ".compact-old")
    assert heal_compaction(live) == "removed-old"
    assert not os.path.exists(live + ".compact-old")

    # plain-dir compaction down to one file (spark.range wrote one
    # file per task)
    rep = compact_parquet_dir(spark, live, ["id"], target_file_bytes=1 << 40)
    assert rep["compacted"] is True and rep["files_after"] == 1
    assert sorted((r["id"], r["v"]) for r in spark.read.parquet(live).collect()) == want

    # window b: crash BETWEEN the two renames (live dir missing, the
    # verified rewrite present) -> complete the swap
    import shutil

    shutil.copytree(live, live + ".compacting")
    os.replace(live, live + ".compact-old")
    assert not os.path.exists(live)
    assert heal_compaction(live) == "completed-swap"
    assert sorted((r["id"], r["v"]) for r in spark.read.parquet(live).collect()) == want
    assert not os.path.exists(live + ".compact-old")
    assert heal_compaction(live) is None


def test_compact_parquet_dir_ledger_mismatch_raises(spark, tmp_path):
    live = str(tmp_path / "store2")
    spark.range(0, 50).write.parquet(live)
    with pytest.raises(ValueError, match="ledger"):
        compact_parquet_dir(spark, live, ["id"], expected_rows=49)


def test_compact_ann_nodes_search_identical(spark, tmp_path):
    import numpy as np

    from raptor_rag_spark.operators.similarity import TileAnnIndex

    rng = np.random.RandomState(3)
    vecs = rng.randn(900, 16)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "node_id long, embedding array<float>",
    ).localCheckpoint(eager=True)
    kw = dict(id_col="node_id", dim=16, seeds=(224,), base_resolution=2,
              max_occupancy=64, max_resolution=6)
    idx = TileAnnIndex(df.filter("node_id < 700"), **kw)
    p = str(tmp_path / "ann")
    idx.save(p)
    for lo, hi in ((700, 800), (800, 900)):
        TileAnnIndex.load(spark, p).append_persisted(
            p,
            df.filter(f"node_id >= {lo} and node_id < {hi}").select(
                "node_id", "embedding"
            ),
        )
    nodes_path = os.path.join(p, "nodes.parquet")
    files0 = len(glob.glob(os.path.join(nodes_path, "part-*")))
    q = df.limit(12).select(F.col("node_id").alias("query_id"),
                            F.col("embedding").alias("q_embedding"))
    key = lambda d: sorted(  # noqa: E731
        (r["query_id"], r["node_id"], r["rank"]) for r in d.collect()
    )
    before = key(TileAnnIndex.load(spark, p).search(q, k=5, ring=2))

    rep = compact_ann_nodes(spark, p)
    assert rep["compacted"] is True and rep["files_after"] < files0
    meta = json.load(open(os.path.join(p, "meta.json")))
    assert len(meta["appends"]) == 2  # ledger intact
    assert meta["compactions"][0]["files_before"] == files0
    after_idx = TileAnnIndex.load(spark, p)
    assert key(after_idx.search(q, k=5, ring=2)) == before
    assert after_idx.nodes.count() == 900


def test_heal_refuses_ambiguous_triple_state(tmp_path):
    """live + .compact-old + .compacting all present is NOT a protocol
    state — it means the live dir was recreated externally during the
    mid-swap window (e.g. an append landed a delta-only dir). Deleting
    either sibling would destroy the only full data copy; heal must
    raise and leave all three untouched."""
    live = str(tmp_path / "store")
    for d, marker in ((live, "delta"), (live + ".compact-old", "full"),
                      (live + ".compacting", "rewrite")):
        os.makedirs(d)
        open(os.path.join(d, f"part-{marker}.parquet"), "w").write(marker)
    with pytest.raises(RuntimeError, match="recreated outside the swap"):
        heal_compaction(live)
    for d in (live, live + ".compact-old", live + ".compacting"):
        assert os.path.exists(d), d


def test_stage_append_heals_mid_swap_first(spark, tmp_path):
    """The data-loss interleaving: a compaction crashes between its two
    renames (live missing; .compact-old = original, .compacting =
    verified rewrite), then a streaming append runs. stage_parquet_append
    must complete the swap FIRST — otherwise it recreates the live dir
    with only the delta, stranding the full data in the siblings (the
    ambiguous state heal refuses to touch)."""
    import shutil

    from raptor_rag_spark.functions.staging import stage_parquet_append

    live = str(tmp_path / "leaves")
    orig = spark.range(100).withColumn("v", F.col("id") * 2)
    orig.write.parquet(live)
    # simulate the mid-swap crash window
    orig.repartition(1).write.parquet(live + ".compacting")
    for m in glob.glob(os.path.join(live + ".compacting", "_*")):
        os.remove(m)
    os.replace(live, live + ".compact-old")

    delta = spark.range(100, 110).withColumn("v", F.col("id") * 2)
    stage_parquet_append(delta, live, "batchx", "inflight")

    assert not os.path.exists(live + ".compact-old")
    assert not os.path.exists(live + ".compacting")
    got = spark.read.parquet(live)
    assert got.count() == 110  # full original data + the delta
    assert got.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(110))


def test_recover_save_windows(tmp_path):
    """Every crash window of the multi-dir token'd save protocol maps
    to a mechanical action: mid-swap rollback, swap completion without
    rollback material, committed-state cleanup, and a loud error when
    a torn dir has no rollback sibling left."""
    import shutil

    from raptor_rag_spark.operators.maintenance import (
        read_save_token,
        recover_save,
        write_save_token,
    )

    def mkdir(p, marker, token=None):
        os.makedirs(p)
        open(os.path.join(p, f"part-{marker}.parquet"), "w").write(marker)
        if token:
            write_save_token(p, token)

    # window 1: swapped but uncommitted (live token != meta's, old kept)
    a = str(tmp_path / "a")
    mkdir(a, "new-uncommitted", token="T2")
    mkdir(a + ".compact-old", "committed", token="T1")
    assert recover_save([a], "T1") == {a: "rolled-back"}
    assert read_save_token(a) == "T1"
    assert os.path.exists(os.path.join(a, "part-committed.parquet"))

    # window 2: mid-swap (live missing, old = committed state)
    b = str(tmp_path / "b")
    mkdir(b + ".compact-old", "committed", token="T1")
    mkdir(b + ".compacting", "rewrite", token="T2")
    assert recover_save([b], "T1") == {b: "rolled-back"}
    assert read_save_token(b) == "T1"
    assert not os.path.exists(b + ".compacting")

    # window 3: live missing, no rollback material -> complete the swap
    c = str(tmp_path / "c")
    mkdir(c + ".compacting", "rewrite", token="T2")
    assert recover_save([c], "T2") == {c: "completed-swap"}
    assert read_save_token(c) == "T2"

    # window 4: committed (token matches) with leftover siblings
    d = str(tmp_path / "d")
    mkdir(d, "committed", token="T1")
    mkdir(d + ".compact-old", "stale", token="T0")
    mkdir(d + ".compacting", "stale-rewrite", token="T0")
    assert recover_save([d], "T1") == {d: "cleaned"}
    assert not os.path.exists(d + ".compact-old")
    assert not os.path.exists(d + ".compacting")

    # torn: token mismatch, rollback material gone -> raise, dir kept
    e = str(tmp_path / "e")
    mkdir(e, "orphaned", token="T9")
    with pytest.raises(RuntimeError, match="no .compact-old sibling"):
        recover_save([e], "T1")
    assert os.path.exists(e)

    # absent dirs (first-ever save) and legacy saves (no meta token)
    assert recover_save([str(tmp_path / "nothing")], "T1") == {}
    f = str(tmp_path / "f")
    mkdir(f, "legacy")  # no token file
    shutil.rmtree(f + ".compact-old", ignore_errors=True)
    assert recover_save([f], None) == {}


def test_append_level_torn_manifest_write_keeps_committed_manifest(
    spark, tmp_path, monkeypatch
):
    """A crash in the middle of the manifest dump (a partial write, then
    an error) must leave the level-0 manifest parseable and unchanged:
    its appends ledger is what makes the retried append a no-op. The
    retry then lands the batch exactly once."""
    base = str(tmp_path / "tree")
    write_level(_delta(spark, 31, 0), base, 0, {"input": "t"}, start_resolution=3)
    with open(_manifest_path(base, 0)) as fh:
        committed = fh.read()
    delta = _delta(spark, 40, 9000)
    real_dump = json.dump

    def torn_dump(obj, fh, **kw):
        fh.write(json.dumps(obj, **kw)[:40])
        raise OSError("disk full mid-dump")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-dump"):
        append_level(delta, base, 0, {"input": "t"}, append_id="torn1")
    monkeypatch.setattr(json, "dump", real_dump)

    with open(_manifest_path(base, 0)) as fh:
        after = fh.read()
    assert after == committed
    assert json.loads(after) == json.loads(committed)

    m = append_level(delta, base, 0, {"input": "t"}, append_id="torn1")
    assert m["rows"] == json.loads(committed)["rows"] + delta.count()
    assert spark.read.parquet(_level_path(base, 0)).count() == m["rows"]
