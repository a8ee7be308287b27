"""IVF (inverted-file) ANN index: deterministic k-means build, exact
degeneration at nprobe == nlist, recall floors on the REAL testdata
embeddings, filtered search, save/load roundtrip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from raptor_rag_spark.operators.ivf import IvfIndex
from raptor_rag_spark.operators.knn import brute_force_knn


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(F.col("vec_id").alias("node_id"), "embedding")
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def queries(emb):
    return (
        emb.orderBy("node_id")
        .limit(24)
        .select(
            F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
        )
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def idx(emb):
    return IvfIndex(emb, nlist=16, seed=42, n_iters=8)


def _key(df):
    return sorted((r["query_id"], r["node_id"], r["rank"]) for r in df.collect())


def test_build_deterministic(emb, idx):
    """Same data, same params -> bit-identical centroids and list
    assignments (the sample order is repartition-invariant)."""
    idx2 = IvfIndex(emb.repartition(7), nlist=16, seed=42, n_iters=8)
    assert np.array_equal(idx.centroids, idx2.centroids)
    a = sorted((r["node_id"], r["list_id"]) for r in idx.lists.collect())
    b = sorted((r["node_id"], r["list_id"]) for r in idx2.lists.collect())
    assert a == b


def test_every_node_assigned_once(emb, idx):
    n = emb.count()
    assert idx.lists.count() == n
    assert idx.lists.select("node_id").distinct().count() == n
    # every list_id within range
    mm = idx.lists.agg(F.min("list_id"), F.max("list_id")).first()
    assert mm[0] >= 0 and mm[1] < len(idx.centroids)


def test_full_probe_equals_brute_force(emb, queries, idx):
    """nprobe == nlist probes every list -> candidate set is the whole
    corpus -> identical to exact brute force (same re-rank tie-break)."""
    got = idx.search(queries, k=5, nprobe=len(idx.centroids))
    want = brute_force_knn(queries, emb, k=5)
    assert _key(got) == _key(want)


def test_recall_floor_real_embeddings(queries, idx):
    """Partial probe on the real testdata embeddings: recall@10 holds a
    floor at nprobe=4/16 and improves monotonically with nprobe."""
    r4 = idx.measure_recall(queries, k=10, nprobe=4)
    r8 = idx.measure_recall(queries, k=10, nprobe=8)
    assert r4 >= 0.55, r4
    assert r8 >= 0.85, r8
    assert r8 >= r4


def test_filtered_search_equals_prefiltered_brute(emb, queries, idx):
    """allowed-allowlist at full probe == brute force over the
    pre-filtered corpus; results stay inside the allowlist."""
    allowed = emb.filter(F.col("node_id") % 3 == 0).select(
        F.col("node_id").alias("doc_key")
    )
    got = idx.search(queries, k=5, nprobe=len(idx.centroids), allowed=allowed)
    want = brute_force_knn(queries, emb.filter(F.col("node_id") % 3 == 0), k=5)
    assert _key(got) == _key(want)
    assert all(r["node_id"] % 3 == 0 for r in got.collect())


def test_search_strategy_parity(queries, idx, join_path):
    b = idx.search(queries, k=5, nprobe=8)
    with join_path():
        j = _key(idx.search(queries, k=5, nprobe=8))
    assert _key(b) == j


def test_save_load_roundtrip(tmp_path, spark, queries, idx):
    want = _key(idx.search(queries, k=5, nprobe=8))
    idx.save(str(tmp_path / "ivf"), recall=0.9)
    loaded = IvfIndex.load(spark, str(tmp_path / "ivf"))
    assert np.array_equal(loaded.centroids, idx.centroids)
    assert loaded.recall == 0.9
    assert _key(loaded.search(queries, k=5, nprobe=8)) == want


def test_list_sizes_cover_corpus(emb, idx):
    total = idx.list_sizes().agg(F.sum("n")).first()[0]
    assert total == emb.count()


def test_append_equals_fixed_centroid_assignment(spark, emb):
    """append assigns new rows to the FIXED centroids — lists after an
    append are row-identical to assigning the full corpus against the
    same centroids, and each appended vector finds itself at rank 1."""
    from raptor_rag_spark.operators.ivf import assign_lists

    base = emb.filter(F.col("node_id") % 5 != 0)
    batch = emb.filter(F.col("node_id") % 5 == 0)
    idx2 = IvfIndex(base, nlist=16, seed=42, n_iters=8)
    got = idx2.append(batch)
    assert got["appended"] == batch.count()
    want = sorted(
        (r["node_id"], r["list_id"])
        for r in assign_lists(emb, idx2.centroids).collect()
    )
    have = sorted((r["node_id"], r["list_id"]) for r in idx2.lists.collect())
    assert have == want
    assert idx2.nodes.count() == emb.count()

    q = batch.limit(6).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    top1 = idx2.search(q, k=1, nprobe=4).filter(F.col("rank") == 1)
    assert sorted(r["node_id"] for r in top1.collect()) == sorted(
        r["query_id"] for r in top1.collect()
    )


def test_append_rejects_duplicate_ids(emb):
    idx2 = IvfIndex(emb, nlist=8, seed=1, n_iters=4)
    with pytest.raises(ValueError, match="already in the index"):
        idx2.append(emb.limit(3))


def test_persisted_store_prunes_partitions(tmp_path, spark, emb, queries, idx, join_path):
    """A loaded index stores inverted lists as parquet partitions; a
    broadcast-path search reads ONLY the probed list_id directories —
    the scan's PartitionFilters carries the probed-id INSET (FAISS
    inverted-list seek as partition pruning)."""
    import os

    idx.save(str(tmp_path / "ivfp"))
    parts = [
        p for p in os.listdir(tmp_path / "ivfp" / "store.parquet")
        if p.startswith("list_id=")
    ]
    assert len(parts) == len(idx.centroids)

    loaded = IvfIndex.load(spark, str(tmp_path / "ivfp"))
    got = loaded.search(queries, k=5, nprobe=4)
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("INSET" in l or " IN " in l for l in pf), pf
    # both persisted strategies match the in-memory result
    want = _key(idx.search(queries, k=5, nprobe=4))
    assert _key(got) == want
    with join_path():
        assert _key(loaded.search(queries, k=5, nprobe=4)) == want


@pytest.fixture(scope="module")
def qidx(emb):
    return IvfIndex(emb, nlist=16, seed=42, n_iters=8, quantized=True)


def test_quantized_same_structure_as_float(idx, qidx):
    """quantized=True trains/assigns on the FLOAT input before
    quantization — centroids and inverted lists are bit-identical to
    the float index; only the stored scoring columns differ."""
    assert np.array_equal(idx.centroids, qidx.centroids)
    a = sorted((r["node_id"], r["list_id"]) for r in idx.lists.collect())
    b = sorted((r["node_id"], r["list_id"]) for r in qidx.lists.collect())
    assert a == b
    assert set(qidx.nodes.columns) == {"node_id", "q_vec", "q_scale"}


def test_quantized_search_recall_and_strategy_parity(emb, queries, qidx, join_path):
    """Full-probe quantized search vs exact float brute force: recall@10
    floor on the real testdata embeddings (neighbor gaps there exceed
    the ±3e-3 int8 rounding error for nearly all queries); broadcast
    and join scoring agree exactly (same int8 kernel)."""
    got = qidx.search(queries, k=10, nprobe=len(qidx.centroids))
    want = brute_force_knn(queries, emb, k=10).select("query_id", "node_id")
    hit = got.select("query_id", "node_id").join(
        want, ["query_id", "node_id"], "inner"
    ).count()
    assert hit / want.count() >= 0.95
    with join_path():
        j = _key(qidx.search(queries, k=10, nprobe=len(qidx.centroids)))
    assert _key(got) == j


def test_quantized_measure_recall_requires_exact_baseline(emb, queries, qidx):
    with pytest.raises(ValueError, match="no float corpus"):
        qidx.measure_recall(queries, k=10, nprobe=8)
    r = qidx.measure_recall(queries, k=10, nprobe=8, exact_nodes=emb)
    assert r >= 0.8, r


def test_quantized_save_load_roundtrip(tmp_path, spark, queries, qidx, join_path):
    """The persisted store holds int8 columns (no float copy on disk);
    a loaded quantized index searches identically on both strategies,
    with partition pruning intact."""
    want = _key(qidx.search(queries, k=5, nprobe=8))
    qidx.save(str(tmp_path / "qivf"))
    loaded = IvfIndex.load(spark, str(tmp_path / "qivf"))
    assert loaded.quantized
    store_cols = set(loaded.store.columns)
    assert "embedding" not in store_cols
    assert {"q_vec", "q_scale"} <= store_cols
    assert _key(loaded.search(queries, k=5, nprobe=8)) == want
    with join_path():
        assert _key(loaded.search(queries, k=5, nprobe=8)) == want


def test_quantized_append_self_retrieval(emb):
    """append on a quantized index quantizes the batch for storage;
    every appended vector finds itself at rank 1."""
    base = emb.filter(F.col("node_id") % 5 != 0)
    batch = emb.filter(F.col("node_id") % 5 == 0).localCheckpoint(eager=True)
    qi = IvfIndex(base, nlist=16, seed=42, n_iters=8, quantized=True)
    qi.append(batch)
    assert set(qi.nodes.columns) == {"node_id", "q_vec", "q_scale"}
    assert qi.nodes.count() == emb.count()
    q = batch.limit(6).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    top1 = qi.search(q, k=1, nprobe=4).filter(F.col("rank") == 1)
    assert top1.filter(F.col("query_id") == F.col("node_id")).count() == 6


def _file_snapshot(root):
    import hashlib
    import os

    snap = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                snap[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return snap


def test_append_persisted_equals_in_memory_append(tmp_path, spark, emb):
    """Persisted O(new) append == in-memory append (same fixed
    centroids): identical search results; every pre-existing store file
    is byte-identical (an IVF append never rewrites); new files land
    only inside the batch's affected list_id dirs."""
    from raptor_rag_spark.operators.ivf import assign_lists

    base = emb.filter(F.col("node_id") % 4 != 0)
    batch = emb.filter(F.col("node_id") % 4 == 0).localCheckpoint(eager=True)
    mem = IvfIndex(base, nlist=16, seed=42, n_iters=8)
    mem.append(batch)

    disk = IvfIndex(base, nlist=16, seed=42, n_iters=8)
    p = str(tmp_path / "ivf_ap")
    disk.save(p)
    loaded = IvfIndex.load(spark, p)
    before = _file_snapshot(p + "/store.parquet")
    stats = loaded.append_persisted(p, batch)
    after = _file_snapshot(p + "/store.parquet")

    assert stats["appended"] == batch.count()
    affected = {
        f"list_id={r['list_id']}"
        for r in assign_lists(batch, loaded.centroids).select("list_id")
        .distinct().collect()
    }
    assert stats["affected_lists"] == len(affected)
    for rel, digest in before.items():
        assert after.get(rel) == digest, f"pre-existing file rewritten: {rel}"
    for rel in set(after) - set(before):
        assert rel.split("/")[0] in affected, f"new file outside affected: {rel}"

    q = emb.limit(20).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    assert _key(loaded.search(q, k=5, nprobe=16)) == _key(mem.search(q, k=5, nprobe=16))
    # pruning still works over appended rows (they live inside list dirs)
    plan = loaded.search(q, k=5, nprobe=4)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("INSET" in l or " IN " in l for l in pf), pf


def test_append_persisted_idempotent_and_replay(tmp_path, spark, emb):
    """Post-commit retry no-ops on the meta ledger; a mid-crash retry
    (files staged, meta commit lost) scrubs its own leftovers by name
    and replays to the identical store."""
    import json
    import os

    base = emb.filter(F.col("node_id") % 6 != 0)
    batch = emb.filter(F.col("node_id") % 6 == 0).localCheckpoint(eager=True)
    idx2 = IvfIndex(base, nlist=8, seed=3, n_iters=4)
    p = str(tmp_path / "ivf_rp")
    idx2.save(p)
    loaded = IvfIndex.load(spark, p)
    stats = loaded.append_persisted(p, batch)
    want_snap = _file_snapshot(p + "/store.parquet")
    n_want = spark.read.parquet(p + "/store.parquet").count()

    # post-commit retry: ledger hit, nothing changes
    again = IvfIndex.load(spark, p).append_persisted(p, batch)
    assert again == {"already_applied": stats["append_id"]}
    assert _file_snapshot(p + "/store.parquet") == want_snap

    # mid-crash: files fully staged but the meta commit was lost
    mp = os.path.join(p, "meta.json")
    with open(mp) as fh:
        meta = json.load(fh)
    meta["appends"].remove(stats["append_id"])
    with open(mp, "w") as fh:
        json.dump(meta, fh)
    replay = IvfIndex.load(spark, p).append_persisted(p, batch)
    assert replay["append_id"] == stats["append_id"]
    store = spark.read.parquet(p + "/store.parquet")
    assert store.count() == n_want
    assert store.select("node_id").distinct().count() == n_want


def test_append_persisted_quantized_and_flag_mismatch(tmp_path, spark, emb):
    base = emb.filter(F.col("node_id") % 4 != 0)
    batch = emb.filter(F.col("node_id") % 4 == 0).localCheckpoint(eager=True)
    qi = IvfIndex(base, nlist=16, seed=42, n_iters=8, quantized=True)
    p = str(tmp_path / "ivf_q")
    qi.save(p)
    loaded = IvfIndex.load(spark, p)
    with pytest.raises(ValueError, match="quantized flag"):
        IvfIndex(base, nlist=16, seed=42, n_iters=8).append_persisted(p, batch)
    loaded.append_persisted(p, batch)
    assert "embedding" not in loaded.store.columns
    q = batch.limit(6).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    top1 = loaded.search(q, k=1, nprobe=8).filter(F.col("rank") == 1)
    assert top1.filter(F.col("query_id") == F.col("node_id")).count() == 6


def test_append_after_load_drops_stale_store(tmp_path, spark, emb):
    """append on a loaded index must not keep serving the (now stale)
    partitioned store; re-save persists the new rows."""
    base = emb.filter(F.col("node_id") % 7 != 0)
    batch = emb.filter(F.col("node_id") % 7 == 0).localCheckpoint(eager=True)
    idx2 = IvfIndex(base, nlist=8, seed=3, n_iters=4)
    idx2.save(str(tmp_path / "ivf2"))
    loaded = IvfIndex.load(spark, str(tmp_path / "ivf2"))
    loaded.append(batch)
    assert loaded.store is None
    q = batch.limit(4).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    top1 = loaded.search(q, k=1, nprobe=8).filter(F.col("rank") == 1)
    assert top1.filter(F.col("query_id") == F.col("node_id")).count() == 4
    loaded.save(str(tmp_path / "ivf3"))
    re = IvfIndex.load(spark, str(tmp_path / "ivf3"))
    assert re.nodes.count() == emb.count()
    assert _key(re.search(q, k=1, nprobe=8)) == _key(top1)


def test_resave_over_live_path_after_load(tmp_path, spark, emb, queries, idx):
    """save() over the index's own live path works for a LOADED index
    (nodes/lists lazily read the store being replaced — a direct
    overwrite is Spark's cannot-overwrite-a-path-being-read-from error;
    the swap-sibling protocol avoids it), including after an in-memory
    append: the re-save persists the appended rows."""
    base = emb.filter(F.col("node_id") % 5 != 0)
    batch = emb.filter(F.col("node_id") % 5 == 0).localCheckpoint(eager=True)
    p = str(tmp_path / "ivf_resave")
    IvfIndex(base, nlist=16, seed=42, n_iters=8).save(p)
    loaded = IvfIndex.load(spark, p)
    loaded.save(p)  # plain re-save of a loaded index: the flagged crash
    baseline = _key(IvfIndex.load(spark, p).search(queries, k=5, nprobe=16))

    loaded.append(batch)
    loaded.save(p)  # re-save AFTER in-memory append = the compaction story
    again = IvfIndex.load(spark, p)
    assert again.nodes.count() == emb.count()
    got = _key(again.search(queries, k=5, nprobe=16))
    assert got == _key(loaded.search(queries, k=5, nprobe=16))
    assert got != baseline or batch.count() == 0


def test_resave_preserves_append_ledger(tmp_path, spark, emb):
    """An append whose rows were absorbed by a re-save must still no-op
    when retried: applied_appends persists through save()."""
    base = emb.filter(F.col("node_id") % 4 != 0)
    batch = emb.filter(F.col("node_id") % 4 == 0).localCheckpoint(eager=True)
    p = str(tmp_path / "ivf_ledger")
    IvfIndex(base, nlist=16, seed=42, n_iters=8).save(p)
    loaded = IvfIndex.load(spark, p)
    first = loaded.append_persisted(p, batch)
    assert "append_id" in first
    loaded.save(p)  # absorbs the appended part files into a fresh store
    retried = IvfIndex.load(spark, p).append_persisted(p, batch)
    assert retried == {"already_applied": first["append_id"]}
    assert IvfIndex.load(spark, p).nodes.count() == emb.count()


def test_append_persisted_rejects_foreign_quantizer(tmp_path, spark, emb):
    """Filing rows by a coarse quantizer that is not the persisted
    store's would land them in lists the store's probes never scan
    (silent recall loss) — params and the centroid matrix itself are
    validated before any write."""
    p = str(tmp_path / "ivf_foreign")
    IvfIndex(emb, nlist=16, seed=42, n_iters=8).save(p)
    other_params = IvfIndex(emb, nlist=8, seed=42, n_iters=8)
    batch = emb.limit(4).withColumn("node_id", F.col("node_id") + 10_000_000)
    with pytest.raises(ValueError, match="nlist"):
        other_params.append_persisted(p, batch)
    # same params, different training data -> different centroids
    other_data = IvfIndex(
        emb.filter(F.col("node_id") % 2 == 0), nlist=16, seed=42, n_iters=8
    )
    with pytest.raises(ValueError, match="centroid matrix differs"):
        other_data.append_persisted(p, batch)


def test_already_applied_retry_repoints_views(tmp_path, spark, emb):
    """A post-commit retry returns already_applied AND re-points the
    caller's views at storage — the retrying index must see the rows
    that ARE on disk, not its stale pre-append view."""
    base = emb.filter(F.col("node_id") % 4 != 0)
    batch = emb.filter(F.col("node_id") % 4 == 0).localCheckpoint(eager=True)
    p = str(tmp_path / "ivf_retry_repoint")
    applier = IvfIndex(base, nlist=16, seed=42, n_iters=8)
    applier.save(p)
    first = applier.append_persisted(p, batch)
    # an identical index (same deterministic build) that never saw the
    # append retries it: must no-op AND absorb the on-disk rows
    retrier = IvfIndex(base, nlist=16, seed=42, n_iters=8)
    assert retrier.nodes.count() == base.count()
    out = retrier.append_persisted(p, batch)
    assert out == {"already_applied": first["append_id"]}
    assert retrier.nodes.count() == emb.count()
    assert retrier.applied_appends == [first["append_id"]]
    bq = batch.limit(3).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    top1 = retrier.search(bq, k=1, nprobe=16).collect()
    assert all(r["query_id"] == r["node_id"] for r in top1)


def test_id_col_roundtrip(tmp_path, spark, emb):
    """save() persists id_col and load() restores it — append() on a
    loaded index keeps accepting frames keyed by the original column."""
    vecs = emb.withColumnRenamed("node_id", "vec_id")
    p = str(tmp_path / "ivf_idcol")
    IvfIndex(vecs, id_col="vec_id", nlist=16, seed=42, n_iters=8).save(p)
    loaded = IvfIndex.load(spark, p)
    assert loaded.id_col == "vec_id"
    batch = vecs.limit(3).withColumn("vec_id", F.col("vec_id") + 10_000_000)
    loaded.append(batch)  # would raise unresolved-column before the fix
    assert loaded.nodes.count() == emb.count() + 3


def test_compact_ivf_store(tmp_path, spark, emb):
    """The safe IVF compaction path: scrubs uncommitted appends by the
    meta ledger first, rewrites one file per inverted list, preserves
    the ledger (retried absorbed appends no-op), search-identical."""
    import glob
    import os
    import shutil

    from raptor_rag_spark.operators.maintenance import compact_ivf_store

    base = emb.filter(F.col("node_id") % 4 == 1)
    p = str(tmp_path / "ivf_compact")
    idx = IvfIndex(base, nlist=8, seed=42, n_iters=8)
    idx.save(p)
    applied = []
    for m in (2, 3):
        batch = emb.filter(F.col("node_id") % 4 == m).localCheckpoint(eager=True)
        applied.append(idx.append_persisted(p, batch))
    q = emb.limit(12).select(
        F.col("node_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    before = _key(IvfIndex.load(spark, p).search(q, k=5, nprobe=8))

    # plant an UNCOMMITTED append leftover (crashed before meta commit);
    # its duplicate rows must be scrubbed, not absorbed, by compaction
    some_list = sorted(glob.glob(os.path.join(p, "store.parquet", "list_id=*")))[0]
    donor = glob.glob(os.path.join(some_list, "*.parquet"))[0]
    shutil.copy(donor, os.path.join(some_list, "part-append-n9h9-00000.parquet"))
    spark.catalog.refreshByPath(os.path.join(p, "store.parquet"))
    report = compact_ivf_store(spark, p)
    assert report["scrubbed_orphan_appends"] == ["n9h9"]
    assert report["compacted"] and report["files_after"] < report["files_before"]
    loaded = IvfIndex.load(spark, p)
    assert _key(loaded.search(q, k=5, nprobe=8)) == before
    n_lists = len(glob.glob(os.path.join(p, "store.parquet", "list_id=*")))
    assert report["files_after"] == n_lists  # one file per inverted list
    # ledger preserved: retrying an absorbed append still no-ops
    batch2 = emb.filter(F.col("node_id") % 4 == 2)
    out = loaded.append_persisted(p, batch2)
    assert out == {"already_applied": applied[0]["append_id"]}


def test_save_crash_mid_swap_rolls_back(tmp_path, spark, emb, queries):
    """A save() that crashed after swapping the store in but BEFORE
    committing meta must roll back at the next load: the committed
    (old) store returns, not the uncommitted rewrite."""
    import os
    import shutil

    from raptor_rag_spark.operators.maintenance import write_save_token

    base = emb.filter(F.col("node_id") % 3 != 0)
    p = str(tmp_path / "ivf_crash")
    IvfIndex(base, nlist=16, seed=42, n_iters=8).save(p)
    committed = _key(IvfIndex.load(spark, p).search(queries, k=5, nprobe=16))
    store = os.path.join(p, "store.parquet")
    # simulate: an uncommitted re-save (different content) swapped the
    # store in (keeping the old dir) and crashed before writing meta
    os.replace(store, store + ".compact-old")
    shutil.copytree(store + ".compact-old", store)
    first_list = sorted(
        d for d in os.listdir(store) if d.startswith("list_id=")
    )[0]
    shutil.rmtree(os.path.join(store, first_list))  # content differs
    write_save_token(store, "uncommitted-token")
    spark.catalog.refreshByPath(store)

    loaded = IvfIndex.load(spark, p)  # recover_save rolls back
    assert _key(loaded.search(queries, k=5, nprobe=16)) == committed
    assert not os.path.exists(store + ".compact-old")


def test_retry_noop_runs_before_centroid_validation(tmp_path, spark, emb):
    """A ledger-hit retry must no-op WITHOUT reading the centroid
    sidecar (micro-batch retries stay cheap): with centroids.parquet
    deleted outright, the retry still returns already_applied."""
    import os
    import shutil

    base = emb.filter(F.col("node_id") % 4 != 0)
    batch = emb.filter(F.col("node_id") % 4 == 0).localCheckpoint(eager=True)
    p = str(tmp_path / "ivf_cheap_retry")
    idx = IvfIndex(base, nlist=16, seed=42, n_iters=8)
    idx.save(p)
    first = idx.append_persisted(p, batch)
    shutil.rmtree(os.path.join(p, "centroids.parquet"))
    out = idx.append_persisted(p, batch)
    assert out == {"already_applied": first["append_id"]}


def test_resave_preserves_foreign_meta_keys(tmp_path, spark, emb):
    """save() updates the existing meta in place: compact_ivf_store's
    compactions history must survive a re-save."""
    import json
    import os

    from raptor_rag_spark.operators.maintenance import compact_ivf_store

    p = str(tmp_path / "ivf_meta_keys")
    idx = IvfIndex(emb.filter(F.col("node_id") % 4 != 0), nlist=8, seed=42,
                   n_iters=8)
    idx.save(p)
    idx.append_persisted(
        p, emb.filter(F.col("node_id") % 4 == 0).localCheckpoint(eager=True)
    )
    report = compact_ivf_store(spark, p)
    assert report["compacted"]
    IvfIndex.load(spark, p).save(p)
    with open(os.path.join(p, "meta.json")) as fh:
        meta = json.load(fh)
    assert meta.get("compactions"), "re-save dropped the compaction history"
