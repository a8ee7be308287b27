"""End-to-end golden pins (SURVEY §5 item 3): the deterministic
synthetic corpus must produce byte-identical tile assignments and kNN
join output rows across sessions, machines and refactors. Regenerate
ONLY for intentional semantic changes: python tools/gen_goldens.py
[golden|traversal|knn|leaves|levels]."""

import json
import os

import tools.gen_goldens as gg

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "golden.json")


def test_golden_tile_assignments_and_knn(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = gg.compute_goldens(spark)
    assert got["n_nodes"] == want["n_nodes"]
    assert got["n_tile_rows"] == want["n_tile_rows"]
    assert got["tile_assignments_sha256"] == want["tile_assignments_sha256"]
    assert got["tile_sample"] == want["tile_sample"]
    assert got["knn_rows"] == want["knn_rows"]


TRAVERSAL = os.path.join(os.path.dirname(__file__), "goldens", "traversal.json")


def test_golden_traversal_rows_and_contexts(spark, tmp_path):
    """Traversal rows (distance bits included) and contexts for str,
    list and DataFrame questions, top_k at k=2 and k=5 and threshold
    mode, pinned from the per-layer Spark loop the driver loop
    replaced."""
    with open(TRAVERSAL) as f:
        want = json.load(f)
    got = gg.compute_traversal_golden(spark, str(tmp_path / "tree"))
    assert got.keys() == want.keys()
    for case in want:
        assert got[case] == want[case], case


KNN_KERNELS = os.path.join(os.path.dirname(__file__), "goldens", "knn_kernels.json")


def test_golden_knn_kernels(spark):
    """Every exact-scoring path (brute force, tile_knn, TileAnnIndex and
    IvfIndex search; float and int8 nodes; broadcast and join) returns
    the pinned (query_id, node_id, rank) rows. Broadcast distances are
    bit-equal; join-path distances may differ in the last bits (BLAS
    blocks the matmul by the block sizes) and are held within 1e-12."""
    with open(KNN_KERNELS) as f:
        want = json.load(f)
    got = gg.compute_knn_golden(spark)
    assert got.keys() == want.keys()
    for case, rows in want.items():
        assert [r[:3] for r in got[case]] == [r[:3] for r in rows], case
        got_d = [float.fromhex(r[3]) for r in got[case]]
        want_d = [float.fromhex(r[3]) for r in rows]
        if case.endswith("_join"):
            assert max(abs(a - b) for a, b in zip(got_d, want_d)) <= 1e-12, case
        else:
            assert got_d == want_d, case


LEAVES = os.path.join(os.path.dirname(__file__), "goldens", "leaves.json")


def test_golden_leaves(spark, tmp_path):
    """Level-0 rows of every leaf path — arith ids over a many-partition
    and a 1-partition source, hash ids, add_documents and
    append_documents of a string, null and empty texts — with their
    text, n_tokens, embedding bits and x, y bits, pinned from the
    chunk -> embed -> reduce_2d chain the one leaf kernel replaced."""
    with open(LEAVES) as f:
        want = json.load(f)
    got = gg.compute_leaves_golden(spark, str(tmp_path / "tree"))
    assert got.keys() == want.keys()
    for case in want:
        assert got[case] == want[case], case


LEVELS = os.path.join(os.path.dirname(__file__), "goldens", "levels.json")


def test_golden_levels(spark, tmp_path):
    """Every row of every level >= 1 — node id, cell id, text, children,
    n_tokens, embedding bits and x, y bits — of a build on the driver
    step and on the Spark step, of two deferred days and a forced
    flush, of an eager incremental_update and of a build under a
    non-default tokenizer_factory, pinned from the per-cell summarize
    and Spark level write the batched parent kernel replaced."""
    with open(LEVELS) as f:
        want = json.load(f)
    got = gg.compute_levels_golden(spark, str(tmp_path))
    assert got.keys() == want.keys()
    for case in want:
        assert got[case] == want[case], case
