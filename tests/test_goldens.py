"""End-to-end golden pins (SURVEY §5 item 3): the deterministic
synthetic corpus must produce byte-identical tile assignments and kNN
join output rows across sessions, machines and refactors. Regenerate
ONLY for intentional semantic changes: python tools/gen_goldens.py."""

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
