"""One-off measurement for BASELINE.md: small-file compaction payoff.

Builds a level-0-shaped store, applies K committed micro-appends (the
state a streaming ingest leaves behind), then times a full-scan
aggregation and an id-range-filtered read BEFORE and AFTER
`compact_level`, recording file counts and the scan's input metrics.
Run while the box is otherwise idle; prints one JSON line.

Usage: python tools/measure_compaction.py [n_appends]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from raptor_rag_spark.config import DEFAULT_CONFIG  # noqa: E402
from raptor_rag_spark.datagen import synthetic_pages  # noqa: E402
from raptor_rag_spark.operators.maintenance import _dir_stats, compact_level  # noqa: E402
from raptor_rag_spark.operators.tree import _level_path, build_tree, level0_rows  # noqa: E402
from raptor_rag_spark.session import get_spark  # noqa: E402
from raptor_rag_spark.streaming.incremental import (  # noqa: E402
    append_level,
    incremental_level0,
)


def _timed_reads(spark, path, reps=3):
    """min-of-reps full-scan agg + selective id-range scan."""
    full, sel = [], []
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.time()
        spark.read.parquet(path).agg(
            F.count("*"), F.sum("n_tokens"), F.avg(F.length("text"))
        ).collect()
        full.append(time.time() - t0)
        t0 = time.time()
        df = spark.read.parquet(path)
        lo = df.agg(F.min("node_id")).first()[0]
        df.filter(
            (F.col("node_id") >= lo) & (F.col("node_id") < lo + 1000)
        ).agg(F.count("*"), F.sum("n_tokens")).collect()
        sel.append(time.time() - t0)
    return round(min(full), 3), round(min(sel), 3)


def main() -> None:
    n_appends = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    import tempfile

    spark = get_spark("measure-compaction", cores=8, shuffle_partitions=8)
    base = tempfile.mkdtemp(prefix="compaction_bench_")
    leaves = incremental_level0(synthetic_pages(spark, n=400, seed=1))
    build_tree(spark, leaves, base, DEFAULT_CONFIG, start_resolution=3)
    for i in range(n_appends):
        delta = level0_rows(
            incremental_level0(
                synthetic_pages(spark, n=40, seed=100 + i).withColumn(
                    "page_id", F.col("page_id") + 10_000 * (i + 1)
                )
            ),
            DEFAULT_CONFIG,
            DEFAULT_CONFIG.embedding_dim,
        )
        append_level(delta, base, 0, {"input": f"micro-{i}"}, append_id=f"mb{i}")

    path = _level_path(base, 0)
    files_b, bytes_b = _dir_stats(path)
    full_b, sel_b = _timed_reads(spark, path)
    t0 = time.time()
    rep = compact_level(spark, base, 0)
    compact_sec = round(time.time() - t0, 3)
    files_a, bytes_a = _dir_stats(path)
    full_a, sel_a = _timed_reads(spark, path)
    print(json.dumps({
        "n_appends": n_appends,
        "files_before": files_b, "files_after": files_a,
        "bytes_before": bytes_b, "bytes_after": bytes_a,
        "full_scan_sec_before": full_b, "full_scan_sec_after": full_a,
        "range_scan_sec_before": sel_b, "range_scan_sec_after": sel_a,
        "compact_sec": compact_sec,
        "rows": rep["rows"],
    }))


if __name__ == "__main__":
    main()
