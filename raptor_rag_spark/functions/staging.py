"""Shared exact-once parquet staging + content-derived append ids.

One implementation for every crash-safe append surface (tree level
appends in streaming/incremental.py, persisted ANN node appends in
operators/similarity.py) — the stage/scrub/rename/refresh discipline
is correctness-critical and must not drift between copies.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_append_stats(
    df: DataFrame, cols: Sequence[str], by: Column | None = None
) -> tuple[str, dict]:
    """(content id, row count per value of ``by``) from ONE tiny
    aggregation — the id derivation counts the rows anyway, so callers
    that also need counts (ledger/manifest updates, the cells an append
    lands in) take them from here instead of further count jobs. The id
    sums the per-group sums, so it does not depend on ``by``; without
    ``by`` the one count is keyed None."""
    keys = [by.alias("_key")] if by is not None else []
    rows = df.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(
            F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(1 << 31))
        ).alias("h"),
    ).collect()
    n = sum(int(r["n"]) for r in rows)
    h = sum(int(r["h"] or 0) for r in rows)
    counts = {(r["_key"] if by is not None else None): int(r["n"]) for r in rows}
    return f"n{n}h{h}", counts


def content_append_id(df: DataFrame, cols: Sequence[str]) -> str:
    """Content-derived idempotency id: row count + order-independent
    sum of xxhash64 over ``cols``. Include the VALUE columns (text,
    embedding, ...), not just ids — a retry presenting the same ids
    with DIFFERENT content (e.g. a re-embedded repair batch) must read
    as a NEW append, not silently no-op against the applied-ids ledger.
    One tiny aggregation; runs before the append's own execution."""
    return content_append_stats(df, cols)[0]


def scrub_partitioned_leftovers(
    live_dir: str, append_id: str, part_prefix: str
) -> int:
    """Remove part files of ``append_id`` from every partition dir of a
    partitioned live dir — the rollback half of the partitioned staging
    protocol, callable on its own so a retry can restore the
    pre-append view BEFORE running duplicate checks against it."""
    n = 0
    for leftover in glob.glob(
        os.path.join(live_dir, "*", f"part-{part_prefix}-{append_id}-*")
    ):
        os.remove(leftover)
        n += 1
    inflight = os.path.join(live_dir, f"_inflight_{append_id}")
    shutil.rmtree(inflight, ignore_errors=True)
    return n


def stage_partitioned_parquet_append(
    df: DataFrame,
    live_dir: str,
    append_id: str,
    part_col: str,
    part_prefix: str,
) -> int:
    """Partitioned twin of :func:`stage_parquet_append`: append ``df``
    into a ``part_col=``-partitioned live dir, landing each row's file
    INSIDE its partition directory (so partition pruning keeps working
    on the appended rows). One partitioned write to an underscore-hidden
    inflight subdir, then per-partition renames under id-named part
    files; scrubs leftovers of a crashed earlier attempt of the same id
    first. Returns the number of partition dirs touched (bounded by
    ``df``'s distinct partition values, never the table's). The caller
    commits its metadata AFTER this returns (commit-last). Heals any
    crashed compaction swap of ``live_dir`` first (see
    :func:`stage_parquet_append`)."""
    from raptor_rag_spark.operators.maintenance import heal_compaction

    heal_compaction(live_dir)
    scrub_partitioned_leftovers(live_dir, append_id, part_prefix)
    inflight = os.path.join(live_dir, f"_inflight_{append_id}")
    df.write.mode("overwrite").partitionBy(part_col).parquet(inflight)
    touched = 0
    for pdir in sorted(glob.glob(os.path.join(inflight, f"{part_col}=*"))):
        live_part = os.path.join(live_dir, os.path.basename(pdir))
        os.makedirs(live_part, exist_ok=True)
        for i, src in enumerate(sorted(glob.glob(os.path.join(pdir, "part-*")))):
            bn = os.path.basename(src)
            ext = bn[bn.index(".") :] if "." in bn else ".parquet"
            os.replace(
                src,
                os.path.join(
                    live_part, f"part-{part_prefix}-{append_id}-{i:05d}{ext}"
                ),
            )
        touched += 1
    shutil.rmtree(inflight, ignore_errors=True)
    df.sparkSession.catalog.refreshByPath(live_dir)
    return touched


def stage_parquet_append(
    df: DataFrame, live_dir: str, append_id: str, part_prefix: str
) -> None:
    """Exact-once append of ``df``'s rows into a live parquet dir:
    write to an ``_inflight_<id>`` subdir (invisible to readers — the
    leading underscore hides it from Spark/Hadoop listings), rename the
    part files into ``live_dir`` under ``part-<prefix>-<id>-NNNNN``
    names, scrubbing leftovers of a crashed earlier attempt of the SAME
    id first, then refresh Spark's path cache (the renames bypass the
    write path, so cached file listings would keep serving the old
    files). The CALLER commits its metadata (manifest / meta.json)
    AFTER this returns — commit-last means a retry either no-ops on the
    ledger or replays through here and lands the rows exactly once.

    Heals any crashed compaction swap of ``live_dir`` FIRST: appending
    while the live dir is mid-swap (renamed away) would recreate it
    with only this delta's files, leaving the full data stranded in the
    swap siblings — the ambiguous state heal_compaction refuses to
    touch."""
    from raptor_rag_spark.operators.maintenance import heal_compaction

    heal_compaction(live_dir)
    for leftover in glob.glob(
        os.path.join(live_dir, f"part-{part_prefix}-{append_id}-*")
    ):
        os.remove(leftover)
    inflight = os.path.join(live_dir, f"_inflight_{append_id}")
    shutil.rmtree(inflight, ignore_errors=True)
    df.write.mode("overwrite").parquet(inflight)
    for i, src in enumerate(sorted(glob.glob(os.path.join(inflight, "part-*")))):
        bn = os.path.basename(src)
        ext = bn[bn.index(".") :] if "." in bn else ".parquet"
        os.replace(
            src,
            os.path.join(live_dir, f"part-{part_prefix}-{append_id}-{i:05d}{ext}"),
        )
    shutil.rmtree(inflight, ignore_errors=True)
    df.sparkSession.catalog.refreshByPath(live_dir)
