"""Small-file compaction for the append-accumulating parquet stores.

At crawl scale the level-0 leaf store and the persisted ANN node store
grow by immutable appended part files (streaming/incremental.py
``append_level``, similarity.py ``append_persisted``) — after K
micro-batch ingests a scan pays K× the file-open / footer-read /
listing cost and loses row-group min/max locality. This module is the
Iceberg-style table-maintenance counterpart (`rewrite_data_files`) for
those stores, built from the same staging discipline as
functions/staging.py:

1. **orphan scrub** — part files whose append id is NOT in the
   caller's committed-append ledger are leftovers of an append that
   crashed BEFORE its metadata commit. They must be rolled back before
   compacting: once their rows are merged into compacted files, a
   retry of that append could no longer find-and-scrub them by name
   and would land the rows twice.
2. **sorted rewrite** — one `repartitionByRange(sort_cols)` +
   `sortWithinPartitions` pass into N files sized from the live dir's
   on-disk bytes. Range partitioning clusters the sort key per FILE
   and the sort clusters it per ROW GROUP, so parquet min/max stats
   prune file/row-group scans for any sort-key range predicate after
   compaction (levels sort by cell_id: tile-range reads; node stores
   sort by node_id: retrieval-join locality).
3. **atomic swap + heal** — the compacted dir replaces the live dir
   via two renames with a recovery protocol (`heal_compaction`) that
   makes every crash window either invisible or mechanically
   repairable; compaction re-runs are idempotent (row-count guard +
   self-heal on entry).

The level wrapper preserves the manifest's append ledger (retried
appends must still no-op after their rows were compacted) and rewrites
the per-file counts; the ANN wrapper leaves meta.json's ledger
untouched and records compaction stats.

Whole-dir replacement with metadata as the commit point is the token'd
save protocol below (``swap_live_dir(keep_old=True)`` +
``write_save_token`` + ``recover_save``): persisted indexes save through
it, and so does every tree level (tree.write_level — a build writes a
level, an incremental flush rewrites each level >= 1 whole).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

# ~one comfortable in-memory parquet read per task; at 128 MiB this
# matches spark.sql.files.maxPartitionBytes so a compacted file maps
# to exactly one scan partition.
DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024

_SWAP_OLD = ".compact-old"
_SWAP_NEW = ".compacting"


def _dir_stats(live_dir: str) -> tuple[int, int]:
    """(n_part_files, total_bytes) of a parquet dir, recursing into
    hive partition subdirs; staging/underscore entries excluded."""
    n, b = 0, 0
    for root, dirs, files in os.walk(live_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.startswith("part-"):
                n += 1
                b += os.path.getsize(os.path.join(root, fn))
    return n, b


def scrub_orphan_appends(
    live_dir: str, part_prefix: str, committed_ids: set[str], nested: bool = False
) -> list[str]:
    """Remove part files of appends that never committed their metadata
    (names ``part-<prefix>-<id>-NNNNN``, id absent from the ledger) and
    any ``_inflight_*`` staging leftovers. Returns the scrubbed ids.
    ``nested=True`` scrubs the partitioned layout, where append files
    live INSIDE hive partition subdirs (``<live>/<col>=<v>/part-...``,
    the layout staging.stage_partitioned_parquet_append lands).

    This is the rollback half of the staging protocol in
    functions/staging.py: an uncommitted append's retry re-stages the
    whole delta, so its half-landed files must stay scrubbable BY NAME
    — compaction would otherwise absorb them irrecoverably."""
    pattern = (
        os.path.join(live_dir, "*", f"part-{part_prefix}-*")
        if nested
        else os.path.join(live_dir, f"part-{part_prefix}-*")
    )
    orphans: set[str] = set()
    for path in glob.glob(pattern):
        rest = os.path.basename(path)[len(f"part-{part_prefix}-") :]
        aid = rest.split("-", 1)[0]
        if aid not in committed_ids:
            orphans.add(aid)
            os.remove(path)
    for stale in glob.glob(os.path.join(live_dir, "_inflight_*")):
        shutil.rmtree(stale, ignore_errors=True)
    return sorted(orphans)


def scrub_orphan_appends_partitioned(
    live_dir: str, part_prefix: str, committed_ids: set[str]
) -> list[str]:
    """Partitioned-layout alias of :func:`scrub_orphan_appends`."""
    return scrub_orphan_appends(live_dir, part_prefix, committed_ids, nested=True)


def swap_live_dir(live_dir: str, keep_old: bool = False) -> None:
    """Swap ``<live>.compacting`` in as the live dir — two renames; a
    crash anywhere in between is one of heal_compaction's /
    recover_save's windows. The rewritten dir MUST already be at
    ``live_dir + _SWAP_NEW``. ``keep_old=True`` retains the replaced
    dir as the ``.compact-old`` sibling — the rollback material of the
    multi-dir token'd save protocol (the caller deletes it only AFTER
    committing its metadata; see recover_save)."""
    new_d = live_dir + _SWAP_NEW
    if os.path.exists(live_dir):
        old_d = live_dir + _SWAP_OLD
        shutil.rmtree(old_d, ignore_errors=True)
        os.replace(live_dir, old_d)
        os.replace(new_d, live_dir)
        if not keep_old:
            shutil.rmtree(old_d, ignore_errors=True)
    else:
        os.replace(new_d, live_dir)


# ---------------------------------------------------------------------------
# Multi-directory token'd save protocol
#
# A save that replaces SEVERAL parquet dirs (IvfIndex: store + centroids;
# TileAnnIndex: nodes + per-view xy/atiles) cannot be made atomic by
# per-dir swaps alone: a crash mid-sequence leaves new tables mixed with
# old ones (e.g. appended rows present in nodes but absent from every
# view — silently unreachable). Protocol:
#
#   1. write EVERY table to its ``.compacting`` sibling, stamping each
#      with the same random save token (``_savetoken`` file — the
#      leading underscore hides it from Spark listings);
#   2. swap every dir in, KEEPING the replaced dir as ``.compact-old``;
#   3. commit metadata LAST (meta.json carries the token, written via
#      tmp-file + os.replace so it is itself atomic);
#   4. delete the ``.compact-old`` siblings.
#
# recover_save(), run at load/append/save entry BEFORE anything reads
# the dirs (and before any heal_compaction, which would discard the
# rollback siblings), maps every crash window to a mechanical action:
# roll the dirs back to the meta-committed save, or finish the cleanup.
# ---------------------------------------------------------------------------

_SAVE_TOKEN = "_savetoken"


def write_save_token(new_dir: str, token: str) -> None:
    """Stamp a fully-written ``.compacting`` sibling with its save's
    token (step 1 of the protocol)."""
    with open(os.path.join(new_dir, _SAVE_TOKEN), "w") as fh:
        fh.write(token)


def read_save_token(live_dir: str) -> str | None:
    p = os.path.join(live_dir, _SAVE_TOKEN)
    if os.path.exists(p):
        with open(p) as fh:
            return fh.read().strip()
    return None


def write_meta_atomic(meta_path: str, meta: dict) -> None:
    """Commit metadata via tmp-file + rename — a crash mid-write must
    not leave a torn meta.json (the committed truth recover_save keys
    off)."""
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, meta_path)


def recover_save(live_dirs: list[str], meta_token: str | None) -> dict[str, str]:
    """Recover a multi-dir token'd save after any crash: every dir ends
    up at the meta-committed state (``meta_token`` from the meta.json
    written in step 3; None for legacy/pre-token saves). Returns the
    per-dir action taken. Raises on a torn state with no rollback
    material (e.g. the siblings were healed away by a writer that
    bypassed this recovery).

    Per-dir windows:
      live missing + .compact-old present -> mid-swap crash of an
        UNCOMMITTED save (the old dir is the committed state): restore
        it, discard the rewrite.
      live missing + only .compacting -> no rollback material: complete
        the swap (the rewrite was fully written before step 2).
      live present, token != meta_token -> the dir was swapped but the
        save never committed: roll back from .compact-old, or raise.
      live present, token matches (or legacy) -> committed: delete any
        leftover siblings (step-4 crash).
    """
    actions: dict[str, str] = {}
    for live in live_dirs:
        old_d, new_d = live + _SWAP_OLD, live + _SWAP_NEW
        if not any(os.path.exists(p) for p in (live, old_d, new_d)):
            continue  # first-ever save: nothing on disk yet for this dir
        if not os.path.exists(live):
            if os.path.exists(old_d):
                shutil.rmtree(new_d, ignore_errors=True)
                os.replace(old_d, live)
                actions[live] = "rolled-back"
            else:
                os.replace(new_d, live)
                actions[live] = "completed-swap"
            continue
        tok = read_save_token(live)
        if meta_token is not None and tok is not None and tok != meta_token:
            if os.path.exists(old_d):
                shutil.rmtree(live)
                os.replace(old_d, live)
                shutil.rmtree(new_d, ignore_errors=True)
                actions[live] = "rolled-back"
                continue
            raise RuntimeError(
                f"{live}: save token {tok!r} does not match the committed "
                f"metadata's {meta_token!r} and no {_SWAP_OLD} sibling "
                "remains to roll back to — the save that wrote this dir "
                "crashed before committing and its rollback material was "
                "removed. Restore from a checkpoint or re-save from a "
                "rebuilt index."
            )
        took = None
        if os.path.exists(old_d):
            shutil.rmtree(old_d)
            took = "cleaned"
        if os.path.exists(new_d):
            shutil.rmtree(new_d)
            took = "cleaned"
        if took:
            actions[live] = took
    return actions


def heal_compaction(live_dir: str) -> str | None:
    """Complete or roll back a compaction swap that crashed mid-way.
    Returns the action taken (None if nothing to do). Safe to call any
    time; `compact_parquet_dir` calls it on entry.

    Swap protocol (see compact_parquet_dir):
      write <live>.compacting  ->  rename live -> <live>.compact-old
      ->  rename .compacting -> live  ->  delete .compact-old
    Crash windows:
      - live present, .compacting present, NO .compact-old: rewrite
        finished but swap never started — discard .compacting (the
        retry rewrites it).
      - live MISSING, .compacting present: between the two renames —
        complete the swap (the rewrite was verified before renaming).
      - live present, .compact-old present, NO .compacting: swap done,
        cleanup crashed — delete .compact-old.
      - live present AND .compact-old AND .compacting: NOT a protocol
        state (the protocol never has all three at once) — it means the
        live dir was recreated EXTERNALLY during the mid-swap window
        (e.g. an append landed a fresh delta-only dir). Deleting either
        sibling here would destroy the only full copy of the data, so
        this raises; append paths call this healer on entry precisely
        so the window can't be entered by supported writers.
    """
    old_d, new_d = live_dir + _SWAP_OLD, live_dir + _SWAP_NEW
    if not os.path.exists(live_dir):
        if os.path.exists(new_d):
            os.replace(new_d, live_dir)
            shutil.rmtree(old_d, ignore_errors=True)
            return "completed-swap"
        if os.path.exists(old_d):  # rewrite dir lost too: roll back
            os.replace(old_d, live_dir)
            return "rolled-back"
        return None
    if os.path.exists(old_d) and os.path.exists(new_d):
        raise RuntimeError(
            f"{live_dir}: live dir coexists with BOTH {_SWAP_OLD} and "
            f"{_SWAP_NEW} siblings — the live dir was recreated outside "
            "the swap protocol while a compaction was mid-swap. Refusing "
            f"to delete either sibling: {old_d} holds the pre-compaction "
            f"data and the live dir may hold only a post-crash delta. "
            "Recover manually (typically: move the live dir's id-named "
            f"append files into {old_d}, replace live with it, then "
            f"remove {new_d})."
        )
    took = None
    if os.path.exists(old_d):
        shutil.rmtree(old_d)
        took = "removed-old"
    if os.path.exists(new_d):
        shutil.rmtree(new_d)
        took = "discarded-incomplete"
    return took


def compact_parquet_dir(
    spark: SparkSession,
    live_dir: str,
    sort_cols: list[str],
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    expected_rows: int | None = None,
    min_files_to_compact: int = 2,
) -> dict:
    """Rewrite a flat parquet dir into ceil(bytes/target) files, range-
    partitioned and sorted by ``sort_cols``; atomically swap it in.
    Returns a report dict; no-ops (with report) when already compact.

    ``expected_rows``: caller's committed row count — the rewrite is
    verified against it (and against the live dir's own count) BEFORE
    the swap; a mismatch aborts leaving the live dir untouched. Callers
    must scrub uncommitted appends first (scrub_orphan_appends), else
    live-vs-ledger counts legitimately differ and this raises."""
    heal_compaction(live_dir)
    t0 = time.time()
    files_before, bytes_before = _dir_stats(live_dir)
    df = spark.read.parquet(live_dir)
    rows = df.count()
    if expected_rows is not None and rows != expected_rows:
        raise ValueError(
            f"{live_dir}: storage has {rows} rows but the ledger commits "
            f"{expected_rows} — scrub uncommitted appends before compacting"
        )
    n_out = max(1, -(-bytes_before // max(1, target_file_bytes)))
    report = {
        "files_before": files_before,
        "bytes": int(bytes_before),
        "rows": int(rows),
        "target_files": int(n_out),
        "wall_sec": 0.0,
    }
    if files_before < min_files_to_compact or files_before <= n_out:
        report.update(files_after=files_before, compacted=False)
        return report

    new_d = live_dir + _SWAP_NEW
    (
        df.repartitionByRange(int(n_out), *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(new_d)
    )
    rewritten = spark.read.parquet(new_d).count()
    if rewritten != rows:
        shutil.rmtree(new_d, ignore_errors=True)
        raise RuntimeError(
            f"compaction rewrite of {live_dir} produced {rewritten} rows, "
            f"expected {rows} — aborted before swap, live dir untouched"
        )
    # strip Spark's _SUCCESS marker so the swapped-in dir lists clean
    for marker in glob.glob(os.path.join(new_d, "_*")):
        os.remove(marker)
    swap_live_dir(live_dir)  # heal_compaction covers a crash inside
    spark.catalog.refreshByPath(live_dir)
    files_after, _ = _dir_stats(live_dir)
    report.update(
        files_after=files_after, compacted=True, wall_sec=round(time.time() - t0, 3)
    )
    return report


def compact_level(
    spark: SparkSession,
    base: str,
    layer: int,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict:
    """Compact one tree-level checkpoint (the level-0 leaf store is the
    append-accumulating one; a level >= 1 holds at most one file per
    write task of its last rewrite). Recovers the tree's crash windows
    first (tree.recover_levels — a bare heal would discard a pending
    rewrite's rollback dir), scrubs uncommitted append leftovers,
    verifies storage rows == manifest rows, rewrites sorted by cell_id
    (levels >=1; tile-range locality) or node_id (level 0), and updates
    the manifest IN PLACE — preserving the append ledger, since retried
    appends must keep no-opping against it after their rows moved into
    compacted files."""
    from raptor_rag_spark.operators.tree import (
        _flat_level_path,
        _manifest_path,
        read_manifest,
        recover_levels,
        storage_partition_counts,
    )

    recover_levels(spark, base)
    manifest = read_manifest(base, layer)
    path = _flat_level_path(base, layer)
    committed = {a["id"] for a in manifest.get("appends", [])}
    scrubbed = scrub_orphan_appends(path, "inflight", committed)
    report = compact_parquet_dir(
        spark,
        path,
        sort_cols=["cell_id", "node_id"] if layer > 0 else ["node_id"],
        target_file_bytes=target_file_bytes,
        expected_rows=int(manifest["rows"]),
    )
    report["scrubbed_orphan_appends"] = scrubbed
    if report["compacted"]:
        # per-file counts refer to the pre-compaction files; re-read
        # them from the new footers. Everything else — rows, lineage,
        # and above all the appends ledger — carries over.
        manifest["partitions"] = storage_partition_counts(path)
        manifest.setdefault("compactions", []).append(
            {k: report[k] for k in ("files_before", "files_after", "rows", "wall_sec")}
        )
        write_meta_atomic(_manifest_path(base, layer), manifest)
    return report


def compact_ann_nodes(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict:
    """Compact a persisted TileAnnIndex's node store (nodes.parquet —
    the flat dir `append_persisted` appends into; the per-view tile
    dirs are _bk-partitioned and replaced whole, so they don't
    accumulate). meta.json's append ledger is untouched; compaction
    stats are recorded next to it."""
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    nodes_path = os.path.join(path, "nodes.parquet")
    scrubbed = scrub_orphan_appends(
        nodes_path, "append", set(meta.get("appends", []))
    )
    report = compact_parquet_dir(
        spark,
        nodes_path,
        sort_cols=[meta["id_col"]],
        target_file_bytes=target_file_bytes,
    )
    report["scrubbed_orphan_appends"] = scrubbed
    if report["compacted"]:
        meta.setdefault("compactions", []).append(
            {k: report[k] for k in ("files_before", "files_after", "rows", "wall_sec")}
        )
        write_meta_atomic(meta_path, meta)
    return report


def compact_ivf_store(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict:
    """Compact a persisted IvfIndex's ``list_id=``-partitioned store —
    the ONLY safe compaction path for it. Running bare
    ``compact_parquet_dir`` on an individual list dir would absorb the
    part files of an append that crashed before its meta.json commit
    into anonymous compacted files; the append's retry could then no
    longer find-and-scrub them by name and would land the rows twice.
    This wrapper scrubs uncommitted appends against meta.json's ledger
    first (the same discipline as compact_level / compact_ann_nodes),
    then rewrites the WHOLE store in one partitioned pass — one file
    per inverted list (a list is read whole at probe time, so intra-
    list splits buy nothing) sorted by node_id — and swaps it in
    atomically under the heal_compaction protocol. The appends ledger
    is preserved: a retried append whose rows were absorbed still
    no-ops against it."""
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    store = os.path.join(path, "store.parquet")
    # token-aware recovery, NOT bare heal: a bare heal could complete
    # the half-swap of a save() that never committed its meta, leaving
    # the store ahead of the committed centroids/ledger
    recover_save(
        [store, os.path.join(path, "centroids.parquet")],
        meta.get("save_token"),
    )
    scrubbed = scrub_orphan_appends_partitioned(
        store, "append", set(meta.get("appends", []))
    )
    if scrubbed:
        spark.catalog.refreshByPath(store)
    t0 = time.time()
    files_before, bytes_before = _dir_stats(store)
    n_lists = len(glob.glob(os.path.join(store, "list_id=*")))
    df = spark.read.parquet(store)
    rows = df.count()
    report = {
        "files_before": files_before,
        "bytes": int(bytes_before),
        "rows": int(rows),
        "scrubbed_orphan_appends": scrubbed,
        "wall_sec": 0.0,
    }
    if files_before <= n_lists:  # already <=1 file per inverted list
        report.update(files_after=files_before, compacted=False)
        return report
    new_d = store + _SWAP_NEW
    (
        df.repartition("list_id")
        .sortWithinPartitions("node_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(new_d)
    )
    rewritten = spark.read.parquet(new_d).count()
    if rewritten != rows:
        shutil.rmtree(new_d, ignore_errors=True)
        raise RuntimeError(
            f"IVF store compaction of {store} produced {rewritten} rows, "
            f"expected {rows} — aborted before swap, live store untouched"
        )
    for marker in glob.glob(os.path.join(new_d, "_*")):
        os.remove(marker)
    swap_live_dir(store)
    spark.catalog.refreshByPath(store)
    files_after, _ = _dir_stats(store)
    report.update(
        files_after=files_after, compacted=True, wall_sec=round(time.time() - t0, 3)
    )
    meta.setdefault("compactions", []).append(
        {k: report[k] for k in ("files_before", "files_after", "rows", "wall_sec")}
    )
    write_meta_atomic(meta_path, meta)
    return report
