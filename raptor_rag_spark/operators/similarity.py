"""Approximate-nearest-neighbor similarity search over an embedding
column: the multi-projection tile index (IVF/LSH analog: the cell grid
is the coarse quantizer, the ring join is the probe), measured against
knn.brute_force_knn, and tile-bucketed near-duplicate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_rag_spark.operators.knn import (
    _rank_and_take,
    _score_candidates,
    adaptive_candidates,
    brute_force_knn,
)
from raptor_rag_spark.operators.tile import (
    adaptive_tile_assignments,
    cell_key_col,
    chosen_cells_from_occupancy,
    reduce_2d,
)


class TileAnnIndex:
    """Multi-projection adaptive-quadtree ANN index (IVF/LSH analog).

    Each projection seed gives an independent 2-D tiling; candidates
    are the UNION of the per-projection probe joins — a true neighbor
    missed by one random projection is usually caught by another
    (measured on the skewed 147k-chunk corpus, k=10: recall 0.88 with
    one projection at ring 2 -> 0.94 with two). ``ring`` stays the
    recall/cost knob at query time.

    Build state is plain DataFrames (localCheckpoint'ed) + small
    broadcastable key sets — nothing driver-resident beyond that, so
    the index scales with the cluster like any other table.
    """

    def __init__(
        self,
        nodes: DataFrame,
        id_col: str = "node_id",
        dim: int | None = None,
        seeds: tuple[int, ...] = (224, 777),
        base_resolution: int = 3,
        max_occupancy: int = 256,
        max_resolution: int = 9,
        membership: str = "auto",
        quantized: bool = False,
    ) -> None:
        """``quantized=True`` stores the corpus as int8 (array<tinyint>
        + per-vector scale, operators/quantize.py) INSTEAD of float —
        the index holds no float copy, so its resident/persisted size
        drops ~4x and re-rank scoring ships 4x fewer bytes per
        candidate. Projections are computed from the float input before
        quantization (exact tiling); only the stored scoring columns
        are quantized. Search distances then carry the quantization
        error (recall measured, not assumed — measure_recall takes the
        float corpus explicitly in this mode)."""
        from raptor_rag_spark.operators.tile import MAX_BROADCAST_RESOLUTION

        if dim is None:
            dim = len(nodes.select("embedding").first()[0])
        if membership == "auto":
            membership = (
                "broadcast" if max_resolution <= MAX_BROADCAST_RESOLUTION else "join"
            )
        self.dim = dim
        self.id_col = id_col
        self.membership = membership
        self.quantized = quantized
        self.recall: float | None = None
        # append ids whose rows this index's view contains — persisted
        # as save()'s meta ledger so appends retried after a re-save
        # absorbed their rows still no-op (see append_persisted)
        self.applied_appends: list[str] = []
        self.base_resolution = base_resolution
        self.max_occupancy = max_occupancy
        self.max_resolution = max_resolution
        self.resolutions = list(range(base_resolution, max_resolution + 1))
        # the float table is pinned only for the build (projections read
        # it once per seed + one quantization pass); at production scale
        # it streams from the source table instead of a checkpoint
        flt = nodes.select(F.col(id_col).alias("node_id"), "embedding").localCheckpoint(
            eager=True
        )
        self.nodes = self._quantize_nodes(flt) if quantized else flt

        def build_view(seed: int):
            from raptor_rag_spark.operators.tile import cell_occupancy_map

            xy = reduce_2d(flt, dim=dim, seed=seed).localCheckpoint(eager=True)
            if membership == "join":
                atiles = adaptive_tile_assignments(
                    xy, "node_id", base_resolution, max_occupancy, max_resolution,
                    strategy=membership,
                ).localCheckpoint(eager=True)
                # populated cells stay a DataFrame — nothing
                # driver-resident, probes intersect it via join
                populated: set[int] | DataFrame = (
                    atiles.select("cell_key").distinct().localCheckpoint(eager=True)
                )
            else:
                # one occupancy collect feeds BOTH the assignment kernel
                # and the populated set (driver-derived — replaces a
                # second full pass over the assignment output)
                cmap = cell_occupancy_map(
                    xy.select("node_id", "x", "y"), base_resolution, max_resolution
                )
                atiles = adaptive_tile_assignments(
                    xy, "node_id", base_resolution, max_occupancy, max_resolution,
                    occupancy_map=cmap, strategy=membership,
                ).localCheckpoint(eager=True)
                populated = chosen_cells_from_occupancy(
                    cmap, base_resolution, max_resolution, max_occupancy
                )
            return (seed, xy, atiles, populated)

        # the per-seed view builds are independent jobs — overlap them
        # so one view's straggler tail back-fills with the other's work
        # (guide §2.6); 2-3 in flight is plenty
        if len(seeds) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(3, len(seeds))) as pool:
                self.views = list(pool.map(build_view, seeds))
        else:
            self.views = [build_view(s) for s in seeds]

    @staticmethod
    def _quantize_nodes(flt: DataFrame) -> DataFrame:
        from raptor_rag_spark.operators.quantize import quantize_embeddings

        return (
            quantize_embeddings(flt)
            .select("node_id", "q_vec", "q_scale")
            .localCheckpoint(eager=True)
        )

    def _bk_col(self):
        return cell_key_col(F.col("x"), F.col("y"), self.base_resolution).alias("_bk")

    def save(
        self, path: str, recall: float | None = None, partition_by_base: bool = True
    ) -> None:
        """Persist the index: nodes + per-view tile tables as parquet,
        parameters as JSON — load() reconstructs WITHOUT recomputing
        projections or occupancy (the build cost). With
        membership='broadcast' the per-view populated-cell key lists go
        into meta.json too (bounded by MAX_BROADCAST_RESOLUTION), so
        load() runs NO Spark job to rebuild them. ``recall`` (e.g. from
        measure_recall) is stored for drift detection: re-measure after
        an append and compare. Layout: <path>/meta.json, nodes.parquet,
        view-<seed>/{xy,atiles}.parquet.

        ``partition_by_base`` (default) physically partitions each
        view's xy/atiles by the base-resolution cell key (``_bk`` dirs,
        bounded by the base grid size) — the base cell is the closed
        recompute unit of incremental maintenance, so
        :meth:`append_persisted` can replace ONLY affected partition
        directories (dynamic partition overwrite).

        Safe over a LIVE path (re-save after in-memory append()s), and
        crash-atomic ACROSS tables: a loaded index's nodes/xy/atiles
        lazily READ the very dirs being replaced, and a crash between
        per-dir replacements would leave e.g. appended rows in nodes
        but in no view's tiles — silently unreachable. So the save uses
        the multi-dir token protocol (operators/maintenance.py
        recover_save): every table writes to a swap sibling stamped
        with ONE save token (ALL writes complete before ANY swap —
        the atiles write's plan reads the old xy files), all dirs swap
        in keeping the old dirs as rollback material, meta (carrying
        the token + the append ledger) commits LAST, then cleanup.
        load()/append_persisted() recover any crash window back to the
        committed save. Foreign meta keys (e.g. compact_ann_nodes'
        ``compactions``) are preserved."""
        import json
        import os
        import uuid

        from raptor_rag_spark.operators.maintenance import (
            _SWAP_NEW,
            recover_save,
            swap_live_dir,
            write_meta_atomic,
            write_save_token,
        )

        spark = self.nodes.sparkSession
        os.makedirs(path, exist_ok=True)
        meta_path = os.path.join(path, "meta.json")
        meta: dict = {}
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
        recover_save(self._table_dirs(path, meta), meta.get("save_token"))
        token = uuid.uuid4().hex
        swaps = []  # live dirs whose .compacting sibling is fully written

        def _write(df, live, part_col=None):
            w = df.write.mode("overwrite")
            if part_col:
                w = w.partitionBy(part_col)
            w.parquet(live + _SWAP_NEW)
            write_save_token(live + _SWAP_NEW, token)
            swaps.append(live)

        _write(self.nodes, os.path.join(path, "nodes.parquet"))
        seeds, keys = [], {}
        for seed, xy, atiles, pop in self.views:
            vd = os.path.join(path, f"view-{seed}")
            if partition_by_base:
                bk_map = xy.select("node_id", self._bk_col())
                _write(
                    xy.withColumn("_bk", self._bk_col()),
                    os.path.join(vd, "xy.parquet"),
                    part_col="_bk",
                )
                _write(
                    atiles.join(bk_map, "node_id"),
                    os.path.join(vd, "atiles.parquet"),
                    part_col="_bk",
                )
            else:
                _write(xy, os.path.join(vd, "xy.parquet"))
                _write(atiles, os.path.join(vd, "atiles.parquet"))
            seeds.append(seed)
            if isinstance(pop, set):
                keys[str(seed)] = sorted(pop)
        # every table fully written: swap all (keeping rollback
        # material), commit meta last, then clean up
        for live in swaps:
            swap_live_dir(live, keep_old=True)
            spark.catalog.refreshByPath(live)
        meta.update(
            {
                "partitioned_by_base": partition_by_base,
                "dim": self.dim,
                "id_col": self.id_col,
                "membership": self.membership,
                "quantized": self.quantized,
                "resolutions": self.resolutions,
                "base_resolution": self.base_resolution,
                "max_occupancy": self.max_occupancy,
                "max_resolution": self.max_resolution,
                "seeds": seeds,
                "populated_keys": keys,
                "appends": list(self.applied_appends),
                "save_token": token,
                "recall": recall if recall is not None else self.recall,
            }
        )
        write_meta_atomic(meta_path, meta)
        recover_save(swaps, token)  # step-4 cleanup

    @staticmethod
    def _table_dirs(path: str, meta: dict) -> list[str]:
        """Every parquet dir a save() replaces — the recover_save unit."""
        import os

        dirs = [os.path.join(path, "nodes.parquet")]
        for seed in meta.get("seeds", []):
            vd = os.path.join(path, f"view-{seed}")
            dirs += [os.path.join(vd, "xy.parquet"), os.path.join(vd, "atiles.parquet")]
        return dirs

    @classmethod
    def load(cls, spark, path: str) -> "TileAnnIndex":
        """Reconstruct a saved index — no projection/occupancy rebuild,
        and (broadcast membership) no collect(): key sets come straight
        from meta.json."""
        import json
        import os

        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        # BEFORE any read: a save() that crashed mid-commit may have
        # left table dirs renamed away or ahead of the committed meta
        from raptor_rag_spark.operators.maintenance import recover_save

        recover_save(cls._table_dirs(path, meta), meta.get("save_token"))
        self = cls.__new__(cls)
        self.dim = meta["dim"]
        self.id_col = meta["id_col"]
        self.applied_appends = list(meta.get("appends", []))
        self.membership = meta["membership"]
        self.quantized = meta.get("quantized", False)
        self.resolutions = meta["resolutions"]
        self.base_resolution = meta.get("base_resolution", meta["resolutions"][0])
        self.max_occupancy = meta.get("max_occupancy", 256)
        self.max_resolution = meta.get("max_resolution", meta["resolutions"][-1])
        self.recall = meta.get("recall")
        self.nodes = spark.read.parquet(os.path.join(path, "nodes.parquet"))
        saved_keys = meta.get("populated_keys", {})
        self.views = []
        for seed in meta["seeds"]:
            vd = os.path.join(path, f"view-{seed}")
            xy = spark.read.parquet(os.path.join(vd, "xy.parquet"))
            atiles = spark.read.parquet(os.path.join(vd, "atiles.parquet"))
            if "_bk" in xy.columns:  # partitioned layout: drop the dir key
                xy = xy.drop("_bk")
            if "_bk" in atiles.columns:
                atiles = atiles.drop("_bk")
            if self.membership == "join":
                populated: set[int] | DataFrame = atiles.select("cell_key").distinct()
            elif str(seed) in saved_keys:
                populated = {int(k) for k in saved_keys[str(seed)]}
            else:  # pre-r3 save layout: fall back to recomputing
                populated = {
                    int(r["cell_key"])
                    for r in atiles.select("cell_key").distinct().collect()
                }
            self.views.append((seed, xy, atiles, populated))
        return self

    def append(self, new_nodes: DataFrame) -> dict:
        """Incremental index maintenance — the FAISS ``index.add``
        analog (the reference's FaissRetriever rebuilds from scratch on
        change; crawl-scale ingest cannot rebuild projections per
        batch). Mirrors streaming.incremental_update's affected-cell
        argument: per projection, ONLY base-resolution cells that
        receive new points are re-tiled.

        Why the local recompute is exact: a point's adaptive resolution
        is the coarsest r with count(cell_r(p)) <= cap, and every
        cell_r(p) with r >= base is nested inside cell_base(p) (quadkey
        prefix property), so counts of any cell under an affected base
        cell involve only that base cell's points — re-running the
        one-pass rule over exactly those points equals the global
        rebuild (pytest: append == rebuild, row-identical).

        All heavy steps are DataFrame plans (semi/anti joins on the
        base key); the only collects are the O(affected) dropped/added
        key-set deltas for broadcast membership (bounded the same way
        the constructor's key set is). ``new_nodes`` must carry ids
        disjoint from the existing corpus (same contract as the tree's
        level-0 append). Returns per-view stats
        {seed: {"affected_base_cells": n, "retiled_rows": n}}.

        Recall drift: the stored ``self.recall`` is intentionally left
        as the pre-append measurement — call ``measure_recall`` after
        appending and compare (then ``save(path, recall=new)`` to
        re-pin)."""
        add = new_nodes.select(
            F.col(self.id_col).alias("node_id"), "embedding"
        ).localCheckpoint(eager=True)
        stats: dict = {}
        new_views = []
        for seed, xy, atiles, populated in self.views:
            new_xy = reduce_2d(add, dim=self.dim, seed=seed).localCheckpoint(eager=True)
            bk = cell_key_col(F.col("x"), F.col("y"), self.base_resolution).alias("_bk")
            aff = new_xy.select(bk).distinct().localCheckpoint(eager=True)
            merged_xy = xy.unionByName(new_xy)
            with_bk = merged_xy.withColumn("_bk", bk)
            in_aff = with_bk.join(aff, "_bk", "left_semi").drop("_bk")
            retiled = adaptive_tile_assignments(
                in_aff,
                "node_id",
                self.base_resolution,
                self.max_occupancy,
                self.max_resolution,
                strategy=self.membership,
            ).localCheckpoint(eager=True)
            moved_ids = in_aff.select("node_id")
            kept = atiles.join(moved_ids, "node_id", "left_anti")
            atiles2 = kept.unionByName(retiled).localCheckpoint(eager=True)
            xy2 = merged_xy.localCheckpoint(eager=True)
            if isinstance(populated, DataFrame):
                pop2: set[int] | DataFrame = (
                    atiles2.select("cell_key").distinct().localCheckpoint(eager=True)
                )
            else:
                # O(affected) set delta: keys under an affected base cell
                # appear ONLY in the re-tiled region (prefix nesting), so
                # (old - dropped) | added is exact
                dropped = {
                    int(r["cell_key"])
                    for r in atiles.join(moved_ids, "node_id", "left_semi")
                    .select("cell_key")
                    .distinct()
                    .collect()
                }
                added = {
                    int(r["cell_key"])
                    for r in retiled.select("cell_key").distinct().collect()
                }
                pop2 = (populated - dropped) | added
            stats[seed] = {
                "affected_base_cells": aff.count(),
                "retiled_rows": retiled.count(),
            }
            new_views.append((seed, xy2, atiles2, pop2))
        self.views = new_views
        stored = self._quantize_nodes(add) if self.quantized else add
        self.nodes = self.nodes.unionByName(stored).localCheckpoint(eager=True)
        return stats

    def append_persisted(self, path: str, new_nodes: DataFrame) -> dict:
        """Incremental maintenance of a PERSISTED index (the crawl-scale
        ingest path): like :meth:`append`, but against the saved layout —
        per view, only the affected base-cell PARTITION DIRECTORIES are
        read (partition pruning on ``_bk``) and replaced (dynamic
        partition overwrite); untouched partition files are never read
        or written (pytest: byte-identical). New node rows append as
        immutable files, so a 10^12-node persisted index absorbs a
        batch at O(affected-cells) I/O instead of a full rewrite.

        Requires a ``save(partition_by_base=True)`` layout (the
        default). The in-memory views are re-pointed at the updated
        storage (lazy reads). Returns per-view stats.

        Crash-safe + idempotent under retry (the same discipline as
        the tree's ``append_level``): the batch's content-derived id is
        recorded in meta.json LAST, so a retry after a post-commit
        crash no-ops; a retry after a MID-crash is made exact-once by
        (a) anti-joining the batch's node_ids out of the re-read
        affected partitions before the re-tile (so a half-applied xy/
        atiles overwrite replays to the same rows), and (b) staging
        the nodes.parquet delta under id-named part files with
        leftover scrubbing (so node rows land exactly once)."""
        import json
        import os

        spark = self.nodes.sparkSession
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        # BEFORE any read: recover a save() that crashed mid-commit
        from raptor_rag_spark.operators.maintenance import (
            recover_save,
            write_meta_atomic,
        )

        recover_save(self._table_dirs(path, meta), meta.get("save_token"))
        if not meta.get("partitioned_by_base"):
            raise ValueError(
                "append_persisted needs a save(partition_by_base=True) layout; "
                "re-save the index first"
            )
        from raptor_rag_spark.functions.staging import content_append_id

        add = new_nodes.select(
            F.col(self.id_col).alias("node_id"), "embedding"
        ).localCheckpoint(eager=True)
        # id covers the embeddings, not just the ids: a repair batch
        # re-presenting the same node_ids with corrected vectors must
        # apply, not silently no-op against the applied ledger
        append_id = content_append_id(add, ["node_id", "embedding"])
        if append_id in meta.get("appends", []):
            # the rows are on disk (commit-last) — re-point this index's
            # views at storage so a retrying caller sees them
            fresh = TileAnnIndex.load(spark, path)
            self.nodes, self.views = fresh.nodes, fresh.views
            self.applied_appends = list(meta.get("appends", []))
            return {"already_applied": append_id}
        stats: dict = {"append_id": append_id}
        keys_meta = meta.get("populated_keys", {})
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            for seed in meta["seeds"]:
                vd = os.path.join(path, f"view-{seed}")
                xy_path = os.path.join(vd, "xy.parquet")
                at_path = os.path.join(vd, "atiles.parquet")
                new_xy = reduce_2d(add, dim=self.dim, seed=seed).withColumn(
                    "_bk", self._bk_col()
                )
                # affected base cells: bounded by the batch (and by the
                # base grid); the driver-side list IS the partition
                # filter, same shape as the tree's affected-cell list
                aff = sorted(
                    int(r["_bk"]) for r in new_xy.select("_bk").distinct().collect()
                )
                old_xy = spark.read.parquet(xy_path)
                # pinned BEFORE the overwrite: this plan reads the very
                # partition files the write below replaces. The anti-join
                # drops any batch rows a crashed earlier attempt already
                # wrote into these partitions — the replay converges to
                # the same row set instead of duplicating the batch.
                in_aff = (
                    old_xy.filter(F.col("_bk").isin(aff))
                    .join(add.select("node_id"), "node_id", "left_anti")
                    .unionByName(new_xy)
                    .localCheckpoint(eager=True)
                )
                retiled = adaptive_tile_assignments(
                    in_aff.drop("_bk"),
                    "node_id",
                    self.base_resolution,
                    self.max_occupancy,
                    self.max_resolution,
                    strategy=self.membership,
                ).join(in_aff.select("node_id", "_bk"), "node_id").localCheckpoint(
                    eager=True
                )
                old_at = spark.read.parquet(at_path)
                dropped = {
                    int(r["cell_key"])
                    for r in old_at.filter(F.col("_bk").isin(aff))
                    .select("cell_key")
                    .distinct()
                    .collect()
                }
                added = {
                    int(r["cell_key"])
                    for r in retiled.select("cell_key").distinct().collect()
                }
                retiled.write.mode("overwrite").partitionBy("_bk").parquet(at_path)
                in_aff.write.mode("overwrite").partitionBy("_bk").parquet(xy_path)
                spark.catalog.refreshByPath(at_path)
                spark.catalog.refreshByPath(xy_path)
                if str(seed) in keys_meta:
                    old_keys = {int(k) for k in keys_meta[str(seed)]}
                    keys_meta[str(seed)] = sorted((old_keys - dropped) | added)
                stats[seed] = {
                    "affected_base_cells": len(aff),
                    "retiled_rows": retiled.count(),
                }
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        stored = self._quantize_nodes(add) if self.quantized else add
        # exact-once node-row append (shared staging discipline with the
        # tree's append_level — functions/staging.py): commit meta LAST
        from raptor_rag_spark.functions.staging import stage_parquet_append

        nodes_path = os.path.join(path, "nodes.parquet")
        stage_parquet_append(stored, nodes_path, append_id, part_prefix="append")
        meta["populated_keys"] = keys_meta
        meta.setdefault("appends", []).append(append_id)
        write_meta_atomic(os.path.join(path, "meta.json"), meta)
        # re-point the in-memory state at the updated storage
        fresh = TileAnnIndex.load(spark, path)
        self.nodes, self.views = fresh.nodes, fresh.views
        self.applied_appends = list(meta["appends"])
        return stats

    def measure_recall(
        self,
        queries: DataFrame,
        k: int = 10,
        ring: int = 2,
        exact_nodes: DataFrame | None = None,
    ) -> float:
        """recall@k of this index's search vs exact brute force over the
        same queries — the number save() embeds for drift detection.
        Offline check: runs a full exact kNN over the corpus per call.
        A quantized index stores no float corpus, so the exact baseline
        must be passed in (``exact_nodes`` = (node_id, embedding))."""
        if exact_nodes is None:
            if self.quantized:
                raise ValueError(
                    "quantized index stores no float corpus — pass "
                    "exact_nodes=(node_id, embedding) for the exact baseline"
                )
            exact_nodes = self.nodes
        approx = self.search(queries, k=k, ring=ring).select("query_id", "node_id")
        exact = brute_force_knn(queries, exact_nodes, k=k).select("query_id", "node_id")
        hit = approx.join(exact, ["query_id", "node_id"], "inner").count()
        total = exact.count()
        return hit / total if total else 1.0

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        ring: int = 2,
        scoring: str = "auto",
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """queries(query_id, q_embedding) -> (query_id, node_id, dist,
        rank<=k). Exact cosine over the unioned candidate set.
        ``scoring='auto'`` switches the re-rank (and the probe-join
        hint) from the broadcast fast path to the fully distributed
        join path above BROADCAST_MAX_QUERIES queries.

        ``allowed``: one-column (node_id) allowlist — FILTERED ANN.
        Candidates are semi-joined against it BEFORE the embedding join
        and scoring kernel, so disallowed nodes never ship a vector.
        Metadata predicates become
        ``allowed=metadata.filter(pred).select("node_id")`` (predicate
        pushdown happens on the metadata scan). Under a selective
        filter, fewer candidates survive per probe cell — raise
        ``ring`` to restore recall (the probe region, not the corpus
        tiling, is what bounds filtered recall)."""
        from raptor_rag_spark.operators.knn import _resolve_strategy

        q = queries.localCheckpoint(eager=True)
        scoring = _resolve_strategy(scoring, q)
        cands = None
        for seed, _xy, atiles, populated in self.views:
            q_xy = reduce_2d(
                q.withColumnRenamed("q_embedding", "embedding"), dim=self.dim, seed=seed
            ).select(F.col("query_id"), "x", "y")
            c = adaptive_candidates(
                q_xy, atiles, populated, self.resolutions, ring,
                broadcast_probe=(scoring == "broadcast"),
            )
            cands = c if cands is None else cands.unionByName(c)
        cands = cands.dropDuplicates(["query_id", "node_id"])
        if allowed is not None:
            from raptor_rag_spark.operators.knn import semi_filter_allowed

            cands = semi_filter_allowed(cands, allowed)
        if self.quantized:
            from raptor_rag_spark.operators.knn import _score_candidates_quantized

            scored = _score_candidates_quantized(
                cands.join(self.nodes, "node_id"), q, strategy=scoring
            )
        else:
            scored = _score_candidates(
                cands.join(self.nodes, "node_id"), q, strategy=scoring
            )
        return _rank_and_take(scored, k)


def self_similarity_pairs(
    items: DataFrame,
    min_cosine: float = 0.9,
    resolution: int = 3,
    item_id: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Tile-bucketed near-dup pair search: candidates must be co-located
    in the same soft cell (the border band catches cross-boundary
    pairs), then exact cosine verify. The quadratic blowup is per-cell,
    bounded by cell occupancy — the metric-pruned scale path for
    embedding near-dup (vs the exact blocked all-pairs in
    dedup.embedding_neardup_pairs, whose shuffle is N * n_blocks rows).

    Scoring is a per-cell ``applyInPandas`` matmul: each cell group
    builds its (occupancy x dim) matrix once and emits qualifying pairs
    from one BLAS product — no per-pair Catalyst higher-order functions
    (interpreted, ~0.27 ms/row measured) and no pair rows carrying two
    embeddings through a shuffle: only (id, embedding, cell) shuffles,
    amplified by the soft-band factor (<= 4x, corner case)."""
    import numpy as np
    import pandas as pd

    from raptor_rag_spark.operators.tile import tile_soft

    if dim is None:
        dim = len(items.select("embedding").first()[0])
    xy = reduce_2d(items, dim=dim)
    t = tile_soft(xy, resolution).select(
        F.col(item_id).cast("long").alias("id"), "cell_id", "embedding"
    )

    def cell_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        # soft assignment can put the same point into this cell via
        # several (dx,dy) offsets only across DIFFERENT cells, but be
        # safe against duplicate ids within a group
        _, uniq = np.unique(ids, return_index=True)
        ids = ids[uniq]
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        mat = np.array(list(pdf["embedding"].iloc[uniq]), dtype=np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        nrm[nrm == 0] = 1.0
        sims = (mat @ mat.T) / np.outer(nrm, nrm)
        ii, jj = np.nonzero((sims >= min_cosine) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"id_a": ids[ii], "id_b": ids[jj], "cosine": np.round(sims[ii, jj], 6)}
        )

    pairs = t.groupBy("cell_id").applyInPandas(
        cell_kernel, "id_a long, id_b long, cosine double"
    )
    # a pair co-located in several soft cells is emitted once per cell
    return pairs.dropDuplicates(["id_a", "id_b"])
