"""IVF (inverted-file) ANN index — the k-means coarse-quantizer member
of the similarity family, alongside the projection/quadtree
``TileAnnIndex`` (operators/similarity.py).

The reference ships only a flat exact index (FaissRetriever.py:192-200,
``faiss.IndexFlatIP``); FAISS's own scale path for that index is the
IVF family (IndexIVFFlat: train a k-means coarse quantizer, bucket
vectors into inverted lists, probe the ``nprobe`` nearest lists at
query time). This module recasts that design Spark-first:

- **Train** on a deterministic bounded sample (``xxhash64(id, seed)``
  order — repartition-invariant, same trick as stratified sampling in
  textstats.py). The sample is the ONLY driver-resident build state and
  its size is a constant independent of corpus size — exactly how FAISS
  trains IVF on a sample, never the full set. Spherical k-means
  (unit-norm centroids) matches cosine/IP search.
- **Assign** every corpus vector to its nearest centroid in one
  map-only Arrow pass (broadcast centroid matrix, one BLAS matmul per
  batch; argmax over unit centroids is scale-invariant, so corpus
  vectors need no normalization). No shuffle: the inverted "lists" are
  just a (node_id, list_id) DataFrame.
- **Search** probes the top-``nprobe`` centroids per query with the
  same broadcast-matmul kernel (map-only on the query side, so 10^6+
  query batches probe without any driver collect), equi-joins the list
  table on list_id for candidates, then reuses the exact cosine re-rank
  kernel from operators/knn.py (`_score_candidates`, float or int8
  lists; broadcast while the queries fit the driver, else a join —
  planutil.rows_fit_driver).

Scale notes (100 TB): the centroid matrix is nlist x dim floats
(4096 x 1024 x 8B = 32 MB) — a legitimate broadcast, like the tile
index's key sets. The candidate join shuffles on list_id with at most
nlist distinct keys; hot lists (skewed corpora) are the IVF analog of
hot cells and the same mitigations apply (raise nlist, AQE skew join —
spherical k-means already splits dense regions into more lists than
uniform tiling would). nlist ~ sqrt(N) is the usual guidance; nprobe is
the recall/cost knob, and nprobe == nlist degenerates to exact brute
force (pytest-asserted equality).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_rag_spark.functions.planutil import rows_fit_driver
from raptor_rag_spark.operators.knn import (
    _rank_and_take,
    _score_candidates,
    node_vector_cols,
    require_integral_id,
    semi_filter_allowed,
    vec_matrix,
)
from raptor_rag_spark.operators.quantize import quantized_nodes
from raptor_rag_spark.operators.similarity import measure_index_recall


_FOREIGN_QUANTIZER_MSG = (
    "append_persisted: this index's centroid matrix differs from the "
    "persisted store's at {path} — rows would be filed into lists the "
    "store's probes never scan. Load the index from this path "
    "(IvfIndex.load) and append via it."
)


def _centroid_hash(cent) -> str:
    """Content hash of a float64 centroid matrix — persisted in
    meta.json so append_persisted can validate the coarse quantizer
    without a sidecar read per micro-batch."""
    import hashlib

    import numpy as np

    m = np.ascontiguousarray(np.asarray(cent, dtype=np.float64))
    return hashlib.md5(
        str(m.shape).encode() + m.tobytes()
    ).hexdigest()


def _write_centroid_sidecar(centroids, dir_path: str) -> None:
    """Write the (nlist, dim) centroid matrix as a one-file parquet dir
    straight from the driver with pyarrow. The sidecar is tiny (nlist
    rows) and driver-resident by construction, so a Spark job here is
    pure overhead — a local-list createDataFrame scan costs seconds per
    action (Python-RDD round trip; measured 6.4 s for 64 rows in the
    save slot) while the pyarrow write is sub-millisecond. Schema
    matches the previous Spark write (list_id int, centroid
    array<double>), so old stores and new stores read identically."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    m = np.asarray(centroids, dtype=np.float64)
    tbl = pa.table(
        {
            "list_id": pa.array(np.arange(len(m), dtype=np.int32)),
            "centroid": pa.array(
                [[float(v) for v in row] for row in m], type=pa.list_(pa.float64())
            ),
        }
    )
    import shutil

    shutil.rmtree(dir_path, ignore_errors=True)  # mode('overwrite') analog
    os.makedirs(dir_path)
    pq.write_table(tbl, os.path.join(dir_path, "part-00000.parquet"))


def _read_centroid_sidecar(dir_path: str):
    """Driver-side read of the centroid sidecar (any parquet layout —
    pyarrow reads the dir's part files), sorted by list_id. No Spark
    job: the sidecar is bounded by nlist."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(dir_path, ignore_prefixes=["_", "."])
    pdf = tbl.to_pandas().sort_values("list_id")
    return np.asarray(list(pdf["centroid"]), dtype=np.float64)


def train_centroids(
    nodes: DataFrame,
    nlist: int,
    id_col: str = "node_id",
    emb_col: str = "embedding",
    seed: int = 42,
    train_sample: int = 16384,
    n_iters: int = 10,
):
    """Deterministic spherical k-means over a bounded sample ->
    (nlist', dim) unit-norm float64 centroid matrix (nlist' <= nlist
    when the sample is smaller than nlist).

    Determinism: the sample is the first ``train_sample`` rows by
    (xxhash64(id, seed), id) — invariant to partitioning and input
    order; init picks ``nlist`` distinct sample rows via a seeded RNG;
    Lloyd updates are numpy reductions over that fixed sample, so two
    builds from the same data are bit-identical. An emptied list keeps
    its previous centroid (no random re-seeding mid-iteration).
    """
    import numpy as np

    sample_pdf = (
        nodes.select(id_col, emb_col)
        .withColumn("_h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("_h", id_col)
        .limit(train_sample)
        .select(emb_col)
        .toPandas()
    )
    x = vec_matrix(sample_pdf[emb_col], emb_col, "train_centroids")
    if not len(x):
        raise ValueError("train_centroids: empty corpus")
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    x = x / norms

    k = min(nlist, len(x))
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=k, replace=False)].copy()
    for _ in range(n_iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cent[j] = c / n
    return cent


def assign_lists(
    nodes: DataFrame,
    centroids,
    id_col: str = "node_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(node_id, list_id) nearest-centroid assignment — one map-only
    Arrow pass, broadcast centroids, no shuffle."""
    import numpy as np
    import pandas as pd

    require_integral_id(nodes, id_col, "assign_lists")
    spark = nodes.sparkSession
    b_cent = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    dim = int(np.asarray(centroids).shape[1])

    def kernel(it):
        c = b_cent.value
        for pdf in it:
            if not len(pdf):
                continue
            mat = vec_matrix(pdf[emb_col], emb_col, "assign_lists", expect_dim=dim)
            lid = np.argmax(mat @ c.T, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "list_id": lid.astype(np.int32),
                }
            )

    return nodes.select(id_col, emb_col).mapInPandas(
        kernel, f"{id_col} long, list_id int"
    )


class IvfIndex:
    """Inverted-file ANN index: k-means coarse quantizer + inverted
    lists as a DataFrame + exact cosine re-rank over probed lists.

    Mirrors ``TileAnnIndex``'s shape: build state is two DataFrames
    (``lists``: (node_id, list_id), pinned; ``nodes``: the scoring
    columns) plus the small centroid matrix — nothing else
    driver-resident, so the index scales with the cluster.
    """

    def __init__(
        self,
        nodes: DataFrame,
        id_col: str = "node_id",
        dim: int | None = None,
        nlist: int = 64,
        seed: int = 42,
        train_sample: int = 16384,
        n_iters: int = 10,
        quantized: bool = False,
        _skip_build: bool = False,
    ) -> None:
        """``quantized=True`` stores the inverted lists as int8
        (array<tinyint> + one scale per vector, operators/quantize.py)
        with NO float copy — ~4x smaller resident/persisted lists and 4x fewer
        bytes per probed partition (compounds with the persisted
        store's partition pruning). Training and list assignment run on
        the float input BEFORE quantization, so the coarse quantizer
        and list structure are identical to the float index
        (pytest-asserted); only the stored scoring columns differ, and
        distances carry the documented int8 rounding error."""
        import numpy as np

        self.id_col = id_col
        self.nlist = nlist
        self.seed = seed
        self.train_sample = train_sample
        self.n_iters = n_iters
        self.quantized = quantized
        self.recall: float | None = None
        # append ids whose rows this index's view contains — persisted
        # as save()'s ledger so retries of absorbed appends still no-op
        self.applied_appends: list[str] = []
        # set by load(): the list_id-partitioned on-disk store whose
        # scan prunes to the probed lists (see save())
        self.store: DataFrame | None = None
        if _skip_build:
            return
        require_integral_id(nodes, id_col, "IvfIndex")
        if dim is None:
            dim = len(nodes.select("embedding").first()[0])
        self.dim = dim
        flt = nodes.select(
            F.col(id_col).alias("node_id"), "embedding"
        ).localCheckpoint(eager=True)
        self.centroids = train_centroids(
            flt, nlist, "node_id", "embedding", seed, train_sample, n_iters
        )
        self.lists = assign_lists(flt, self.centroids).localCheckpoint(eager=True)
        self.nodes = quantized_nodes(flt) if quantized else flt

    @property
    def _val_cols(self) -> tuple:
        return node_vector_cols(self.nodes)

    def list_sizes(self) -> DataFrame:
        """(list_id, n) occupancy per inverted list — the skew
        diagnostic (hot lists are the IVF analog of hot cells)."""
        return self.lists.groupBy("list_id").agg(F.count("*").alias("n"))

    def _probe(self, queries: DataFrame, nprobe: int) -> DataFrame:
        """(query_id, list_id) top-nprobe centroids per query; map-only
        on the query side (broadcast centroid matmul), so arbitrarily
        large query batches probe without a driver collect."""
        import numpy as np
        import pandas as pd

        require_integral_id(queries, "query_id", "IvfIndex.search")
        spark = queries.sparkSession
        b_cent = spark.sparkContext.broadcast(self.centroids)
        npb = min(nprobe, len(self.centroids))
        dim = self.dim

        def kernel(it):
            c = b_cent.value
            for pdf in it:
                if not len(pdf):
                    continue
                q_mat = vec_matrix(
                    pdf["q_embedding"], "q_embedding", "IvfIndex.search", expect_dim=dim
                )
                sims = q_mat @ c.T
                part = np.argpartition(-sims, npb - 1, axis=1)[:, :npb]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            pdf["query_id"].to_numpy(dtype=np.int64), npb
                        ),
                        "list_id": part.reshape(-1).astype(np.int32),
                    }
                )

        return queries.select("query_id", "q_embedding").mapInPandas(
            kernel, "query_id long, list_id int"
        )

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 8,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """queries(query_id, q_embedding) -> (query_id, node_id, dist,
        rank<=k); exact cosine over the probed lists' members, scored
        by broadcast while the queries fit the driver
        (planutil.rows_fit_driver), else by a distributed join.

        ``allowed``: one-column node allowlist (FILTERED ANN), applied
        before the embedding join so disallowed nodes never ship a
        vector; under a selective filter raise ``nprobe`` to restore
        recall (the probe region bounds filtered recall, same trade as
        the tile index's ``ring``).
        """
        q = queries.localCheckpoint(eager=True)
        broadcast = rows_fit_driver(q)
        pc = self._probe(q, nprobe)
        if self.store is not None and broadcast:
            # loaded partitioned store: the probed list ids become a
            # STATIC partition filter on the store scan, so only those
            # list_id directories are read — FAISS's inverted-list seek
            # as parquet partition pruning (plan-asserted in tests).
            # The collect is bounded by nlist distinct ints (NOT by
            # query or corpus count); Catalyst's DynamicPruning rule
            # can't fire here (it needs a selective filter predicate on
            # the probe side, and a computed probe has none), so the
            # bounded static filter is the reliable route. On the join
            # path (a batch past the driver bound) nearly every list is
            # probed anyway — pruning buys nothing, skip the materialization.
            pc = pc.localCheckpoint(eager=True)
            probed = [r[0] for r in pc.select("list_id").distinct().collect()]
            store = self.store.filter(F.col("list_id").isin(probed))
            cands = F.broadcast(pc).join(store, "list_id").select(
                "query_id", "node_id", *self._val_cols
            )
        elif self.store is not None:
            cands = pc.join(self.store, "list_id").select(
                "query_id", "node_id", *self._val_cols
            )
        else:
            probe = F.broadcast(pc) if broadcast else pc
            cands = probe.join(self.lists, "list_id").select("query_id", "node_id")
        if allowed is not None:
            cands = semi_filter_allowed(cands, allowed)
        if self.store is None:
            cands = cands.join(self.nodes, "node_id")
        scored = _score_candidates(cands, q, broadcast=broadcast)
        return _rank_and_take(scored, k)

    def append(self, new_nodes: DataFrame) -> dict:
        """Absorb an append batch: assign the new vectors to the FIXED
        existing centroids (one map-only pass — standard IVF practice;
        FAISS IndexIVF.add does exactly this) and extend nodes + lists.
        No re-training, no re-assignment of existing rows, no shuffle.

        The coarse quantizer staying fixed is what makes appends O(new):
        the cost is that a drifting corpus distribution slowly degrades
        list balance/recall — the documented workflow is measure_recall
        before/after and re-train (rebuild) when drift exceeds budget,
        mirroring TileAnnIndex's recall-drift field.

        Returns {"appended": n} for the caller's ledger. On a loaded
        index the in-memory view absorbs the batch and the partitioned
        on-disk store is dropped from the search path (stale) — call
        save() again to re-persist with the new rows in their lists.
        """
        self.store = None
        new = new_nodes.select(
            F.col(self.id_col).alias("node_id")
            if self.id_col in new_nodes.columns
            else F.col("node_id"),
            "embedding",
        )
        require_integral_id(new, "node_id", "IvfIndex.append")
        dup = self.nodes.select("node_id").join(
            new.select("node_id"), "node_id", "left_semi"
        )
        if dup.take(1):
            raise ValueError(
                "IvfIndex.append: batch contains node_ids already in the "
                "index — appends must be new rows (dedup upstream)"
            )
        new = new.localCheckpoint(eager=True)
        new_lists = assign_lists(new, self.centroids).localCheckpoint(eager=True)
        stored = quantized_nodes(new) if self.quantized else new
        self.nodes = self.nodes.unionByName(stored).localCheckpoint(eager=True)
        self.lists = self.lists.unionByName(new_lists).localCheckpoint(eager=True)
        return {"appended": new.count()}

    def append_persisted(self, path: str, new_nodes: DataFrame) -> dict:
        """Incremental maintenance of a PERSISTED index (the crawl-scale
        ingest path): assign the batch to the FIXED centroids and land
        its rows as new id-named part files INSIDE the affected
        ``list_id=`` partition directories — no existing file is read or
        rewritten (an IVF append is pure row insertion, simpler than the
        tile index's re-tiling), partition pruning keeps working on the
        appended rows, and I/O is O(new rows + affected lists), bounded
        by nlist. Mirrors ``TileAnnIndex.append_persisted``'s
        crash-safe discipline (functions/staging.py): the batch's
        content-derived id is committed to meta.json LAST, so a
        post-commit retry no-ops on the ledger; a mid-crash retry first
        scrubs this id's half-landed files BY NAME (restoring the
        pre-append view before the duplicate check) and replays to the
        identical file set. The in-memory store/nodes/lists re-point at
        the updated storage (lazy reads) — on the already-applied path
        too, so a post-commit retry leaves the index seeing the rows
        that ARE on disk.

        The target store's coarse quantizer must be THIS index's: the
        params (dim/nlist/seed/...) and the persisted centroid matrix
        are checked against self before any write — filing rows by a
        different quantizer would land them in lists the store's own
        probes never scan (silent recall loss, no error anywhere).

        After many appended micro-batches the per-list file count
        grows; ``operators/maintenance.compact_ivf_store`` is the
        compaction story (NOT bare compact_parquet_dir on a list dir —
        that would absorb uncommitted-append leftovers irrecoverably;
        the wrapper scrubs against this ledger first).
        """
        import numpy as np

        from raptor_rag_spark.functions.staging import (
            content_append_id,
            scrub_partitioned_leftovers,
            stage_partitioned_parquet_append,
        )
        from raptor_rag_spark.operators.maintenance import (
            recover_save,
            write_meta_atomic,
        )

        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        spark = new_nodes.sparkSession
        store_path = os.path.join(path, "store.parquet")
        cent_path = os.path.join(path, "centroids.parquet")
        # BEFORE any read: recover a save() that crashed mid-commit —
        # the store/centroid dirs may be renamed away or ahead of meta
        recover_save([store_path, cent_path], meta.get("save_token"))
        if bool(meta.get("quantized", False)) != self.quantized:
            raise ValueError(
                "append_persisted: index quantized flag does not match the "
                "persisted store at this path"
            )
        for key in ("dim", "nlist", "seed", "train_sample", "n_iters"):
            if meta.get(key) != getattr(self, key):
                raise ValueError(
                    f"append_persisted: index {key}={getattr(self, key)!r} "
                    f"!= persisted store's {key}={meta.get(key)!r} at {path}"
                    " — this index's coarse quantizer is not the store's"
                )
        new = new_nodes.select(
            F.col(self.id_col).alias("node_id")
            if self.id_col in new_nodes.columns
            else F.col("node_id"),
            "embedding",
        )
        require_integral_id(new, "node_id", "IvfIndex.append_persisted")
        new = new.localCheckpoint(eager=True)
        append_id = content_append_id(new, ["node_id", "embedding"])
        if append_id in meta.get("appends", []):
            # the rows are on disk (commit-last) — re-point the views at
            # storage so this index sees them, same as the applied path.
            # Checked BEFORE the centroid validation so retry no-ops
            # stay cheap (no sidecar read).
            self._repoint_storage(spark, store_path, meta.get("appends", []))
            return {"already_applied": append_id}
        mine = np.asarray(self.centroids, dtype=np.float64)
        if meta.get("centroid_hash"):
            if _centroid_hash(mine) != meta["centroid_hash"]:
                raise ValueError(_FOREIGN_QUANTIZER_MSG.format(path=path))
        else:  # pre-hash save layout: compare the sidecar itself
            stored_cent = _read_centroid_sidecar(cent_path)
            if stored_cent.shape != mine.shape or not np.array_equal(
                stored_cent, mine
            ):
                raise ValueError(_FOREIGN_QUANTIZER_MSG.format(path=path))
        # roll back any half-landed files of THIS id before the dup
        # check — a mid-crash replay must compare against the
        # pre-append row set, not its own partial leftovers
        if scrub_partitioned_leftovers(store_path, append_id, "append"):
            spark.catalog.refreshByPath(store_path)
        store = spark.read.parquet(store_path)
        if store.select("node_id").join(
            new.select("node_id"), "node_id", "left_semi"
        ).take(1):
            raise ValueError(
                "IvfIndex.append_persisted: batch contains node_ids already "
                "in the index — appends must be new rows (dedup upstream)"
            )
        new_lists = assign_lists(new, self.centroids)
        stored = quantized_nodes(new) if self.quantized else new
        rows = (
            stored.join(new_lists, "node_id")
            .select("list_id", "node_id", *self._val_cols)
            .repartition("list_id")
        )
        touched = stage_partitioned_parquet_append(
            rows, store_path, append_id, "list_id", "append"
        )
        meta.setdefault("appends", []).append(append_id)
        write_meta_atomic(os.path.join(path, "meta.json"), meta)
        self._repoint_storage(spark, store_path, meta["appends"])
        return {
            "append_id": append_id,
            "appended": new.count(),
            "affected_lists": touched,
        }

    def _repoint_storage(self, spark, store_path: str, appends: list) -> None:
        """Point store/nodes/lists at lazy reads of the (just-updated)
        partitioned store and sync the applied-append ledger."""
        spark.catalog.refreshByPath(store_path)
        fresh = spark.read.parquet(store_path)
        self.store = fresh
        self.nodes = fresh.select("node_id", *node_vector_cols(fresh))
        self.lists = fresh.select("node_id", "list_id")
        self.applied_appends = list(appends)

    def measure_recall(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 8,
        exact_nodes: DataFrame | None = None,
    ) -> float:
        """recall@k vs exact brute force — offline drift check, same
        contract as TileAnnIndex.measure_recall (measure_index_recall)."""
        return measure_index_recall(self, queries, k, exact_nodes, nprobe=nprobe)

    def save(self, path: str, recall: float | None = None) -> None:
        """Persist the index with the inverted lists AS PARQUET
        PARTITIONS: ``store.parquet/list_id=<j>/`` holds list j's
        (node_id, embedding) rows — the Spark-native transliteration of
        FAISS's on-disk inverted-list layout. A loaded index's search
        then reads ONLY the probed lists from disk: search() collects
        the probed list ids (bounded by nlist distinct ints, never by
        query or corpus count) into a STATIC ``isin`` partition filter
        on the store scan — plan-asserted in tests as an INSET in the
        scan's PartitionFilters. (Catalyst's DynamicPruning rule cannot
        fire here: it needs a selective filter predicate on the probe
        side and a computed probe has none — see the comment in
        search(); removing the collect+isin would silently lose ALL
        partition pruning.) An nprobe/nlist probe thus scans
        nprobe/nlist of the corpus bytes; the partition count is
        bounded by nlist (≤ thousands of dirs), never by corpus size.

        Saving over a LIVE path — the re-save after append()s, which is
        also a loaded index's small-file compaction story — is safe and
        crash-atomic ACROSS both tables: for a loaded index nodes/lists
        lazily READ the very store.parquet being replaced (a direct
        overwrite is Spark's cannot-overwrite-a-path-being-read-from
        error), and a half-replaced store+centroids pair would be a
        mismatched quantizer. So the save uses the multi-dir token
        protocol (operators/maintenance.py recover_save): both tables
        write to swap siblings stamped with ONE save token, swap in
        keeping the old dirs as rollback material, commit meta
        (carrying the token) LAST, then clean up — load/append recover
        any crash window back to the committed save. The views re-point
        at the new storage afterwards. ``applied_appends`` persists as
        the meta ledger, so an append retried after its rows were
        absorbed by a re-save still no-ops; foreign meta keys (e.g.
        compact_ivf_store's ``compactions`` history) are preserved.

        Centroids + params land as small sidecars; ``recall`` embeds
        the measured drift baseline."""
        import uuid

        from raptor_rag_spark.operators.maintenance import (
            _SWAP_NEW,
            recover_save,
            swap_live_dir,
            write_meta_atomic,
            write_save_token,
        )

        spark = self.nodes.sparkSession
        store_path = os.path.join(path, "store.parquet")
        cent_path = os.path.join(path, "centroids.parquet")
        meta_path = os.path.join(path, "meta.json")
        meta: dict = {}
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
        recover_save([store_path, cent_path], meta.get("save_token"))
        token = uuid.uuid4().hex
        (
            self.nodes.join(self.lists, "node_id")
            .select("list_id", "node_id", *self._val_cols)
            # co-locate each inverted list before the partitioned write:
            # one file per list dir instead of (input partitions x
            # lists) small files — a list is read whole at probe time,
            # so intra-list file splits buy nothing and per-file
            # open/footer overhead at nlist~thousands is pure cost
            .repartition("list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(store_path + _SWAP_NEW)
        )
        write_save_token(store_path + _SWAP_NEW, token)
        _write_centroid_sidecar(self.centroids, cent_path + _SWAP_NEW)
        write_save_token(cent_path + _SWAP_NEW, token)
        # every table fully written: swap all (keeping rollback
        # material), commit meta last, then clean up
        swap_live_dir(store_path, keep_old=True)
        swap_live_dir(cent_path, keep_old=True)
        meta.update(
            {
                "dim": self.dim,
                "nlist": self.nlist,
                "seed": self.seed,
                "train_sample": self.train_sample,
                "n_iters": self.n_iters,
                "quantized": self.quantized,
                "id_col": self.id_col,
                "appends": list(self.applied_appends),
                "centroid_hash": _centroid_hash(self.centroids),
                "save_token": token,
                "recall": recall if recall is not None else self.recall,
            }
        )
        write_meta_atomic(meta_path, meta)
        recover_save([store_path, cent_path], token)  # step-4 cleanup
        # a loaded/persisted-appended index's views read the replaced
        # store — re-point them (and the path cache) at the new files
        self._repoint_storage(spark, store_path, self.applied_appends)

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        """Rebuild from a save() dir; the only driver materialization is
        the nlist x dim centroid table (bounded)."""
        import numpy as np

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        idx = cls(
            nodes=None,  # type: ignore[arg-type]
            nlist=meta["nlist"],
            seed=meta["seed"],
            train_sample=meta["train_sample"],
            n_iters=meta["n_iters"],
            _skip_build=True,
        )
        idx.dim = meta["dim"]
        idx.recall = meta.get("recall")
        idx.quantized = meta.get("quantized", False)
        idx.id_col = meta.get("id_col", "node_id")
        idx.applied_appends = list(meta.get("appends", []))
        # BEFORE any read: a save()/compact that crashed mid-commit may
        # have left the dirs renamed away or ahead of the committed meta
        from raptor_rag_spark.operators.maintenance import recover_save

        recover_save(
            [os.path.join(path, "store.parquet"),
             os.path.join(path, "centroids.parquet")],
            meta.get("save_token"),
        )
        store = spark.read.parquet(os.path.join(path, "store.parquet"))
        idx.store = store
        idx.nodes = store.select("node_id", *node_vector_cols(store))
        idx.lists = store.select("node_id", "list_id")
        # driver-side sidecar read (bounded by nlist) — no Spark job
        idx.centroids = _read_centroid_sidecar(
            os.path.join(path, "centroids.parquet")
        )
        return idx
