"""One benchmark run of one workload, in a fresh process.

Started by ``perfbench/run.py`` with the repository root on PYTHONPATH
(so the engine's pandas UDFs import on the Python workers) and the
working directory inside the run's temp dir. It drives the engine only
through its public calls (``extract_pages``, ``RaptorEngine.add_documents
/ append_documents / flush_appends / retrieve``), checks the outputs and
writes one JSON record for ``run.py`` to print.

    python3 perfbench/workloads.py --workload daily_append --seed 1 \
        --seconds 10 --trace 0 --tmp DIR --out-dir DIR --result FILE

Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from interpreter start

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402
from spans import COUNTERS, Tracer  # noqa: E402

WORKLOADS = ("ingest_build", "daily_append")
# corpus size per workload. A build costs about the same from 800 to
# 2000 pages (it is bound by job count). daily_append on a 1000-page base
# spread 20-26% across five seeds on a 4-core box, against 4-7% at 1500.
DEFAULT_PAGES = {"ingest_build": 1000, "daily_append": 1500}
TOP_K = 5
BATCH_QUESTIONS = 200
TRACED_SINGLES = 8  # settled-tree single questions, traced run only
MAX_DAYS = 12
WARMUP_PAGES = 100
TREE_LEVEL_METRICS = 6  # tree.level0_s .. tree.level5_s


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


class Calls:
    """Wraps every engine call: counts attempts and failures instead of
    stopping, and times each call in a span."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    def run(self, name, fn, trace=True, **attrs):
        self.attempted += 1
        with self.tracer.span(name, trace=trace, **attrs) as rec:
            rec["ok"] = False
            try:
                rec["result"] = fn()
                rec["ok"] = True
            except Exception:  # a failed call is counted, the run goes on
                self.failed += 1
                rec["error"] = traceback.format_exc(limit=3)
                print(f"[perfbench] call {name} failed:\n{rec['error']}", file=sys.stderr)
                rec["result"] = None
        return rec


def wall(rec) -> float:
    return rec["end"] - rec["start"]


# ------------------------------------------------------------ storage


def level_dirs(base: str) -> list[int]:
    from raptor_rag_spark.operators.tree import last_complete_level

    return list(range(last_complete_level(base) + 1))


def level_rows(base: str) -> list[int]:
    from raptor_rag_spark.operators.tree import read_manifest

    return [int(read_manifest(base, k)["rows"]) for k in level_dirs(base)]


def footer_rows(base: str, layer: int) -> int:
    """Row count of a level from its parquet footers, read independently
    of the engine's manifest code."""
    import pyarrow.parquet as pq

    root = os.path.join(base, f"level={layer}", "nodes.parquet")
    n = 0
    for d, _, files in os.walk(root):
        for fn in files:
            if fn.startswith("part-") and fn.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, fn)).metadata.num_rows
    return n


# ------------------------------------------------------------- checks


class Checks:
    def __init__(self, out_dir: str, workload: str, seed: int, pages: int) -> None:
        self.results: list[dict] = []
        self.path = os.path.join(out_dir, "digests.json")
        self.key = f"{workload}:seed={seed}:pages={pages}"

    def add(self, name: str, ok: bool, detail="") -> None:
        self.results.append({"check": name, "ok": bool(ok), "detail": str(detail)})

    def manifests_match_footers(self, base: str) -> None:
        from raptor_rag_spark.operators.tree import read_manifest

        bad = []
        for k in level_dirs(base):
            m, f = int(read_manifest(base, k)["rows"]), footer_rows(base, k)
            if m != f:
                bad.append((k, m, f))
        self.add("manifest_rows_equal_footer_rows", not bad and level_dirs(base), bad)

    def same_every_run(self, name: str, value) -> None:
        """``value`` must equal what earlier runs of this seed recorded
        in the checkout's digest file (recorded if absent)."""
        store = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                store = json.load(fh)
        key = f"{self.key}:{name}"
        if key in store:
            self.add(f"{name}_same_every_run", store[key] == value,
                     f"recorded {store[key]!r}, now {value!r}")
        else:
            store[key] = value
            with open(self.path + ".tmp", "w") as fh:
                json.dump(store, fh, indent=1, sort_keys=True)
            os.replace(self.path + ".tmp", self.path)
            self.add(f"{name}_same_every_run", True, f"first run, recorded {value!r}")

    def self_retrieval(self, rec: dict) -> None:
        """``rec`` is a retrieve call (return_layer_information=True)
        whose question was the exact text of a stored chunk: a node must
        come back at rank 1 with cosine distance below 1e-6."""
        if not rec["ok"]:
            self.add("self_retrieval_rank1", False, "retrieve failed")
            return
        _, sel = rec["result"]
        top = sel.filter("rank = 1").select("dist").collect()
        dist = top[0]["dist"] if top else None
        self.add("self_retrieval_rank1", dist is not None and dist < 1e-6, f"dist={dist}")

    @property
    def ok(self) -> bool:
        return bool(self.results) and all(r["ok"] for r in self.results)


# ------------------------------------------------------------- inputs


def chunk_texts(text: str, max_tokens: int) -> list[str]:
    from raptor_rag_spark.operators.chunk import split_text

    return split_text(text, max_tokens=max_tokens)


def questions(rng: np.random.Generator, texts: list[str], n: int) -> list[str]:
    """Questions cut from page text: one to three consecutive sentences
    of a random page, the way a reader quotes a passage."""
    out = []
    for _ in range(n):
        sents = re.split(r"(?<=[.!?])\s+", texts[int(rng.integers(len(texts)))])
        lo = int(rng.integers(len(sents)))
        out.append(" ".join(sents[lo: lo + int(rng.integers(1, 4))]))
    return out


# ------------------------------------------------------------ engine


class Bench:
    def __init__(self, args) -> None:
        from raptor_rag_spark.config import EngineConfig
        from raptor_rag_spark.session import get_spark

        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.local.dir": os.path.join(args.tmp, "spark-local"),
            # JVM temp files inside the run dir; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(args.tmp, "warehouse"),
            # keep every job of the run in the status store for the tracer
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        self.spark.range(1).count()

        self.tracer = Tracer(self.spark, enabled=bool(args.trace))
        self.calls = Calls(self.tracer)
        self.cfg = EngineConfig(max_tokens=60)
        self.seed = args.seed % 1_000_000  # datagen seeds numpy per row: seed + page_id < 2^32
        self.rng = np.random.default_rng(args.seed)
        self.pages_path = os.path.join(args.tmp, "pages.parquet")
        self.checks = Checks(args.out_dir, args.workload, args.seed, args.pages)
        self.n_trees = 0
        self._pages = None

    def generate(self, n: int) -> None:
        from raptor_rag_spark.datagen import synthetic_pages

        synthetic_pages(self.spark, n=n, seed=self.seed).write.parquet(self.pages_path)

    def page_texts(self, lo: int, hi: int) -> list[tuple[int, str]]:
        """(page_id, extracted text) of pages lo <= page_id < hi, read on
        the driver from the generated parquet."""
        import pyarrow.parquet as pq

        from raptor_rag_spark.operators.extract import extract_text

        if self._pages is None:
            self._pages = pq.read_table(self.pages_path, columns=["page_id", "html"]).to_pandas()
        t = self._pages
        t = t[(t.page_id >= lo) & (t.page_id < hi)].sort_values("page_id")
        return [(int(p), extract_text(h)) for p, h in zip(t.page_id, t.html)]

    def docs(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        from raptor_rag_spark.operators.extract import extract_pages

        pages = self.spark.read.parquet(self.pages_path).filter(
            (F.col("page_id") >= lo) & (F.col("page_id") < hi)
        )
        return extract_pages(pages, passthrough=("page_id",)).select(
            F.col("page_id").alias("doc_id"), "text"
        )

    def new_base(self) -> str:
        self.n_trees += 1
        return os.path.join(self.args.tmp, f"tree{self.n_trees}")

    def build(self, n: int, trace: bool):
        """extract_pages -> add_documents into a fresh checkpoint dir.
        Traced, the same chain is composed step by step and each step's
        output materialized, so each layer is timed alone."""
        from raptor_rag_spark.api import RaptorEngine

        base = self.new_base()
        eng = RaptorEngine(self.spark, base, self.cfg)
        if not trace:
            rec = self.calls.run("build", lambda: eng.add_documents(self.docs(0, n)), trace=False)
        else:
            rec = self.calls.run("build", lambda: self._composed_build(base, n))
            if rec["ok"]:
                eng = RaptorEngine(self.spark, base, self.cfg)
        rec["base"] = base
        rec["engine"] = eng
        return rec

    def _composed_build(self, base: str, n: int):
        from raptor_rag_spark.operators.chunk import chunk_documents
        from raptor_rag_spark.operators.embed import embed_texts
        from raptor_rag_spark.operators.tile import reduce_2d
        from raptor_rag_spark.operators.tree import build_tree

        span, cfg = self.tracer.span, self.cfg
        with span("operators.extract"):
            docs = self.docs(0, n).localCheckpoint(eager=True)
        with span("operators.chunk"):
            chunks = chunk_documents(docs, max_tokens=cfg.max_tokens).localCheckpoint(eager=True)
        with span("operators.embed"):
            leaves = (
                embed_texts(chunks, dim=cfg.embedding_dim)
                .withColumnRenamed("chunk_id", "node_id")
                .select("node_id", "text", "n_tokens", "embedding")
                .localCheckpoint(eager=True)
            )
        with span("operators.tile"):
            # the tree step projects level 0 itself; this times the same
            # projection as a layer of its own
            reduce_2d(leaves, dim=cfg.embedding_dim, seed=cfg.seed).write.format(
                "noop").mode("overwrite").save()
        with span("operators.tree"):
            build_tree(self.spark, leaves, base, cfg, embed_dim=cfg.embedding_dim)
        return True

    def failed_tasks(self) -> int:
        """Failed task attempts over every job of the run."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return sum(int(jobs.apply(i).numFailedTasks()) for i in range(jobs.size()))

    def stop(self) -> None:
        self.spark.stop()


# ---------------------------------------------------------- workloads


def measure_loop(b: Bench, unit, min_ops: int, max_ops: int = 1000) -> list[dict]:
    """Closed loop, one client: call ``unit(trace, i)`` until --seconds
    have passed and at least ``min_ops`` ran (at most ``max_ops``). In
    the traced run, untraced and traced calls alternate (untraced first,
    as warm-up) so the tracing overhead is the gap between the two
    within one run."""
    if b.args.trace:
        min_ops = max(min_ops, 4)
    recs, t0 = [], time.perf_counter()
    i = 0
    while i < max_ops and (i < min_ops or time.perf_counter() - t0 < b.args.seconds):
        trace = bool(b.args.trace) and i % 2 == 1
        recs.append(unit(trace, i))
        i += 1
    if b.args.trace and len(recs) % 2 == 1 and i < max_ops:
        recs.append(unit(True, i))
    return recs


def ingest_build(b: Bench) -> dict:
    n = b.args.pages
    b.generate(n)
    # a small build warms the Python workers and the JVM, so every
    # measured build is a warm one
    b.build(min(WARMUP_PAGES, n), trace=False)
    setup_s = time.time() - T_START

    recs = measure_loop(b, lambda trace, i: b.build(n, trace), min_ops=2)
    ok = [r for r in recs if r["ok"]]
    untraced = [wall(r) for r in ok if not r.get("group")]

    rows = [level_rows(r["base"]) for r in ok]
    b.checks.add("level_rows_equal_across_builds", rows and all(x == rows[0] for x in rows), rows)
    if ok:
        b.checks.manifests_match_footers(ok[-1]["base"])
        b.checks.same_every_run("level_rows", rows[0])
    p50 = _median(untraced)
    return {
        "setup_s": setup_s,
        "e2e": {
            "throughput_per_s": (n / p50 if p50 else 0.0, "1/s", len(untraced)),
            "call_p50_s": (p50, "s", len(untraced)),
        },
        "named": {
            "build_pages_per_s": (n / p50 if p50 else 0.0, "pages/s", len(untraced)),
        },
        "recs": recs,
        "trees": [r["base"] for r in ok],
    }


def daily_append(b: Bench) -> dict:
    """Crawl days landing on a built tree, read back as they land, then
    the settled tree serving questions (see README: this run also holds
    the retrieval measurements)."""
    from raptor_rag_spark.streaming.incremental import read_pending

    n = b.args.pages
    per_day = max(n // 100, 1)
    b.generate(n + MAX_DAYS * per_day)
    base_rec = b.build(n, trace=False)
    eng, base = base_rec["engine"], base_rec["base"]
    if not base_rec["ok"]:
        raise RuntimeError("base tree build failed")
    base_levels = level_rows(base)
    parents0 = sum(base_levels[1:])
    setup_s = time.time() - T_START

    def ledger_total(key: str) -> int:
        return int(read_pending(base).get("flush_totals", {}).get(key, 0))

    fresh, days = [], []

    def day(trace: bool, d: int):
        lo = n + d * per_day
        f0 = ledger_total("flushes")
        rec = b.calls.run(
            "streaming.incremental.append", lambda: eng.append_documents(
                b.docs(lo, lo + per_day), deferred=True), trace=trace, day=d)
        rec["flushed"] = ledger_total("flushes") > f0
        days.append(rec)
        # read back right after the append: the exact text of a chunk
        # of that day's pages (the last one is also the self-retrieval check)
        texts = b.page_texts(lo, lo + per_day)
        chunk = chunk_texts(texts[int(b.rng.integers(len(texts)))][1], b.cfg.max_tokens)
        q = chunk[int(b.rng.integers(len(chunk)))]
        fresh.append(b.calls.run(
            "operators.retrieve.collapsed",
            lambda: eng.retrieve(q, top_k=TOP_K, return_layer_information=True),
            trace=trace, fresh=True))
        return rec

    recs = measure_loop(b, day, min_ops=3, max_ops=MAX_DAYS)
    b.checks.self_retrieval(fresh[-1])  # before the flush rewrites levels under it
    n_days = len(days)
    flush = b.calls.run("streaming.incremental.flush", eng.flush_appends,
                        trace=bool(b.args.trace))
    appended = n_days * per_day
    reads = read_phase(b, eng, n + appended, key=f"{n_days}_days")

    # outputs: ledger settled, level 0 = base chunks + appended chunks
    led = read_pending(base)
    b.checks.add("pending_ledger_empty_after_flush", not led["cells"], led["cells"])
    new_texts = b.page_texts(n, n + appended)
    new_chunks = sum(len(chunk_texts(t, b.cfg.max_tokens)) for _, t in new_texts)
    lv = level_rows(base)
    b.checks.add("level0_rows_equal_base_plus_appended",
                 lv and lv[0] == base_levels[0] + new_chunks,
                 f"level0={lv[:1]} base={base_levels[0]} appended={new_chunks}")
    b.checks.manifests_match_footers(base)
    b.checks.same_every_run(f"level_rows_after_{n_days}_days", lv)

    ok_days = [r for r in days if r["ok"]]
    day_walls = [wall(r) for r in ok_days if not r.get("group")]
    fresh_walls = [wall(r) for r in fresh if r["ok"] and not r.get("group")]
    # land a day and read it back: the freshness a reader waits for
    land_read = [wall(d) + wall(f) for d, f in zip(days, fresh)
                 if d["ok"] and f["ok"] and not d.get("group")]
    total = sum(wall(r) for r in days) + wall(flush)
    land = [wall(r) for r in ok_days if not r["flushed"]]
    flushes = [r for r in ok_days if r["flushed"]] + [flush]
    return {
        "setup_s": setup_s,
        "e2e": {
            "throughput_per_s": (appended / total, "1/s", n_days),
            "call_p50_s": (_median(land_read), "s", len(land_read)),
        },
        "named": {
            "append_pages_per_s": (appended / total, "pages/s", n_days),
            "land_and_read_p50_s": (_median(land_read), "s", len(land_read)),
            "append_day_p50_s": (_median(day_walls), "s", len(day_walls)),
            "fresh_query_p50_s": (_median(fresh_walls), "s", len(fresh_walls)),
            "flush_s": (wall(flush), "s", 1),
            "days_with_partial_flush": (float(sum(r["flushed"] for r in ok_days)), "count", n_days),
            **reads["named"],
        },
        "layer": {
            "incremental.land_p50_s": _median(land),
            "incremental.flush_s": sum(wall(r) for r in flushes),
            "incremental.flushes": float(ledger_total("flushes")),
            "incremental.recompute_frac":
                ledger_total("recomputed_parents") / (n_days * parents0) if parents0 else 0.0,
            "chunk.chunks": float(new_chunks),
            **reads["layer"],
        },
        "recs": recs + [flush] + reads["recs"],
        "trees": [base],
    }


def read_phase(b: Bench, eng, n_pages: int, key: str) -> dict:
    """Questions against the settled tree: one batch through collapsed
    brute force, written to a noop sink. The traced run adds a closed
    loop with one client of single-question retrieves (three collapsed
    to one traversal), a batch through the tiled path, and the tiled
    path's candidate count."""
    import pandas as pd

    from raptor_rag_spark.operators.knn import tile_knn_candidates
    from raptor_rag_spark.operators.retrieve import embed_queries
    from raptor_rag_spark.operators.tile import tile_assignments

    texts = [t for _, t in b.page_texts(0, n_pages)]
    qs = questions(b.rng, texts, TRACED_SINGLES + BATCH_QUESTIONS + 2)
    recs = []
    for i in range(TRACED_SINGLES if b.args.trace else 0):
        collapse = i % 4 != 3
        name = "operators.retrieve.collapsed" if collapse else "operators.retrieve.traversal"
        recs.append(b.calls.run(
            name, lambda: eng.retrieve(qs[i], top_k=TOP_K, collapse_tree=collapse)))

    batch_q = qs[-BATCH_QUESTIONS:]
    qdf = b.spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(len(batch_q), dtype="int64"), "text": batch_q})
    ).localCheckpoint(eager=True)

    def batch(method: str):
        def go():
            ctx, sel = eng.retrieve(qdf, top_k=TOP_K, method=method,
                                    return_layer_information=True)
            sel = sel.persist()  # kept for the checks, filled by the timed write
            ctx.write.format("noop").mode("overwrite").save()
            return sel
        return b.calls.run(f"operators.knn.batch_{method}", go, trace=bool(b.args.trace))

    brute = batch("brute")
    tiled = batch("tiled") if b.args.trace else {"ok": False, "result": None}
    pairs = {}
    for name, rec in (("brute", brute), ("tiled", tiled)):
        if rec["ok"]:
            pairs[name] = {(r[0], r[1]) for r in rec["result"].select("query_id", "node_id").collect()}
            rec["result"].unpersist()
    n_brute = len(pairs.get("brute", ()))
    recall = len(pairs.get("brute", set()) & pairs.get("tiled", set())) / max(n_brute, 1)
    digest = hashlib.sha256(repr(sorted(pairs.get("brute", ()))).encode()).hexdigest()[:16]
    b.checks.add("brute_batch_complete", n_brute == len(batch_q) * TOP_K, n_brute)
    b.checks.same_every_run(f"brute_batch_pairs_sha256_after_{key}", digest)

    layer = {}
    if b.args.trace:
        # candidate pairs of the tiled path: ring 1 at the resolution
        # retrieve_collapsed uses
        def candidates():
            tiles = tile_assignments(eng.nodes, "node_id", [3], b.cfg.soft_eps)
            q = embed_queries(qdf, dim=b.cfg.embedding_dim)
            return tile_knn_candidates(q, tiles, 3, 1).count()

        cand = b.calls.run("operators.knn.candidates", candidates)
        cpq = (cand["result"] or 0) / len(batch_q)
        layer["knn.candidates_per_query"] = cpq
        layer["knn.useful_frac"] = TOP_K / cpq if cpq else 0.0
        for q1 in qs[TRACED_SINGLES: TRACED_SINGLES + 2]:
            one = pd.DataFrame({"query_id": [0], "text": [q1]})
            b.calls.run("operators.retrieve.embed_queries", lambda: embed_queries(
                b.spark.createDataFrame(one), dim=b.cfg.embedding_dim).collect())
            b.calls.run("operators.retrieve.tiled", lambda: eng.retrieve(
                q1, top_k=TOP_K, method="tiled"))

    named = {"batch_brute_qps": (len(batch_q) / wall(brute) if brute["ok"] else 0.0, "1/s", 1)}
    if b.args.trace:
        tq = len(batch_q) / wall(tiled) if tiled["ok"] else 0.0
        coll = [wall(r) for r in recs if r["name"].endswith("collapsed") and r["ok"]]
        trav = [wall(r) for r in recs if r["name"].endswith("traversal") and r["ok"]]
        named.update({
            "query_p50_s": (_median(coll), "s", len(coll)),
            "traversal_p50_s": (_median(trav), "s", len(trav)),
            "batch_tiled_qps": (tq, "1/s", 1),
            "tiled_recall_at_k": (recall, "fraction", len(batch_q)),
        })
        layer.update({"knn.batch_tiled_qps": tq, "knn.tiled_recall_at_k": recall})
        recs.append(tiled)
    return {"named": named, "layer": layer, "recs": recs + [brute]}


# ------------------------------------------------------ per-layer view


def layer_metrics(b: Bench, res: dict) -> dict:
    """Every per-layer metric; 0 where the workload does not use the layer."""
    tr = b.tracer
    tr.resolve()
    spans = tr.spans
    traced = [s for s in spans if s.get("group")]

    def named(name):
        return [s for s in traced if s["name"] == name]

    def med_counter(name, key):
        return _median([s["own"][key] for s in named(name)])

    out = {"chunk.chunks": 0.0}
    for layer, key in (("extract", "operators.extract"), ("chunk", "operators.chunk"),
                       ("embed", "operators.embed")):
        out[f"{layer}.busy_s"] = med_counter(key, "executor_run_s")
    out["tile.reduce_busy_s"] = med_counter("operators.tile", "executor_run_s")

    trees = named("operators.tree")
    levels = level_rows(res["trees"][-1]) if trees else []
    if levels:
        out["chunk.chunks"] = float(levels[0])
    out["tree.build_s"] = _median([wall(s) for s in trees])
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
        out[f"tree.{key}"] = _median([tr.total(s)[key] for s in trees])
    out["tree.levels"] = float(len(levels))
    out["tree.nodes"] = float(sum(levels))
    from raptor_rag_spark.operators.tree import read_manifest

    for k in range(TREE_LEVEL_METRICS):
        out[f"tree.level{k}_s"] = (
            float(read_manifest(res["trees"][-1], k)["wall_sec"]) if k < len(levels) else 0.0
        )

    out.update({
        "incremental.land_p50_s": 0.0, "incremental.flush_s": 0.0,
        "incremental.flushes": 0.0, "incremental.recompute_frac": 0.0,
        "incremental.jobs_land": 0.0, "incremental.jobs_flush": 0.0,
        "knn.candidates_per_query": 0.0, "knn.useful_frac": 0.0,
        "knn.batch_tiled_qps": 0.0, "knn.tiled_recall_at_k": 0.0,
    })
    out.update(res.get("layer", {}))
    land = [s for s in traced if s["name"] == "streaming.incremental.append" and not s.get("flushed")]
    out["incremental.jobs_land"] = _median([s["own"]["jobs"] for s in land])
    out["incremental.jobs_flush"] = med_counter("streaming.incremental.flush", "jobs")

    def all_walls(name):
        return [wall(s) for s in spans if s["name"] == name and s.get("ok")]

    out["retrieve.embed_queries_s"] = _median(all_walls("operators.retrieve.embed_queries"))
    out["retrieve.collapsed_p50_s"] = _median(all_walls("operators.retrieve.collapsed"))
    out["retrieve.traversal_p50_s"] = _median(all_walls("operators.retrieve.traversal"))
    for kind in ("collapsed", "traversal", "tiled"):
        out[f"retrieve.jobs_{kind}"] = med_counter(f"operators.retrieve.{kind}", "jobs")
    out["knn.batch_shuffle_write_bytes"] = med_counter("operators.knn.batch_tiled", "shuffle_write_bytes")

    # the workload's Spark totals: every traced top-level call
    roots = [s for s in traced if s["parent"] is None]
    tot = dict.fromkeys(COUNTERS, 0.0)
    gap = busy_wall = 0.0
    for s in roots:
        for k, v in tr.total(s).items():
            tot[k] += v
        gap += tr.driver_gap_s(s)
        busy_wall += wall(s)
    for k, v in tot.items():
        out[f"spark.{k}"] = float(v)
    out["spark.driver_gap_s"] = gap
    out["spark.core_busy_frac"] = tot["executor_run_s"] / (busy_wall * b.cores) if busy_wall else 0.0

    # tracing overhead: traced vs untraced walls of the same call, a
    # build or a day's read-back (not the day's append, whose cost swings
    # with partial flushes); the first untraced one warms up
    unit = ([s for s in spans if s.get("ok") and s["attrs"].get("fresh")]
            or [s for s in spans if s.get("ok") and s["name"] == "build"])
    t_w = [wall(r) for r in unit if r.get("group")]
    u_w = [wall(r) for r in unit if not r.get("group")][1:]
    out["trace.overhead_frac"] = (_median(t_w) / _median(u_w) - 1.0) if t_w and u_w else 0.0
    return {k: float(v) for k, v in out.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--pages", type=int, default=None)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    args.pages = args.pages or DEFAULT_PAGES[args.workload]

    b = Bench(args)
    try:
        res = {"ingest_build": ingest_build, "daily_append": daily_append}[args.workload](b)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "pages": args.pages,
            "cores": b.cores,
            "setup_s": res["setup_s"],
            "e2e": res["e2e"],
            "named": res["named"],
            "checks": b.checks.results,
            "correct": b.checks.ok,
            "attempted": b.calls.attempted,
            "failed": b.calls.failed,
        }
        if args.trace:
            record["layer"] = layer_metrics(b, res)
            span_file = os.path.join(
                args.out_dir, f"spans-{args.workload}-seed{args.seed}.json")
            b.tracer.write(span_file, b.tracer.spans[0]["start"] if b.tracer.spans else 0.0)
            record["span_file"] = span_file
        else:
            record["failed_tasks"] = b.failed_tasks()
    finally:
        b.stop()
    with open(args.result, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
