"""Spans around the benchmark's calls into the engine, plus Spark counters.

A span covers one public call: name, start, end, parent span. While a
span is open its Spark jobs run under a job group of its own, so after
the run each span's jobs, stages, tasks, bytes and executor time can be
read back from the driver's status store (no listener jar, no UI).
Spans are kept in memory and written out once, when the run ends.

With ``enabled=False`` a span only times its call: the untraced run
sets no job groups and reads no counters.

Counters are read after the run, once the listener bus has drained:
the status store is filled asynchronously, so reading it as each call
returns could miss the call's last stage.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
    "executor_run_s",
    "executor_cpu_s",
)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, trace: bool = True, **attrs):
        """Time one call. In a traced run (and unless ``trace`` is False)
        also tag its Spark jobs, and those of every span nested in it
        that is not traced itself, with a job group of its own."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "attrs": attrs,
        }
        if self.enabled and trace:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["epoch"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if "group" in rec:
                if parent is not None and "group" in parent:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    # ------------------------------------------------------ counters

    def resolve(self) -> None:
        """Attach each span's own Spark counters (jobs run while it was
        the innermost open span) and its jobs' time intervals."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "group" not in rec:
                continue
            own = dict.fromkeys(COUNTERS, 0)
            intervals = []
            stage_ids: set[int] = set()
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                job = store.job(jid)
                own["jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append(
                        (
                            job.submissionTime().get().getTime() / 1000.0,
                            job.completionTime().get().getTime() / 1000.0,
                        )
                    )
                ids = job.stageIds()
                stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
            for sid in sorted(stage_ids):
                attempts = store.stageData(
                    sid, False, gw.jvm.java.util.ArrayList(), False, no_quantiles
                )
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                        continue
                    own["stages"] += 1
                    own["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    own["failed_tasks"] += st.numFailedTasks()
                    own["shuffle_read_bytes"] += st.shuffleReadBytes()
                    own["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    own["input_bytes"] += st.inputBytes()
                    own["output_bytes"] += st.outputBytes()
                    own["executor_run_s"] += st.executorRunTime() / 1000.0
                    own["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["own"] = own
            rec["job_intervals"] = intervals

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"] and "own" in s]

    def total(self, rec: dict) -> dict:
        """Counters of a span including every span nested in it."""
        out = dict(rec["own"])
        for child in self.children(rec):
            for k, v in self.total(child).items():
                out[k] += v
        return out

    def job_intervals(self, rec: dict) -> list[tuple[float, float]]:
        out = list(rec["job_intervals"])
        for child in self.children(rec):
            out.extend(self.job_intervals(child))
        return out

    def driver_gap_s(self, rec: dict) -> float:
        """Wall time of the span during which none of its jobs ran (job
        times are epoch milliseconds, compared with the span's epoch
        start)."""
        wall = rec["end"] - rec["start"]
        lo, hi = rec["epoch"], rec["epoch"] + wall
        busy, cur_end = 0.0, lo
        for s, e in sorted(self.job_intervals(rec)):
            s, e = max(s, cur_end), min(e, hi)
            if e > s:
                busy += e - s
                cur_end = e
        return max(wall - busy, 0.0)

    def write(self, path: str, t0: float) -> None:
        """Write every span (times relative to ``t0``) as JSON."""
        out = []
        for rec in sorted(self.spans, key=lambda r: r["start"]):
            row = {
                "id": rec["id"],
                "parent": rec["parent"],
                "name": rec["name"],
                "start_s": round(rec["start"] - t0, 6),
                "end_s": round(rec["end"] - t0, 6),
                "attrs": rec["attrs"],
            }
            if "own" in rec:
                row["counters"] = rec["own"]
            out.append(row)
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
