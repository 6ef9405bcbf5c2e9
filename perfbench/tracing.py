"""Spans from the benchmark's own call sites plus per-call Spark records.

A `Tracer` keeps everything in memory and is written out once, when the run
ends. Disabled (the untraced run that produces the end-to-end numbers), a
span is a bare context manager: no clock reads, no Spark calls.

Layer attribution: every layer span runs under its own Spark job group, and
after the span the group's jobs are read back from Spark's status store
(`statusTracker().getJobIdsForGroup`, `statusStore().job/stageData`). Jobs
started from threads the benchmark does not own (the HTTP server's handler
threads) carry no group; `adopt_ungrouped()` claims those for the current
span, which is exact when only one request is in flight.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

LAYERS = (
    "session", "textstats", "dedup", "sinks", "embeddings", "knn", "ivf", "pq",
    "hnsw", "serving", "collections", "stateful",
)
SPARK_FIELDS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes",
                "input_bytes", "spark_ms")


def union_ms(intervals) -> float:
    """Length of the union of (start, end) intervals, in their unit."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkRecorder:
    """Reads job and stage metrics for a set of job ids from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.claimed: set[int] = set()

    def claim_ungrouped(self) -> None:
        """Mark every job so far as seen, so `adopt_ungrouped` spans only
        pick up jobs that start after this point."""
        self.claimed.update(self.group_jobs(None))

    def group_jobs(self, group: str | None) -> list[int]:
        return sorted(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group))

    def wait_done(self, job_ids, timeout_s: float = 10.0) -> None:
        """Stage metrics land after the job-end event; wait for them."""
        deadline = time.monotonic() + timeout_s
        tracker = self.sc.statusTracker()
        while time.monotonic() < deadline:
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is None or i.status != "RUNNING" for i in infos):
                return
            time.sleep(0.01)

    def record(self, job_ids) -> dict:
        job_ids = [j for j in job_ids if j not in self.claimed]
        self.claimed.update(job_ids)
        out = dict.fromkeys(SPARK_FIELDS, 0)
        out["job_ids"] = job_ids
        if not job_ids:
            return out
        self.wait_done(job_ids)
        empty = self.jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        spans = []
        for j in job_ids:
            job = self.store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                stages = self.store.stageData(sid, False, empty, False, quantiles)
                for n in range(stages.size()):
                    st = stages.apply(n)
                    if str(st.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["run_ms"] += st.executorRunTime()
                    out["cpu_ms"] += st.executorCpuTime() / 1e6
                    out["gc_ms"] += st.jvmGcTime()
                    out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    out["input_bytes"] += st.inputBytes()
        out["spark_ms"] = union_ms(spans)
        return out


class Tracer:
    """In-memory spans: name, layer, start/end (ms since run start), parent,
    request id, and — for layer spans — the Spark record of the call."""

    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.phase = "setup"  # set by the runner: setup / measure / check
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.recorder: SparkRecorder | None = None

    def attach(self, spark) -> None:
        if self.enabled:
            self.recorder = SparkRecorder(spark)

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str | None = None, kind: str | None = None,
             parent: dict | None = None, request_id: int | None = None,
             adopt_ungrouped: bool = False):
        """`kind` is "construct" (the call that returns a DataFrame, eager
        jobs included) or "exec" (the action that materializes it). `parent`
        links a span opened on another thread (the server's) to its cause."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = parent or (stack[-1] if stack else None)
        sp = {"id": next(self._ids), "name": name, "layer": layer, "kind": kind,
              "phase": self.phase, "parent": parent["id"] if parent else None,
              "request_id": request_id if request_id is not None else
              (parent["request_id"] if parent else None)}
        group, prev_group, sc = None, None, None
        if layer and self.recorder is not None:
            sc = self.recorder.sc
            group = f"perfbench-{sp['id']}"
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
            if adopt_ungrouped:
                self.recorder.claim_ungrouped()
        stack.append(sp)
        sp["start_ms"] = (time.perf_counter() - self.t0) * 1e3
        try:
            yield sp
        finally:
            sp["end_ms"] = (time.perf_counter() - self.t0) * 1e3
            stack.pop()
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                ids = self.recorder.group_jobs(group)
                if adopt_ungrouped:
                    ids += self.recorder.group_jobs(None)
                sp["spark"] = self.recorder.record(ids)
            with self._lock:
                self.spans.append(sp)

    # -- summaries ----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its children cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
        return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_ms(children.get(s["id"], []))
                for s in self.spans}

    def top_self(self, phase: str, n: int = 5) -> list[dict]:
        """One phase's spans aggregated by layer (or name, for spans outside
        any layer), ranked by total self time."""
        st = self.self_times()
        agg: dict[str, dict] = {}
        for s in self.spans:
            if s["phase"] != phase:
                continue
            key = s["layer"] or s["name"]
            a = agg.setdefault(key, {"layer": key, "self_ms": 0.0, "spans": 0})
            a["self_ms"] += st[s["id"]]
            a["spans"] += 1
        total = sum(a["self_ms"] for a in agg.values()) or 1.0
        rows = sorted(agg.values(), key=lambda a: -a["self_ms"])[:n]
        for r in rows:
            r["self_ms"] = round(r["self_ms"], 1)
            r["share"] = round(r["self_ms"] / total, 3)
        return rows

    def coverage(self, start_ms: float, end_ms: float) -> float:
        """Share of [start, end] covered by top-level spans."""
        tops = [(max(s["start_ms"], start_ms), min(s["end_ms"], end_ms))
                for s in self.spans if s["parent"] is None]
        tops = [(a, b) for a, b in tops if b > a]
        return union_ms(tops) / max(end_ms - start_ms, 1e-9)

    def layer_totals(self, phase: str) -> dict[str, dict]:
        """Per-layer sums over one phase: construct/exec wall time and the
        Spark record."""
        out = {layer: dict.fromkeys(("construct_ms", "exec_ms", *SPARK_FIELDS), 0.0)
               for layer in LAYERS}
        for s in self.spans:
            if not s["layer"] or s["phase"] != phase:
                continue
            t = out[s["layer"]]
            dur = s["end_ms"] - s["start_ms"]
            if s["kind"] == "construct":
                t["construct_ms"] += dur
            elif s["kind"] == "exec":
                t["exec_ms"] += dur
            for f in SPARK_FIELDS:
                t[f] += s.get("spark", {}).get(f, 0)
        return out
