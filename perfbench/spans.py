"""Spans around the benchmark's calls into the program's layers.

The tracer wraps public functions from outside (module attributes are
swapped while tracing is on and restored afterwards); the program itself
carries no instrumentation.  Each span records name, start, end, parent and
run id.  Spark job and task counts come from a job group the tracer sets
around every span that asks for one, resolved through
``sparkContext.statusTracker()`` when the run ends.  Row counts that need
extra Spark jobs run inside ``trace.instrument`` spans under their own job
group, so they are neither charged to the stage's job counts nor hidden:
the stage metrics subtract them and the tracing overhead reports them.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

INSTRUMENT = "trace.instrument"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = []
        self._patches: list[tuple[object, str, object]] = []

    # --- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(), "end": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if job_group:
            rec["group"] = f"perfbench-{self.run_id}-{rec['id']}"
            self._push_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if job_group:
                self._pop_group()
            self._stack.pop()

    def instrument(self, fn):
        """Run ``fn`` (which launches Spark jobs only to count rows) in an
        instrument span with its own job group; returns its result."""
        with self.span(INSTRUMENT, job_group=True):
            return fn()

    def _push_group(self, group: str) -> None:
        self._groups.append(group)
        self.spark.sparkContext.setJobGroup(group, group)

    def _pop_group(self) -> None:
        self._groups.pop()
        sc = self.spark.sparkContext
        if self._groups:
            sc.setJobGroup(self._groups[-1], self._groups[-1])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # --- wrapping -------------------------------------------------------
    def patch(self, owner, attr: str, make_wrapper) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make_wrapper(original))

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # --- results --------------------------------------------------------
    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def duration(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        return self.duration(s) - sum(self.duration(c) for c in self.children(s["id"]))

    def instrument_time(self, s: dict) -> float:
        """Seconds of instrument spans anywhere below ``s``."""
        total = 0.0
        for c in self.children(s["id"]):
            total += self.duration(c) if c["name"] == INSTRUMENT else self.instrument_time(c)
        return total

    def resolve_spark_counts(self) -> None:
        """Attach ``spark_jobs``/``spark_tasks`` to every span that set a job
        group.  Called once at the end, after the listener bus has caught up."""
        tracker = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            if "group" not in s:
                continue
            jobs = tracker.getJobIdsForGroup(s["group"])
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    tasks += st.numCompletedTasks if st else 0
            s["spark_jobs"], s["spark_tasks"] = len(jobs), tasks

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for s in self.spans:
            rec = {k: v for k, v in s.items() if k not in ("start", "end")}
            rec["start_s"] = round(s["start"] - t0, 6)
            rec["end_s"] = round(s["end"] - t0, 6)
            rec["self_s"] = round(self.self_time(s), 6)
            out.append(rec)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": out}, f, indent=0, default=str)


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every data file under ``root``."""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            if f.startswith(".") or f.startswith("_"):
                continue
            p = os.path.join(dp, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def tree_diff(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) present in ``after`` but new or rewritten since ``before``."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return sum(v[0] for v in new), len(new)
