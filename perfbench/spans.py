"""Spans and Spark status-store readings for traced runs.

A span is (id, name, start, end, parent). Spans are kept in memory and
written once, when the run ends. While tracing is on, each span also runs
its Spark work under a job group of its own, so the jobs and stages it
caused can be read back from Spark's in-process status store (the UI stays
off). With tracing off, ``span`` only yields.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.sc = None   # the SparkContext, once the session is up
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
             "end": None, "parent": parent["id"] if parent else None}
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(f"span-{s['id']}")
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(f"span-{parent['id']}" if parent else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call."""
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    # -- reading spans back ----------------------------------------------
    def subtree(self, root: dict) -> list[dict]:
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def children(self, root: dict) -> list[dict]:
        return [s for s in self.subtree(root) if s["parent"] == root["id"]]

    def total(self, root: dict, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.subtree(root) if s["name"] == name)

    def coverage(self, root: dict) -> float:
        """Share of the root span's wall time its direct children cover."""
        wall = root["end"] - root["start"]
        kids = sum(s["end"] - s["start"] for s in self.children(root))
        return kids / wall if wall > 0 else 1.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


_STAGE_FIELDS = (
    ("numTasks", "tasks", 1),
    ("executorRunTime", "run_s", 1e-3),
    ("executorCpuTime", "cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("inputBytes", "input_bytes", 1),
    ("inputRecords", "input_rows", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
)


class StatusStore:
    """Per-span job and stage metrics from the live status store."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.jsc = sc._jsc.sc()

    def drain(self) -> None:
        # the store is fed asynchronously by the listener bus
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def jobs(self, spans: list[dict]) -> list[int]:
        st = self.sc.statusTracker()
        out: list[int] = []
        for s in spans:
            out.extend(st.getJobIdsForGroup(f"span-{s['id']}"))
        return out

    def stage_metrics(self, spans: list[dict]) -> dict:
        """Summed stage metrics of every job the spans ran."""
        st = self.sc.statusTracker()
        stage_ids = set()
        for j in self.jobs(spans):
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(x) for x in info.stageIds)
        out = {key: 0.0 for _, key, _ in _STAGE_FIELDS}
        if not stage_ids:
            return out
        empty = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        it = self.jsc.statusStore().stageList(None, False, False, empty, None).iterator()
        while it.hasNext():
            sd = it.next()
            if sd.stageId() in stage_ids and str(sd.status()) != "SKIPPED":
                for attr, key, scale in _STAGE_FIELDS:
                    out[key] += getattr(sd, attr)() * scale
        return out


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
