"""Spans, Spark counters and memory sampling for the benchmark.

A span is (name, start, end, parent, run id) plus the Spark work done
inside it: each span runs its actions under its own job group, so the
status tracker names the span's jobs, and the status store gives their
stages' task, shuffle, spill and input counters. SQL executions started
inside the span give the per-scan row counts and the plan nodes run.

Spans are kept in memory and written to one JSON file when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

MB = 1 << 20


def _seq(scala_seq):
    """Iterate a Scala Seq handed over by py4j."""
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark, run_id: str, watched_path: str | None = None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        # a parquet input whose rows read are counted per span (the pages)
        self.watched_path = os.path.abspath(watched_path) if watched_path else None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        ids = [e.executionId() for e in _seq(self._sql_store().executionsList())]
        return max(ids, default=-1)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        group = f"{self.run_id}-{sid}"
        rec["_groups"] = [group]
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        first_exec = self._last_execution_id() + 1
        self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, "")
            rec.update(self._counters(rec["_groups"], first_exec))
            if rec["parent"] is not None:  # a parent's counters include its children's
                self.spans[rec["parent"]]["_groups"].extend(rec["_groups"])

    def _counters(self, groups: list[str], first_exec: int) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        out = {"jobs": len(jobs), "tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
               "input_rows": 0}
        stages = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # stage skipped: its shuffle output was reused
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += (sd.diskBytesSpilled() + sd.memoryBytesSpilled()) / MB
            out["input_rows"] += sd.inputRecords()
        out.update(self._sql_counters(first_exec))
        return out

    def _sql_counters(self, first_exec: int) -> dict:
        """Rows read from the watched parquet input, and MapInPandas
        operators run, over the SQL executions the span started."""
        sql = self._sql_store()
        watched_rows, map_in_pandas = 0, 0
        for e in _seq(sql.executionsList()):
            eid = e.executionId()
            if eid < first_exec:
                continue
            values = sql.executionMetrics(eid)
            for node in _seq(sql.planGraph(eid).allNodes()):
                name = node.name()
                if name.startswith("MapInPandas"):
                    map_in_pandas += 1
                if (self.watched_path and name.startswith("Scan parquet")
                        and self.watched_path in node.desc()):
                    for m in _seq(node.metrics()):
                        if m.name() == "number of output rows":
                            v = values.get(m.accumulatorId())
                            if v.isDefined():
                                watched_rows += int(v.get().replace(",", ""))
        return {"watched_rows": watched_rows, "map_in_pandas": map_in_pandas}

    def write(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = [{k: v for k, v in s.items() if k != "_groups"} for s in self.spans]
        path.write_text(json.dumps({"run_id": self.run_id, **extra, "spans": spans}, indent=1))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_mb(root: int) -> float:
    """Summed RSS of root and all its descendants (driver, JVM, Python
    workers), from /proc. A JVM child that is still the JVM's own image
    (forked to exec a helper, such as Hadoop's chmod) shares the JVM's
    pages and is not counted again."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        exe = _exe(pid)
        todo.extend(c for c in kids.get(pid, ()) if not (exe.endswith("/java") and _exe(c) == exe))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / MB


class RssSampler:
    """Peak of tree_rss_mb(this process) while sampling is on, taken over
    the median of each second's samples: a sustained peak, not the
    sub-second spikes of JIT compiler arenas or helper forks."""

    def __init__(self, interval_s: float = 0.1, window: int = 10):
        self.interval_s = interval_s
        self.window = window
        self.peak_mb = 0.0
        self._samples: list[float] = []
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(self.interval_s) and not self._stop.is_set():
                self._samples = self._samples[-(self.window - 1):] + [tree_rss_mb(os.getpid())]
                if len(self._samples) == self.window:
                    self.peak_mb = max(self.peak_mb, statistics.median(self._samples))
                time.sleep(self.interval_s)

    @contextmanager
    def sampling(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)
