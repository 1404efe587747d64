"""Spans around calls into the package's layers, timed from outside.

A span records, for one call:

* wall time;
* py4j round trips sent to the JVM during the call. Object-release
  (``m``) commands are skipped: Python's garbage collector sends them at
  arbitrary points, so counting them makes identical calls disagree;
* the Spark work the call caused. The span tags its jobs with a job tag
  (a job tag rather than a job group, because the streaming engine owns
  the job group of its own thread). On exit it sums, over every stage of
  every tagged job, the fields of ``statusStore().lastStageAttempt``.
  This works with the UI disabled. Skipped stages have no attempt and
  are left out;
* bytes and files written under the directories the span watches.

With tracing off, ``span`` yields a throwaway dict and does nothing else,
so an untraced op pays one generator frame per call.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# StageData getter -> (span field, scale). Times come in ms (run) and ns (CPU).
_STAGE_FIELDS = (
    ("numTasks", "tasks", 1),
    ("executorRunTime", "exec_run_s", 1e-3),
    ("executorCpuTime", "exec_cpu_s", 1e-9),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("inputRecords", "input_records", 1),
)

def dir_state(paths) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under ``paths``."""
    out: dict[str, tuple[int, int]] = {}
    for root in paths:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                p = os.path.join(dirpath, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files that are new or changed in ``after``."""
    changed = [p for p, st in after.items() if before.get(p) != st]
    return sum(after[p][0] for p in changed), len(changed)


class Py4jCounter:
    """Counts commands sent through one py4j gateway client."""

    def __init__(self, gateway_client) -> None:
        self.n = 0
        self._paused = threading.local()
        self._lock = threading.Lock()
        send = gateway_client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith("m") and not getattr(
                self._paused, "on", False
            ):
                with self._lock:
                    self.n += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counted

    @contextmanager
    def paused(self):
        """Calls made by the tracer itself are not the program's."""
        self._paused.on = True
        try:
            yield
        finally:
            self._paused.on = False


class Tracer:
    """Records spans while ``enabled``. Built without a session, it can
    never be enabled and adds nothing to the program's calls."""

    def __init__(self, spark=None) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        if spark is None:
            return
        self._sc = spark.sparkContext
        self._py4j = Py4jCounter(self._sc._gateway._gateway_client)
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._tracker = jsc.statusTracker()
        self._store = jsc.statusStore()
        self._seq = itertools.count()
        # A job lists the stages it reuses from an earlier job; each stage
        # counts once, in the span whose job ran it.
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, key: object = None, watch=()):
        """Record one call into a layer. The yielded dict is the span:
        callers may add fields (rows returned, for instance)."""
        rec: dict = {"name": name, "key": key}
        if not self.enabled:
            yield rec
            return
        with self._py4j.paused():
            tag = f"perfbench-{next(self._seq)}"
            self._sc.addJobTag(tag)
            fs0 = dir_state(watch) if watch else None
        n0 = self._py4j.n
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["py4j"] = self._py4j.n - n0
            with self._py4j.paused():
                self._sc.removeJobTag(tag)
                rec.update(self._spark_work(tag))
                if fs0 is not None:
                    rec["bytes_written"], rec["files_written"] = written_since(
                        fs0, dir_state(watch)
                    )
            self.spans.append(rec)

    def _spark_work(self, tag: str) -> dict:
        self._bus.waitUntilEmpty()
        out = {"jobs": 0, "stages": 0}
        for _, field, _ in _STAGE_FIELDS:
            out[field] = 0
        for job_id in self._tracker.getJobIdsForTag(tag):
            out["jobs"] += 1
            info = self._tracker.getJobInfo(job_id)
            if info.isEmpty():
                continue
            for stage_id in info.get().stageIds():
                if stage_id in self._seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # skipped: never attempted
                    continue
                self._seen_stages.add(stage_id)
                out["stages"] += 1
                for getter, field, scale in _STAGE_FIELDS:
                    out[field] += getattr(st, getter)() * scale
        return out


def recorded(spans: list[dict], name: str, field: str) -> list[dict]:
    """The spans ``name`` that hold ``field``; there must be some."""
    out = [s for s in spans if s["name"] == name and field in s]
    if not out:
        raise LookupError(f"span {name} recorded no {field}")
    return out


def per_call(spans: list[dict], name: str, field: str) -> float:
    """Median of ``field`` over the calls of span ``name``, which must
    have been recorded at least once."""
    return statistics.median(s[field] for s in recorded(spans, name, field))

