"""Per-layer attribution from the benchmark side, plus process-tree RSS.

`Tracer.span(name)` times one call into a layer's public function and
attributes to it every Spark job started between entry and exit, by job
id range in the driver's status store (the benchmark runs one closed-loop
client, so no other caller's jobs can fall in the range). For those jobs
it reads task time, shuffle read/write, spill, GC and input records per
stage, and the driver gap: wall time inside the span during
which no job of the span was running. The session must retain every job
and stage (`spark.ui.retainedJobs` / `retainedStages`) for the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    wall_s: float = 0.0
    jobs: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_records: int = 0
    driver_gap_s: float = 0.0
    book_s: float = 0.0  # the tracer's own time on this span


class Tracer:
    """Collects spans in memory. Job and stage metrics are attached in
    batches (`spans` flushes): two JSON dumps of the status store instead
    of several gateway calls per stage. A span's `book_s` is the time the
    tracer spent on it, the overhead tracing adds; the batched reads
    happen outside any span and count in `flush_s`."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()  # noqa: SLF001
        jvm = sc._jvm  # noqa: SLF001
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        self._spans: list[Span] = []
        self._pending: list[tuple[Span, int, int, float, float]] = []
        self.flush_s = 0.0

    def _last_job_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    @contextmanager
    def span(self, name: str):
        t_book = time.perf_counter()
        first = self._last_job_id() + 1
        sp = Span(name, book_s=time.perf_counter() - t_book)
        t0_epoch, t0 = time.time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            t1_epoch = time.time()
            t_book = time.perf_counter()
            self._pending.append((sp, first, self._last_job_id(), t0_epoch, t1_epoch))
            sp.book_s += time.perf_counter() - t_book
            self._spans.append(sp)

    @property
    def spans(self) -> list[Span]:
        """Every span recorded so far, with its job metrics attached."""
        if self._pending:
            t0 = time.perf_counter()
            jobs = {j["jobId"]: j for j in json.loads(
                self._json.writeValueAsString(self._store.jobsList(None))
            )}
            stages: dict[int, dict] = {}
            for st in json.loads(self._json.writeValueAsString(self._store.stageList(
                None, False, False, self._no_quantiles, None
            ))):
                prev = stages.get(st["stageId"])
                if prev is None or st["attemptId"] > prev["attemptId"]:
                    stages[st["stageId"]] = st
            for sp, first, last, t0_epoch, t1_epoch in self._pending:
                _attribute(sp, [jobs[i] for i in range(first, last + 1) if i in jobs],
                           stages, t0_epoch, t1_epoch)
            self._pending.clear()
            self.flush_s += time.perf_counter() - t0
        return self._spans

    def total(self, name: str) -> Span:
        """Sum of every span recorded under `name`."""
        out = Span(name)
        for sp in self.spans:
            if sp.name != name:
                continue
            for f in ("wall_s", "jobs", "task_s", "gc_s", "shuffle_read_mb",
                      "shuffle_write_mb", "spill_mb",
                      "input_records", "driver_gap_s", "book_s"):
                setattr(out, f, getattr(out, f) + getattr(sp, f))
        return out


def _attribute(sp: Span, jobs: list[dict], stages: dict[int, dict], t0: float, t1: float) -> None:
    intervals = []
    for job in jobs:
        sp.jobs += 1
        if job.get("submissionTime") is not None:
            s = job["submissionTime"] / 1000.0
            e = job["completionTime"] / 1000.0 if job.get("completionTime") else t1
            intervals.append((max(s, t0), min(e, t1)))
        for sid in job["stageIds"]:
            st = stages.get(sid)
            if st is None:
                continue
            sp.task_s += st["executorRunTime"] / 1000.0
            sp.gc_s += st["jvmGcTime"] / 1000.0
            sp.shuffle_read_mb += st["shuffleReadBytes"] / MB
            sp.shuffle_write_mb += st["shuffleWriteBytes"] / MB
            sp.spill_mb += (st["diskBytesSpilled"] + st["memoryBytesSpilled"]) / MB
            sp.input_records += st["inputRecords"]
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    sp.driver_gap_s = max(0.0, sp.wall_s - busy)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of a process and its live descendants,
    including the children each has reaped. Time the hypervisor steals
    from the VM is not in it, which makes it steadier than wall time on a
    shared host."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(pid: int) -> float:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / MB


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver JVM, Python daemon and workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
