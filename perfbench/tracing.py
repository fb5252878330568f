"""Outside-in tracing: spans around the benchmark's own calls into the
package, a py4j call counter, and Spark job metrics attributed to spans
from the session's event log by job submission time.

Spans are kept in memory and summarised once, after the session stops
and its event log is flushed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counted: bool = False  # py4j calls were counted inside it
    py4j: int = 0
    sid: int = 0
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def is_op(name: str) -> bool:
    """Op spans are the timed units end-to-end latencies are taken from."""
    return name.startswith("op.") or name == "bm25.probe"


class Tracer:
    """Records nested spans. ``counting`` switches the py4j counter on
    for the spans opened while it is set (the trace run alternates it to
    measure the tracer's own overhead)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._calls = 0
        self.counting = False
        # when set, each op span flips ``counting`` (traced/untraced ops
        # interleave, which measures the tracer's own overhead)
        self.alternate = False

    # -- py4j counter ------------------------------------------------------

    def install_py4j_counter(self, spark) -> None:
        """Wrap the gateway client's ``send_command``: every py4j round
        trip from any thread of this process passes through it."""
        client = spark.sparkContext._gateway._gateway_client
        original = client.send_command

        def counted(*args, **kwargs):
            if self.counting:
                with self._lock:
                    self._calls += 1
            return original(*args, **kwargs)

        client.send_command = counted

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if self.alternate and is_op(name):
            self.counting = not self.counting
        s = Span(
            name,
            time.time(),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            counted=self.counting,
            sid=len(self.spans),
        )
        self.spans.append(s)
        self._stack.append(s.sid)
        before = self._calls
        try:
            yield s
        finally:
            s.end = time.time()
            s.py4j = self._calls - before
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == s.sid
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "py4j": s.py4j,
                    "counted": s.counted, "self_s": self.self_time(s),
                    "jobs": [j["id"] for j in s.jobs],
                }) + "\n")


# -------------------------------------------------------------- event log

_ZERO = {
    "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0, "shuffle_read": 0,
    "shuffle_write": 0, "spill": 0, "input": 0, "output": 0, "failures": 0,
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for one plain-text, non-rolling event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logStageExecutorMetrics": "true",
    }


def parse_event_log(log_dir: str) -> tuple[list[dict], int]:
    """Jobs with summed task metrics, and the peak JVM heap (bytes)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    peak_heap = 0
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "submit": ev["Submission Time"] / 1000.0,
                             "end": 0.0, **_ZERO}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                m = ev.get("Task Metrics") or {}
                job["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    job["failures"] += 1
                job["run_ms"] += m.get("Executor Run Time", 0)
                job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                job["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                job["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
                peak_heap = max(peak_heap, heap)
            elif kind == "SparkListenerStageExecutorMetrics":
                heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
                peak_heap = max(peak_heap, heap)
    return sorted(jobs.values(), key=lambda j: j["id"]), peak_heap


def attribute(tracer: Tracer, jobs: list[dict]) -> list[dict]:
    """Give each job to the innermost span open at its submission.
    Returns the jobs no span covers."""
    loose = []
    for job in jobs:
        best = None
        for s in tracer.spans:
            if s.start <= job["submit"] <= s.end and (best is None or s.start >= best.start):
                best = s
        if best is None:
            loose.append(job)
        else:
            best.jobs.append(job)
    return loose


def subtree_jobs(tracer: Tracer, s: Span) -> list[dict]:
    out = list(s.jobs)
    for c in tracer.spans:
        if c.parent == s.sid:
            out.extend(subtree_jobs(tracer, c))
    return out


def totals(jobs: list[dict]) -> dict:
    t = dict(_ZERO, jobs=len(jobs))
    for j in jobs:
        for k in _ZERO:
            t[k] += j[k]
    return t


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
