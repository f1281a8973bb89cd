"""Benchmark-side tracing: spans around calls into the engine's public
functions, Spark job attribution by job group, event-log and
streaming-progress folding.

Nothing here edits an engine module's source. ``Tracer.wrap`` replaces a
public function in every loaded engine module that holds it, so spans are
taken at the module boundary from outside. With tracing off ``Tracer``
records nothing and wraps nothing.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
import types
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: job-group prefix of every job the benchmark tags
GROUP_PREFIX = "pb:"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    parent: int | None = None
    rid: int | None = None  # the operation (request) the span belongs to
    sid: int = 0


class Tracer:
    """In-memory span recorder. Spans nest per thread; every span inherits
    the request id of the operation span it runs under."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(
            name, time.time(),
            parent=parent.sid if parent else None,
            rid=rid if rid is not None else (parent.rid if parent else None),
        )
        with self._lock:
            sp.sid = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. For a module owner, every loaded engine module that
        imported the function by name is patched too."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        owners = [owner]
        if isinstance(owner, types.ModuleType):
            owners += [
                mod for mod_name, mod in list(sys.modules.items())
                if mod is not owner and getattr(mod, attr, None) is orig
                and (mod_name.startswith("mini_data_platform_spark")
                     or mod_name == "__spark_entry__")
            ]
        for o in owners:
            setattr(o, attr, traced)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.__dict__) + "\n")


def set_job_group(spark, tracer: Tracer, rid: int, phase: str) -> None:
    """Tag the jobs this thread launches next with the operation's id."""
    if tracer.enabled:
        spark.sparkContext.setJobGroup(f"{GROUP_PREFIX}{rid}:{phase}", phase)


# ---- streaming progress -----------------------------------------------------


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress by query name. The observed
    row counts serve the output check; the durations and state-operator
    figures feed the ``streaming.*`` metrics."""

    def __init__(self) -> None:
        self.progress: dict[str, list] = {}
        self._names: dict[str, str] = {}
        self._done: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cond:
            self._names[str(event.id)] = event.name or str(event.id)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch": p.batchId,
            "rows_in": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state": [
                {"rows": s.numRowsTotal, "bytes": s.memoryUsedBytes,
                 "commit_ms": s.commitTimeMs}
                for s in p.stateOperators
            ],
            "observed": {k: v.asDict() for k, v in (p.observedMetrics or {}).items()},
        }
        with self._cond:
            self.progress.setdefault(p.name or str(p.id), []).append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._done.add(self._names.get(str(event.id), str(event.id)))
            self._cond.notify_all()

    def wait(self, name: str, timeout: float = 30.0) -> list:
        """Progress of query ``name`` once its termination event arrived
        (events reach the listener after the query has returned)."""
        with self._cond:
            self._cond.wait_for(lambda: name in self._done, timeout)
            self._done.discard(name)
            return self.progress.pop(name, [])


# ---- event log ---------------------------------------------------------------


@dataclass
class Job:
    jid: int
    group: str | None
    submit: float
    end: float = 0.0
    tasks: list = field(default_factory=list)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their tasks from every event-log file in ``log_dir``.
    Task tuple: (launch_s, run_s, gc_s, shuffle_read_b, shuffle_write_b,
    spill_b, failed, output_b)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn), encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJob' in line[:40]:
                    ev = json.loads(line)
                    if ev["Event"] == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                                  ev["Submission Time"] / 1000)
                        jobs[job.jid] = job
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, job.jid)
                    else:
                        job = jobs.get(ev["Job ID"])
                        if job is not None:
                            job.end = ev["Completion Time"] / 1000
                elif '"SparkListenerTaskEnd"' in line[:40]:
                    ev = json.loads(line)
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    job.tasks.append((
                        info["Launch Time"] / 1000,
                        m.get("Executor Run Time", 0) / 1000,
                        m.get("JVM GC Time", 0) / 1000,
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        sw.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        bool(info.get("Failed")),
                        out.get("Bytes Written", 0),
                    ))
    return sorted(jobs.values(), key=lambda j: j.jid)
