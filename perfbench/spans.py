"""Tracing for the ``--trace 1`` run: spans around calls into the engine's
layers, Spark job groups per span, and Spark's own job/stage/task
accounting read back from the event log.

Spans are recorded from this directory's code only. Engine functions are
wrapped by replacing module attributes for the traced passes and restored
afterwards; the engine package itself is never edited.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict

from stats import self_time

GROUP_PREFIX = "pb-"

# Session settings added for the traced run only: an uncompressed,
# single-file event log that ``read_event_log`` can parse.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

ACC_KEYS = (
    "jobs", "job_s", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "output_rows", "failed_tasks",
)


class Tracer:
    """In-memory span recorder. A span opened with ``group=True`` tags every
    Spark job submitted inside it with its own job group, so the event log
    can attribute jobs, stages and tasks to it."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.pass_no = 0
        self.op: str | None = None
        # ``ExecutedPlans`` of the session, for traced query passes
        self.plans: ExecutedPlans | None = None
        self._stack: list[dict] = []
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self.pass_no,
            "op": self.op,
            **attrs,
        }
        self._next_id += 1
        prev_group = None
        if group:
            rec["group"] = f"{GROUP_PREFIX}{rec['id']}"
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str, group: bool = False, attrs=None):
        """Replace ``module.attr`` by a function that records a span around
        each call; ``attrs(args)`` returns extra span fields, such as the
        ``op`` the call belongs to."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, group=group, **(attrs(args) if attrs else {})):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        return {
            s["id"]: self_time(s["start"], s["end"], children[s["id"]])
            for s in self.spans
        }


PHASES = ("analysis", "optimization", "planning")


def tracker_phases(jqe) -> dict[str, float]:
    """Catalyst phase durations in seconds, read from a JVM
    ``QueryExecution``'s planning tracker."""
    phases = jqe.tracker().phases()
    out = {}
    for phase in PHASES:
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


class ExecutedPlans:
    """A ``QueryExecutionListener`` on the session, through py4j's callback
    server: the Catalyst phases of each ``QueryExecution`` that ran an
    action, as Spark reports it when the action ends.

    ``df.write.format("noop").save()`` does not run the DataFrame's own
    ``QueryExecution``. It wraps the DataFrame's analyzed plan in an
    ``OverwriteByExpression`` command, and a new ``QueryExecution``
    optimizes, plans and runs that command. This listener reads that one.
    """

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._seen: list[dict] = []
        self._cond = threading.Condition()
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._add(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        self._add(qe)

    def _add(self, qe) -> None:
        rec = {"plan": qe.logical().nodeName(), **tracker_phases(qe)}
        with self._cond:
            self._seen.append(rec)
            self._cond.notify_all()

    def mark(self) -> int:
        with self._cond:
            return len(self._seen)

    def wait_for(self, since: int, plan: str, timeout: float = 10.0) -> dict[str, float]:
        """Phases of the first execution of a ``plan`` root node reported
        after ``mark()`` returned ``since``. Listener events are delivered
        asynchronously, so this waits for it; zeros if it never comes."""
        def found():
            return next((r for r in self._seen[since:] if r["plan"] == plan), None)

        with self._cond:
            rec = self._cond.wait_for(found, timeout)
        return {k: rec[k] if rec else 0.0 for k in PHASES}

    def close(self) -> None:
        self._manager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _empty_acc() -> dict[str, float]:
    return {k: 0 for k in ACC_KEYS}


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Spark accounting per job group, summed over every event log in
    ``log_dir``: jobs and their wall, completed stages, tasks and their
    metrics. Only groups opened by ``Tracer`` are kept."""
    acc: dict[str, dict[str, float]] = defaultdict(_empty_acc)
    for fname in sorted(os.listdir(log_dir)):
        job_group: dict[int, str] = {}
        job_start: dict[int, int] = {}
        stage_group: dict[int, str] = {}
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if g.startswith(GROUP_PREFIX):
                        job_group[ev["Job ID"]] = g
                        job_start[ev["Job ID"]] = ev["Submission Time"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    a = acc[job_group[ev["Job ID"]]]
                    a["jobs"] += 1
                    a["job_s"] += (ev["Completion Time"] - job_start[ev["Job ID"]]) / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if g.startswith(GROUP_PREFIX):
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None:
                        acc[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is not None:
                        _add_task(acc[g], ev)
    return dict(acc)


def _add_task(a: dict[str, float], ev: dict) -> None:
    a["tasks"] += 1
    if ev["Task Info"].get("Failed"):
        a["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    a["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    out = m.get("Output Metrics") or {}
    a["output_bytes"] += out.get("Bytes Written", 0)
    a["output_rows"] += out.get("Records Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)


def sum_accs(accs) -> dict[str, float]:
    total = _empty_acc()
    for a in accs:
        for k in ACC_KEYS:
            total[k] += a[k]
    return total
