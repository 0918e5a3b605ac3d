"""Per-layer cost ledger: spans recorded around layer calls, Spark event-log
stages attributed to them by time window.

Lazy Spark fuses layers into one stage, so the traced run materialises each
layer's input first and times the layer alone into a noop sink; every stage
submitted inside that span's window is the layer's.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


# -- spans ----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, same clock as the event log's epoch ms
    end: float
    parent: str | None
    workload: str


class Tracer:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.time(), parent, self.workload))

    def get(self, name: str) -> Span:
        for s in self.spans:
            if s.name == name:
                return s
        raise KeyError(name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


# -- event log ----------------------------------------------------------------------


class EventLog:
    """Spark's own event-log writer, attached to a running SparkContext only
    around the calls that are traced. Same file format as
    ``spark.eventLog.enabled``, uncompressed and not rolled, in ``log_dir``."""

    def __init__(self, spark, log_dir: str):
        os.makedirs(log_dir)
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        conf = (
            self._sc.getConf()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId(),
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf,
            self._sc.hadoopConfiguration(),
        )
        self._writer.start()

    @contextmanager
    def logged(self):
        """Log the events of the calls inside; on exit, wait until the
        listener bus has delivered them before detaching."""
        self._sc.addSparkListener(self._writer)
        try:
            yield
        finally:
            self._sc.listenerBus().waitUntilEmpty()
            self._sc.removeSparkListener(self._writer)

    def close(self) -> None:
        """Flush and close the log file."""
        self._writer.stop()


def _new_stage(sid: int) -> dict:
    return {
        "id": sid,
        "name": "",
        "submit_ms": None,
        "complete_ms": None,
        "tasks": 0,
        "tasks_failed": 0,
        "run_s": 0.0,
        "gc_s": 0.0,
        "wait_s": 0.0,
        "shuffle_write_b": 0,
        "shuffle_read_b": 0,
        "fetch_wait_s": 0.0,
        "spill_b": 0,
        "py_sent_b": 0,
        "py_returned_b": 0,
        "records_read": 0,
        "records_written": 0,
    }


def event_log_files(evdir: str) -> list[str]:
    """Plain and rolling (eventlog_v2_*/events_*) event-log files."""
    return sorted(
        p
        for pat in ("*", "*/events_*")
        for p in glob.glob(os.path.join(evdir, pat))
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )


def parse_event_lines(lines) -> dict[int, dict]:
    """Per-stage totals from event-log JSON lines (uncompressed).

    Per stage: executor run time, JVM GC time, shuffle write/read bytes,
    shuffle fetch wait, spill (memory + disk), the Arrow-boundary
    accumulables, task attempts and failed attempts, and the time tasks
    waited between stage submission and launch."""
    stages: dict[int, dict] = {}
    pending_tasks: list[tuple[int, int]] = []  # (stage id, launch ms)
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            si = ev["Stage Info"]
            s = stages.setdefault(si["Stage ID"], _new_stage(si["Stage ID"]))
            s["name"] = si.get("Stage Name", "")
            if si.get("Submission Time") is not None:
                s["submit_ms"] = si["Submission Time"]
            if si.get("Completion Time") is not None:
                s["complete_ms"] = si["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            s = stages.setdefault(sid, _new_stage(sid))
            tm = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            s["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success" or ti.get("Failed"):
                s["tasks_failed"] += 1
            s["run_s"] += tm.get("Executor Run Time", 0) / 1000
            s["gc_s"] += tm.get("JVM GC Time", 0) / 1000
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            s["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            s["shuffle_read_b"] += sr.get("Local Bytes Read", 0) + sr.get(
                "Remote Bytes Read", 0
            )
            s["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000
            s["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            s["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
            s["records_written"] += (tm.get("Output Metrics") or {}).get(
                "Records Written", 0
            )
            if ti.get("Launch Time") is not None:
                pending_tasks.append((sid, ti["Launch Time"]))
            for acc in ti.get("Accumulables", []):
                name = acc.get("Name", "")
                if name not in (PY_SENT, PY_RETURNED):
                    continue
                try:
                    upd = int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                s["py_sent_b" if name == PY_SENT else "py_returned_b"] += upd
    for sid, launch_ms in pending_tasks:
        sub = stages[sid]["submit_ms"]
        if sub is not None:
            stages[sid]["wait_s"] += max(0, launch_ms - sub) / 1000
    return stages


def parse_event_log(evdir: str) -> dict[int, dict]:
    lines: list[str] = []
    for path in event_log_files(evdir):
        with open(path) as f:
            lines.extend(f)
    return parse_event_lines(lines)


def stages_in(stages: dict[int, dict], span: Span) -> list[dict]:
    """Stages submitted inside the span's window."""
    lo, hi = span.start * 1000, span.end * 1000
    return [
        s
        for s in stages.values()
        if s["submit_ms"] is not None and lo <= s["submit_ms"] <= hi
    ]


def totals(stages: list[dict]) -> dict:
    keys = (
        "tasks", "tasks_failed", "run_s", "gc_s", "wait_s", "shuffle_write_b",
        "shuffle_read_b", "fetch_wait_s", "spill_b", "py_sent_b", "py_returned_b",
    )
    out = {k: sum(s[k] for s in stages) for k in keys}
    out["stages"] = len(stages)
    return out
