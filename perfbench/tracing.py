"""Tracing for the per-layer run: spans recorded from outside the package,
Spark's event log folded into per-job-group execution metrics, and the
Catalyst phases of every query execution.

Nothing here edits the engine. ``Tracer.install`` re-binds the engine's
public functions (in every module that imported them, under any name) to
wrappers that open a span around each call; ``uninstall`` puts the
originals back. Spark-side work is attributed per call through a job
group, and read back from the uncompressed, non-rolling event log that
the benchmark switches on through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "gcp_food_delivery_data_pipeline_spark"

# (defining module, function, span name): the layer boundaries traced.
TRACED = [
    (f"{PKG}.session", "get_spark", "session.get_spark"),
    (f"{PKG}.sources.readers", "read_orders_csv", "readers.read_orders_csv"),
    (f"{PKG}.operators.clean", "clean_orders", "clean.clean_orders"),
    (f"{PKG}.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    (f"{PKG}.streaming.stream", "run_stream", "stream.run_stream"),
    (f"{PKG}.checkpointing", "materialize", "checkpointing.materialize"),
]


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a whole, plain-JSON event log in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": stack[-1] if stack else None, "start": time.time(),
            "end": None, **attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_original__ = fn
        return traced

    def install(self) -> None:
        """Re-bind each traced function wherever the engine imported it,
        under any name (``from ..checkpointing import materialize as _ckpt``)."""
        mods = [m for n, m in list(sys.modules.items())
                if n == "__spark_entry__" or n == PKG or n.startswith(PKG + ".")]
        for mod_name, attr, name in TRACED:
            fn = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(fn, name)
            for mod in mods:
                for bound, value in list(vars(mod).items()):
                    if value is fn:
                        self._patched.append((mod, bound, fn))
                        setattr(mod, bound, wrapper)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def within(self, name: str, start: float, end: float) -> list[dict]:
        """Finished spans called ``name`` that started inside [start, end]."""
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and start <= s["start"] <= end
        ]


class PhaseListener:
    """Catalyst phase times of every query execution the session runs.

    A py4j-implemented ``QueryExecutionListener``: Spark calls it after
    each action with the action's ``QueryExecution``, whose planning
    tracker holds the optimization and physical-planning phases. Calls
    arrive on the listener bus, after the action returns, so each record
    keeps the phases' wall-clock start for matching to an operation."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.records: list[dict] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 -- Java interface
        phases = qe.tracker().phases()
        rec = {"action": func_name}
        for p in ("analysis", "optimization", "planning"):
            opt = phases.get(p)
            if opt.isDefined():
                rec[p + "_ms"] = opt.get().durationMs()
                rec.setdefault("start", opt.get().startTimeMs() / 1000.0)
        self.records.append(rec)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 -- Java interface
        pass

    def within(self, start: float, end: float) -> dict:
        """Summed phase times of the executions that started in [start, end]."""
        recs = [r for r in self.records if start <= r.get("start", -1.0) <= end]
        return {p: sum(r.get(p, 0) for r in recs)
                for p in ("analysis_ms", "optimization_ms", "planning_ms")}

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


class EventLog:
    """Jobs, stages and tasks of one application's event log, by job group."""

    _BATCH_RE = re.compile(r"batch = (\d+)")

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, list[dict]] = defaultdict(list)
        paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
        paths = paths or glob.glob(f"{log_dir}/*")
        for path in paths:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            m = self._BATCH_RE.search(desc)
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "batch": int(m.group(1)) if m else None,
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            sr, sw = tm.get("Shuffle Read Metrics") or {}, tm.get("Shuffle Write Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            self.stage_tasks[ev["Stage ID"]].append({
                "launch": info.get("Launch Time", 0) / 1000.0,
                "finish": info.get("Finish Time", 0) / 1000.0,
                "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                "input_bytes": inp.get("Bytes Read", 0),
                "input_records": inp.get("Records Read", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": tm.get("Disk Bytes Spilled", 0),
            })

    def job_ids(self, group: str | None = None, batch: int | None = None) -> list[int]:
        return [
            j for j, rec in self.jobs.items()
            if (group is None or rec["group"] == group)
            and (batch is None or rec["batch"] == batch)
        ]

    def exec_metrics(self, job_ids: list[int], start: float, end: float) -> dict:
        """Execution-layer metrics of a set of jobs, over the wall [start, end]."""
        stage_ids = {s for j in job_ids for s in self.jobs[j]["stages"] if self.stage_tasks.get(s)}
        tasks = [t for s in stage_ids for t in self.stage_tasks[s]]
        busy = sum(t["run_s"] for t in tasks)
        slowest = sum(
            max(t["run_s"] for t in self.stage_tasks[s]) * len(self.stage_tasks[s])
            for s in stage_ids
        )
        in_tasks = union_s([
            (max(t["launch"], start), min(t["finish"], end))
            for t in tasks if t["finish"] > start and t["launch"] < end
        ])
        out = {
            "jobs": len(job_ids),
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "job_s": union_s([
                (self.jobs[j]["submit"], self.jobs[j]["end"])
                for j in job_ids if self.jobs[j]["end"] is not None
            ]),
            "executor_run_s": busy,
            "not_in_tasks_s": max(0.0, (end - start) - in_tasks),
            # 1.0 = every task of a stage as slow as its slowest one
            "task_skew": slowest / busy if busy > 0 else 1.0,
        }
        for k in ("cpu_s", "gc_s", "input_bytes", "input_records", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            out[k] = sum(t[k] for t in tasks)
        return out
