"""Span tracing from outside the program, and Spark event-log reduction.

``Tracer.patch`` wraps a public function of the package (and every module
binding that imported it by name) so each driver-side call records a span:
name, start, end, parent span and the run id.  Inside the span the Spark
job description is set to ``perfbench:<span id>``, so every job the call
launches — also on the engine's docs-write and Bloom threads, where the
wrapper runs too — can be mapped back to the span from the event log.

Spans stay in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_PREFIX = "perfbench:"

# Per-task accumulables PySpark 4.x records for Python UDF / mapInPandas
# stages (Arrow boundary cost: worker time and bytes each way).
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_TO = "data sent to Python workers"
PY_FROM = "data returned from Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, non-rolling local event log (Spark 4.x defaults to
    zstd-compressed rolling logs)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        tid = threading.get_ident()
        stack = self._stacks[tid]
        # a span opened on a helper thread hangs under the innermost span
        # open on the driver's main thread
        parents = stack or self._stacks[self._main]
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parents[-1] if parents else None,
               "run": self.run_id, "thread": threading.current_thread().name, **attrs}
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{JOB_PREFIX}{sid}")
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(rec)

    def patch(self, module, attr: str, name, modules=()) -> None:
        """Wrap ``module.attr`` and the same binding in ``modules``.

        ``name`` is a span name or a callable ``(args, kwargs) -> name``.
        """
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            with self.span(span_name):
                return original(*args, **kwargs)

        for mod in (module, *modules):
            self._patched.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, wrapper)

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def sums(self) -> dict[str, dict]:
        """Count and summed duration per span name."""
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "s": 0.0})
        for s in self.spans:
            out[s["name"]]["calls"] += 1
            out[s["name"]]["s"] += s["end"] - s["start"]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _acc(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in task_info.get("Accumulables", []):
        if a.get("Name") in (PY_RUN, PY_START, PY_TO, PY_FROM):
            try:
                out[a["Name"]] = out.get(a["Name"], 0.0) + float(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return out


def _skew(per_stage) -> float:
    """Worst max/median task time over stages that ran at least 4 tasks."""
    ratios = [max(ts) / statistics.median(ts) for ts in per_stage
              if len(ts) >= 4 and statistics.median(ts) > 0]
    return max(ratios, default=1.0)


def reduce_event_log(log_dir: str, span_names: dict[int, str]) -> dict[str, dict]:
    """Per-span-name stage metrics from the (single) event log in ``log_dir``.

    Jobs and stages are attributed through their ``perfbench:<span id>``
    description; anything else lands under ``None`` and is ignored by the
    caller.  Times are seconds, sizes bytes.
    """
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    stage_span: dict[int, str | None] = {}
    groups: dict[str | None, dict] = defaultdict(
        lambda: {"jobs": 0, "task_ms": defaultdict(list), "cpu_ns": 0, "gc_ms": 0,
                 "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                 PY_RUN: 0.0, PY_START: 0.0, PY_TO: 0.0, PY_FROM: 0.0}
    )

    def group_of(props: dict | None) -> str | None:
        desc = (props or {}).get("spark.job.description") or ""
        if not desc.startswith(JOB_PREFIX):
            return None
        return span_names.get(int(desc[len(JOB_PREFIX):]))

    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = group_of(ev.get("Properties"))
                groups[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_span.setdefault(sid, g)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_span[sid] = group_of(ev.get("Properties"))
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_span.get(sid)]
                tm = ev.get("Task Metrics") or {}
                g["task_ms"][sid].append(tm.get("Executor Run Time", 0))
                g["cpu_ns"] += tm.get("Executor CPU Time", 0)
                g["gc_ms"] += tm.get("JVM GC Time", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                for k, v in _acc(ev.get("Task Info") or {}).items():
                    g[k] += v
    out = {}
    for name, g in groups.items():
        per_stage = g["task_ms"].values()
        tasks = [t for ts in per_stage for t in ts]
        out[name] = {
            "jobs": g["jobs"],
            "stages": len(per_stage),
            "tasks": len(tasks),
            "task_s": sum(tasks) / 1e3,
            "cpu_s": g["cpu_ns"] / 1e9,
            "gc_s": g["gc_ms"] / 1e3,
            "shuffle_read_bytes": g["shuffle_read"],
            "shuffle_write_bytes": g["shuffle_write"],
            "spill_bytes": g["spill"],
            "task_skew": _skew(per_stage),
            "py_worker_run_s": g[PY_RUN] / 1e3,
            "py_worker_start_s": g[PY_START] / 1e3,
            "bytes_to_py": g[PY_TO],
            "bytes_from_py": g[PY_FROM],
        }
    return out


def combine(stats: list[dict]) -> dict:
    """Sum per-span stage metrics over several span groups (skew: max)."""
    keys = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "py_worker_run_s", "py_worker_start_s",
            "bytes_to_py", "bytes_from_py")
    out = {k: sum(s.get(k, 0) for s in stats) for k in keys}
    out["task_skew"] = max((s.get("task_skew", 1.0) for s in stats), default=1.0)
    return out
