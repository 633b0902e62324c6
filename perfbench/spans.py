"""Traced-run instruments: spans around the engine's eager entry points,
and per-job-group totals read back from Spark's event log.

Spans are installed from here, never inside the package: each eager entry
point (``materialize_release``, ``bounded_collect``, ``loop_execution``,
``bounded_tail``, ``posture_tail``) is replaced by a timing wrapper in its
defining module and at every module-level import site that bound it. Calls
nested inside another traced call count as calls but add no time, so
``eager_s`` is wall time inside the outermost eager call.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import sys
import time

#: (defining module, function) of every traced eager entry point.
EAGER_POINTS = (
    ("printer_etl_hub_spark.plans.common", "materialize_release"),
    ("printer_etl_hub_spark.bounded", "bounded_collect"),
    ("printer_etl_hub_spark.execution", "loop_execution"),
    ("printer_etl_hub_spark.execution", "bounded_tail"),
    ("printer_etl_hub_spark.execution", "posture_tail"),
)


class EagerSpans:
    """Counts calls into the eager entry points and their outermost wall."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self._depth = 0
        self._t0 = 0.0

    def _enter(self) -> None:
        self.calls += 1
        if self._depth == 0:
            self._t0 = time.perf_counter()
        self._depth += 1

    def _exit(self) -> None:
        self._depth -= 1
        if self._depth == 0:
            self.seconds += time.perf_counter() - self._t0

    def take(self) -> tuple[int, float]:
        """Return and reset (calls, seconds) since the last take."""
        out = (self.calls, self.seconds)
        self.calls, self.seconds = 0, 0.0
        return out

    def _wrap(self, fn):
        if fn.__name__ == "loop_execution":  # a context-manager factory

            @contextlib.contextmanager
            def traced_cm(*args, **kwargs):
                self._enter()
                try:
                    with fn(*args, **kwargs) as value:
                        yield value
                finally:
                    self._exit()

            return traced_cm

        def traced(*args, **kwargs):
            self._enter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit()

        return traced

    def install(self) -> None:
        """Replace every binding of the eager entry points in the package."""
        originals = {}
        for mod_name, attr in EAGER_POINTS:
            fn = getattr(importlib.import_module(mod_name), attr)
            originals[id(fn)] = (fn, self._wrap(fn))
        for name, mod in list(sys.modules.items()):
            if not name.startswith("printer_etl_hub_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])


#: Task-metric totals kept per job group.
TASK_FIELDS = (
    "executor_run_ms",
    "executor_cpu_ns",
    "gc_ms",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def read_event_log(log_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: jobs, stages and tasks run, plus task-metric totals.

    Spark writes the log rolled into ``eventlog_v2_*/events_*`` files (or,
    unrolled, one file per application); every file under ``log_dir`` is
    read, in name order.
    """
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith((".crc", ".inprogress.tmp"))
        and not os.path.basename(p).startswith("appstatus")
    )
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = {}

    def bucket(group: str) -> dict[str, int]:
        return out.setdefault(
            group, {"jobs": 0, "stages": 0, "tasks": 0, **{f: 0 for f in TASK_FIELDS}}
        )

    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif '"Event":"SparkListenerStageCompleted"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        bucket(group)["stages"] += 1
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    b = bucket(group)
                    b["tasks"] += 1
                    b["executor_run_ms"] += m.get("Executor Run Time", 0)
                    b["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                    b["gc_ms"] += m.get("JVM GC Time", 0)
                    b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
