"""Traced-run instrumentation, all from outside the program: wrappers
around the public functions of each layer, and a reader for the Spark
event log that attributes job time to the program's ``mtm:<phase>`` job
labels."""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

#: MetaFS public methods (control-file IO of the sink and txn store)
FSIO_METHODS = (
    "exists", "isdir", "getmtime", "makedirs", "listdir", "walk_bottomup",
    "walk_bottomup_stat", "read_text", "write_text_atomic", "replace",
    "remove", "remove_if_exists", "rmdir", "rmtree",
)


class Calls:
    """Per-name call records: (start, end, result) tuples."""

    def __init__(self):
        self.records: dict[str, list[tuple[float, float, object]]] = defaultdict(list)

    def between(self, name: str, t0: float, t1: float) -> list[tuple[float, float, object]]:
        return [r for r in self.records[name] if t0 <= r[0] < t1]


@contextlib.contextmanager
def wrapped(calls: Calls):
    """Patch each layer's public entry points to record their calls;
    restores the originals on exit."""
    from mysql_time_machine_spark import fsio, registry
    from mysql_time_machine_spark.operators import reassemble
    from mysql_time_machine_spark.sinks import manifest
    from mysql_time_machine_spark.streaming import txn_store

    targets = [
        (manifest.ManifestParquetSink, "merge", "manifest.merge"),
        (txn_store.TxnPendingStore, "resolve", "txn_store.resolve"),
        (registry.SchemaRegistry, "apply_ddl", "registry.apply_ddl"),
        (reassemble, "collapse_events_sorted", "reassemble.sorted"),
        (reassemble, "collapse_events_sql", "reassemble.sql"),
    ] + [(fsio.MetaFS, m, "fsio") for m in FSIO_METHODS if hasattr(fsio.MetaFS, m)]
    saved = []
    for owner, attr, name in targets:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, _recorder(orig, name, calls))
    try:
        yield calls
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _recorder(fn, name: str, calls: Calls):
    @functools.wraps(fn)
    def rec(*a, **kw):
        t0 = time.time()
        out = fn(*a, **kw)
        calls.records[name].append((t0, time.time(), out))
        return out

    return rec


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def phase_name(description: str | None) -> str:
    if description and description.startswith("mtm:"):
        return description[4:].replace("+", "-")
    return "unlabelled"


class EventLog:
    """Jobs and task time from a finished Spark event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        files = sorted(glob.glob(f"{log_dir}/**", recursive=True))
        for path in files:
            if not os.path.isfile(path):
                continue
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        self.jobs[jid] = {
                            "start": ev["Submission Time"] / 1000,
                            "end": None,
                            "phase": phase_name(props.get("spark.job.description")),
                            "description": props.get("spark.job.description"),
                            "task_s": 0.0,
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in self.jobs:
                            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev.get("Stage ID"))
                        info = ev.get("Task Info") or {}
                        if jid in self.jobs and info.get("Finish Time"):
                            self.jobs[jid]["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000

    def window(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs.values() if j["end"] is not None and t0 <= j["start"] < t1]

    def busy_s(self, t0: float, t1: float) -> float:
        return _union_s([(j["start"], j["end"]) for j in self.window(t0, t1)])

    def phases(self, windows: list[tuple[float, float]], names: list[str]) -> dict[str, tuple[float, float]]:
        """Per phase: (job-busy wall seconds, task seconds), summed over windows."""
        out = {n: (0.0, 0.0) for n in names}
        for t0, t1 in windows:
            by: dict[str, list[dict]] = defaultdict(list)
            for j in self.window(t0, t1):
                by[j["phase"]].append(j)
            for n, js in by.items():
                wall, task = out.get(n, (0.0, 0.0))
                out[n] = (
                    wall + _union_s([(j["start"], j["end"]) for j in js]),
                    task + sum(j["task_s"] for j in js),
                )
        return out

    def task_s(self, t0: float, t1: float) -> float:
        return sum(j["task_s"] for j in self.window(t0, t1))
