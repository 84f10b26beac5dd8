"""Fold Spark's own event log into per-description counters.

Spark writes one JSON object per line (the History Server format).
With ``spark.eventLog.compress=false`` the standard library reads it.
Jobs carry the ``spark.job.description`` that was set when they were
submitted; every ``SparkListenerTaskEnd`` is attributed to the
description of the job that owns its stage.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _apps(log_dir: str):
    """The event files of each application, in order. Spark 4 writes a
    rolling ``eventlog_v2_<app>/`` directory of ``events_<n>_<app>``
    files; an older single-file log is one application by itself."""
    for base, _, names in sorted(os.walk(log_dir)):
        events = [n for n in names if n.startswith("events_")]
        if events:
            events.sort(key=lambda n: int(n.split("_")[1]))
            yield [os.path.join(base, n) for n in events]
        elif base == log_dir:
            for n in sorted(names):
                if not n.startswith(".") and not n.endswith(".crc"):
                    yield [os.path.join(base, n)]


def _lines(paths):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            yield from (ln for ln in f if ln.strip())


def _fold_app(lines, out: dict) -> None:
    stage_desc: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            out[desc]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_desc.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            c = out[stage_desc.get(ev.get("Stage ID"), "")]
            c["tasks"] += 1
            c["executor_run_ms"] += m.get("Executor Run Time", 0)
            c["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["jvm_gc_ms"] += m.get("JVM GC Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )


def fold(log_dir: str) -> dict[str, dict[str, float]]:
    """{job description: {counter: total}} over every application log
    under ``log_dir`` (a run may start several SparkContexts)."""
    out: dict = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for paths in _apps(log_dir):
        _fold_app(_lines(paths), out)
    return dict(out)


def total(folded: dict, match) -> dict[str, float]:
    """Sum the counters of every description for which ``match`` holds."""
    acc = dict.fromkeys(COUNTERS, 0)
    for desc, c in folded.items():
        if match(desc):
            for k in COUNTERS:
                acc[k] += c[k]
    return acc
