"""Per-layer numbers from Spark's event log, cut per timed pass.

The traced run writes its event log with ``spark.eventLog.enabled``. Spark
4 writes either one file (``local-…[.zstd]``) or, with rolling on, an
``eventlog_v2_<app>`` directory of ``events_<n>_<app>[.zstd]`` parts; the
default codec is zstd. Both layouts, zstd and uncompressed logs are read
here.

Jobs are tagged with the pass label as their job group (worker.py), so each
timed pass is cut out by group. Counts and times are means per timed pass.
"""

from __future__ import annotations

import io
import json
import os
import re

import pyarrow as pa

# SQL metrics on the pandas/Arrow nodes (PythonSQLMetrics); timings in ms
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"

_UNREADABLE = (".lz4", ".lzf", ".snappy")  # Spark's other codecs


def _part_index(name: str) -> int:
    m = re.match(r"events_(\d+)_", name)
    return int(m.group(1)) if m else 0


def log_files(log_dir: str) -> list[str]:
    """Event-log files of the single application under ``log_dir``."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            out += [os.path.join(path, p)
                    for p in sorted(parts, key=_part_index)]
        elif os.path.isfile(path) and not entry.startswith("."):
            out.append(path)
    return out


def events(path: str):
    base = path[:-len(".inprogress")] if path.endswith(".inprogress") \
        else path
    ext = os.path.splitext(base)[1]
    if ext in _UNREADABLE:
        raise ValueError(f"{path}: event-log codec {ext[1:]} is not readable "
                         "here; use spark.eventLog.compression.codec=zstd")
    raw = pa.OSFile(path, "rb")
    stream = pa.CompressedInputStream(raw, "zstd") if ext == ".zstd" else raw
    with stream:
        for line in io.TextIOWrapper(stream, encoding="utf-8"):
            if line.strip():
                yield json.loads(line)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000


def summarize(log_dir: str, passes: list[dict],
              labels: list[str]) -> dict[str, float]:
    """Per-pass means of the Spark and Python-worker layers over the timed
    passes ``labels`` of worker.py's pass list."""
    timed = {p["label"]: p for p in passes if p["label"] in labels}
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {g: 0 for g in timed}
    stage_spans: dict[str, list] = {g: [] for g in timed}
    acc = {k: 0.0 for k in ("stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                            "read_b", "write_b", "py_init", "py_run",
                            "py_sent")}
    for path in log_files(log_dir):
        for ev in events(path):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in timed:
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group and "Completion Time" in info:
                    acc["stages"] += 1
                    stage_spans[group].append(
                        (info["Submission Time"], info["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] not in stage_group:
                    continue
                acc["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                r = m.get("Shuffle Read Metrics") or {}
                acc["read_b"] += (r.get("Remote Bytes Read", 0)
                                  + r.get("Local Bytes Read", 0))
                w = m.get("Shuffle Write Metrics") or {}
                acc["write_b"] += w.get("Shuffle Bytes Written", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = a.get("Name"), a.get("Update")
                    if upd is None:
                        continue
                    if name in _PY_INIT:
                        acc["py_init"] += float(upd)
                    elif name == _PY_RUN:
                        acc["py_run"] += float(upd)
                    elif name == _PY_SENT:
                        acc["py_sent"] += float(upd)
    n = max(len(timed), 1)
    residue = sum(
        p["wall_s"] - _union_s(stage_spans[g]) for g, p in timed.items())
    return {
        "spark.jobs": sum(jobs.values()) / n,
        "spark.stages": acc["stages"] / n,
        "spark.tasks": acc["tasks"] / n,
        "spark.task_run_s": acc["run_ms"] / 1e3 / n,
        "spark.task_cpu_s": acc["cpu_ns"] / 1e9 / n,
        "spark.gc_s": acc["gc_ms"] / 1e3 / n,
        "spark.shuffle_read_mb": acc["read_b"] / 2**20 / n,
        "spark.shuffle_write_mb": acc["write_b"] / 2**20 / n,
        "spark.residue_s": residue / n,
        "pyworker.init_s": acc["py_init"] / 1e3 / n,
        "pyworker.run_s": acc["py_run"] / 1e3 / n,
        "pyworker.mb_sent": acc["py_sent"] / 2**20 / n,
    }
