"""Fold a Spark event log into per-label task metrics (stdlib only).

Every stage carries the ``spark.job.description`` of the job that submitted
it; the benchmark sets that description to a layer name around the calls it
makes into each layer, so folding ``SparkListenerTaskEnd`` metrics by the
description of the task's stage gives per-layer executor numbers.

The log must be written uncompressed (``spark.eventLog.compress=false``).
Spark 4 writes a rolling log: one directory per application holding
``events_<n>_<app>`` files; a plain single-file log is read as well.
"""

from __future__ import annotations

import json
import os
import statistics

# accumulator name -> folded field; Python-worker times are milliseconds
_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}
FIELDS = sorted(set(_ACCUMS.values()))


def log_files(path: str) -> list[str]:
    """Event files under ``path``: a log file, an application directory or
    a directory of either (in name order; rolling parts sort by index)."""
    if os.path.isfile(path):
        return [path]
    out = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full):
            out.extend(log_files(full))
        elif not name.startswith(".") and not name.startswith("appstatus") and not name.endswith(".crc"):
            out.append(full)
    return sorted(out, key=_rolling_key)


def _rolling_key(path: str):
    parts = os.path.basename(path).split("_")
    if len(parts) > 2 and parts[0] == "events" and parts[1].isdigit():
        return (os.path.dirname(path), int(parts[1]))
    return (path, 0)


def _app(path: str) -> str:
    """Stage ids restart per application: a rolling log's parts share
    their directory, a plain log is one application per file."""
    return _rolling_key(path)[0]


def fold(path: str) -> dict[str, dict[str, float]]:
    """Per job description: ``tasks``, ``task_skew`` (max over median task
    run ms) and the sum of every field in :data:`FIELDS`. Stages submitted
    without a description fold under ``""``."""
    stage_label: dict[tuple[str, int], str] = {}
    task_ms: dict[str, list[float]] = {}
    sums: dict[str, dict[str, float]] = {}
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    key = (_app(f), ev["Stage Info"]["Stage ID"])
                    stage_label[key] = props.get("spark.job.description") or ""
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get((_app(f), ev["Stage ID"]), "")
                    acc = sums.setdefault(label, dict.fromkeys(FIELDS, 0.0))
                    run_ms = 0.0
                    for a in ev.get("Task Info", {}).get("Accumulables", []):
                        field = _ACCUMS.get(a.get("Name"))
                        if field is None or a.get("Update") is None:
                            continue
                        value = float(a["Update"])
                        acc[field] += value
                        if field == "run_ms":
                            run_ms = value
                    task_ms.setdefault(label, []).append(run_ms)
    out = {}
    for label, acc in sums.items():
        ms = task_ms[label]
        med = statistics.median(ms)
        out[label] = dict(acc, tasks=float(len(ms)), task_skew=max(ms) / med if med > 0 else 1.0)
    return out
