"""Roll a Spark event log up by job group, and over the whole run.

The benchmark runs Spark with ``spark.eventLog.enabled`` (uncompressed,
not rolling) and tags every job with ``spark.jobGroup.id``: the round
(``round-3``) in untraced runs, the round and layer span
(``t3/minhash.verify``) in traced runs. This module reads the finished log
file; it needs no live UI and no REST endpoint.

Per task it takes from ``SparkListenerTaskEnd``:

  core_s        Executor Run Time (task wall on an executor core)
  cpu_s         Executor CPU Time
  shuffle_w_mb  Shuffle Bytes Written
  shuffle_r_mb  local + remote shuffle bytes read
  spill_mb      Disk Bytes Spilled
  result_mb     Result Size (bytes each task sent back to the driver)
  py_sent_mb    SQL metric "data sent to Python workers"
  py_recv_mb    SQL metric "data returned from Python workers"

A task belongs to the job group its stage was submitted under (the
``Properties`` of ``SparkListenerStageSubmitted``); tasks of untagged
stages go to the group ``""``.
"""

from __future__ import annotations

import json

MB = 1e6
FIELDS = (
    "tasks",
    "failed_tasks",
    "core_s",
    "cpu_s",
    "shuffle_w_mb",
    "shuffle_r_mb",
    "spill_mb",
    "result_mb",
    "py_sent_mb",
    "py_recv_mb",
)
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_events(path: str):
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def task_record(event: dict) -> dict[str, float]:
    """The FIELDS of one SparkListenerTaskEnd event."""
    info = event.get("Task Info", {})
    m = event.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
    return {
        "tasks": 1,
        "failed_tasks": 1 if info.get("Failed") or info.get("Killed") else 0,
        "core_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "shuffle_w_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "shuffle_r_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
        "result_mb": m.get("Result Size", 0) / MB,
        "py_sent_mb": int(acc.get(_PY_SENT) or 0) / MB,
        "py_recv_mb": int(acc.get(_PY_RECV) or 0) / MB,
    }


def _add(into: dict[str, float], rec: dict[str, float]) -> None:
    for k in FIELDS:
        into[k] = into.get(k, 0) + rec[k]


def rollup(path: str) -> dict[str, dict[str, float]]:
    """Job group -> summed FIELDS (plus ``jobs``, the number of jobs)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for e in read_events(path):
        kind = e.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            stage_group[sid] = props.get("spark.jobGroup.id") or ""
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = out.setdefault(props.get("spark.jobGroup.id") or "", {})
            g["jobs"] = g.get("jobs", 0) + 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e.get("Stage ID"), "")
            _add(out.setdefault(group, {}), task_record(e))
    for g in out.values():
        for k in FIELDS + ("jobs",):
            g.setdefault(k, 0)
    return out


def whole_run(path: str) -> dict[str, float]:
    """FIELDS summed over every task of the run, ignoring groups."""
    total = {k: 0 for k in FIELDS}
    for e in read_events(path):
        if e.get("Event") == "SparkListenerTaskEnd":
            _add(total, task_record(e))
    return total


def sum_groups(groups: dict[str, dict[str, float]]) -> dict[str, float]:
    """FIELDS summed over every group."""
    total = {k: 0 for k in FIELDS}
    for g in groups.values():
        _add(total, g)
    return total
