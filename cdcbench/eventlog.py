"""Spark event log → per-layer task metrics.

The traced run tags every job it starts with the description
``"<layer>#<rep>"`` (``SparkContext.setJobDescription``). Spark copies
that description into the job's properties in the event log, so each
stage maps to the layer whose call submitted it, and each task's metrics
sum into that layer. AQE shuffle-map stages are submitted from the same
thread and carry the same description.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def _new_layer():
    return {"tasks": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "records_written": 0,
            "task_shuffle_records": defaultdict(list)}


def parse(path: str) -> dict:
    """Read one event log file.

    Returns ``{(layer, rep): totals}`` where ``totals`` holds the task
    count, JVM GC milliseconds, shuffle bytes written, bytes spilled to
    disk, output records, and, per stage, the shuffle records each task
    read (for the skew share)."""
    stage_tag: dict = {}
    out: dict = defaultdict(_new_layer)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description")
                if not desc or "#" not in desc:
                    continue
                layer, rep = desc.rsplit("#", 1)
                for sid in ev.get("Stage IDs", []):
                    stage_tag.setdefault(sid, (layer, rep))
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if tag is None or not m:
                    continue
                t = out[tag]
                t["tasks"] += 1
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["records_written"] += (m.get("Output Metrics") or {}).get(
                    "Records Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["task_shuffle_records"][ev["Stage ID"]].append(
                    sr.get("Total Records Read", 0))
    return dict(out)


def max_task_share(totals: dict) -> float:
    """Share of the layer's heaviest shuffle stage read by its busiest
    task: 1/tasks when records spread evenly, 1.0 when one task reads
    everything."""
    best = None
    for recs in totals["task_shuffle_records"].values():
        if sum(recs) and (best is None or sum(recs) > sum(best)):
            best = recs
    return max(best) / sum(best) if best else 0.0


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir)
             if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {names}")
    return os.path.join(log_dir, names[0])
