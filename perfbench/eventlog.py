"""Per-label totals from a Spark event log.

The traced run labels the jobs of each layer with ``setJobDescription`` and
writes an uncompressed, non-rolling event log. Every task's metrics are
charged to the label of the job that first ran its stage.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter, defaultdict

PYTHON_TIME = "time to run Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def label_totals(log_dir: str) -> tuple[dict[str, dict[str, float]], Counter]:
    """({label: {run_s, python_s, shuffle_write_mb, spill_mb}}, {label: jobs})."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_label: dict[int, str | None] = {}
    jobs: Counter = Counter()
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: {"run_s": 0.0, "python_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    )
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                label = (e.get("Properties") or {}).get("spark.job.description")
                if label:
                    jobs[label] += 1
                for sid in e["Stage IDs"]:
                    stage_label.setdefault(sid, label)
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(e["Stage ID"])
                if not label:
                    continue
                m = e.get("Task Metrics") or {}
                t = totals[label]
                t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["spill_mb"] += m.get("Memory Bytes Spilled", 0) / 2**20
                shuffle = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / 2**20
                for acc in e["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == PYTHON_TIME:
                        t["python_s"] += int(acc.get("Update", 0)) / 1e3
    return dict(totals), jobs
