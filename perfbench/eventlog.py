"""Per-job-group figures from a Spark event log.

The traced runs enable ``spark.eventLog.enabled`` in the benchmark's
own session config and tag every measured operation with a job group
(``SparkContext.setJobGroup``). After the session stops, this module
reads the log once and reports, per group: jobs, completed stages,
shuffle bytes and records written, and each shuffle-reading task's
bytes read and run time. This is the only source of the exchange and
lineage counts, and it needs no change to the program.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Group:
    jobs: int = 0
    stages: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    task_shuffle_read: list[int] = field(default_factory=list)
    task_run_ms: list[int] = field(default_factory=list)


def read_groups(log_dir: str) -> dict[str, Group]:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    groups: dict[str, Group] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                name = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if name is None:
                    continue
                groups.setdefault(name, Group()).jobs += 1
                for stage in ev["Stage IDs"]:
                    stage_group[stage] = name
            elif kind == "SparkListenerStageCompleted":
                name = stage_group.get(ev["Stage Info"]["Stage ID"])
                if name is not None:
                    groups[name].stages += 1
            elif kind == "SparkListenerTaskEnd":
                name = stage_group.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if name is None or not metrics:
                    continue
                read = metrics.get("Shuffle Read Metrics", {})
                write = metrics.get("Shuffle Write Metrics", {})
                g = groups[name]
                g.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
                g.shuffle_write_records += write.get("Shuffle Records Written", 0)
                got = read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
                if got:
                    g.task_shuffle_read.append(got)
                    g.task_run_ms.append(metrics.get("Executor Run Time", 0))
    return groups
