"""Per-stage task metrics from a Spark event log.

The aggregation follows ``bench.py:_parse_stage_metrics`` (copied, not moved,
so the bench harness stays untouched) and adds spill, shuffle fetch wait, the
per-task run times and a skew figure. Tasks are attributed to pipeline stages
through the ``reden-<stage>`` / ``reden-cur-<stage>`` job groups that the two
pipelines set around each stage.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

# longest prefix first: "reden-cur-pairs" must not parse as stage "cur-pairs"
GROUP_PREFIXES = ("reden-cur-", "reden-")

SUM_KEYS = (
    "tasks",
    "task_s",
    "jvm_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "input_mb",
    "output_mb",
    "spill_mb",
    "fetch_wait_s",
)


def stage_name(group: str, prefixes: tuple[str, ...]) -> str | None:
    for p in prefixes:
        if group.startswith(p):
            return group[len(p):]
    return None


def _iter_events(evt_dir: Path):
    for log in sorted(p for p in Path(evt_dir).rglob("*") if p.is_file()):
        for line in log.read_text(errors="replace").splitlines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(ev, dict):
                yield ev


def parse_stage_metrics(
    evt_dir: str | Path,
    prefixes: tuple[str, ...] = GROUP_PREFIXES,
    since_ms: float = 0.0,
) -> dict[str, dict]:
    """Aggregate task metrics per pipeline stage.

    ``since_ms``: ignore jobs submitted before this epoch-millisecond time, so
    a warm-up or preparation run in the same application is not counted.

    Returns ``{stage: {tasks, task_s, jvm_cpu_s, gc_s, shuffle_read_mb,
    shuffle_write_mb, input_mb, output_mb, spill_mb, fetch_wait_s, task_skew,
    task_times_s}}``. ``task_skew`` is max/median task run time within the
    stage's dominant Spark stage (the one with the most summed task time),
    so a pipeline stage that mixes tiny planning jobs with one big map stage
    reports the skew of the work that sets its wall time.
    """
    stage_group: dict[int, str] = {}
    agg: dict[str, dict] = {}
    per_spark_stage: dict[tuple[str, int], list[float]] = {}
    for ev in _iter_events(Path(evt_dir)):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if ev.get("Submission Time", 0) < since_ms:
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "") or ""
            name = stage_name(group, prefixes)
            if name is not None:
                for si in ev.get("Stage Infos", []):
                    stage_group[si["Stage ID"]] = name
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            name = stage_group.get(sid)
            tm = ev.get("Task Metrics")
            if name is None or tm is None:
                continue
            a = agg.setdefault(name, {k: 0.0 for k in SUM_KEYS} | {"task_times_s": []})
            run_s = tm.get("Executor Run Time", 0) / 1e3
            a["tasks"] += 1
            a["task_s"] += run_s
            a["task_times_s"].append(run_s)
            a["jvm_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            srm = tm.get("Shuffle Read Metrics", {})
            a["shuffle_read_mb"] += (
                srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
            ) / 2**20
            a["fetch_wait_s"] += srm.get("Fetch Wait Time", 0) / 1e3
            a["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            ) / 2**20
            a["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
            a["output_mb"] += tm.get("Output Metrics", {}).get("Bytes Written", 0) / 2**20
            a["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
            per_spark_stage.setdefault((name, sid), []).append(run_s)
    for name, a in agg.items():
        stages = [times for (n, _sid), times in per_spark_stage.items() if n == name]
        dominant = max(stages, key=sum)
        med = statistics.median(dominant)
        a["task_skew"] = max(dominant) / med if med > 0 else 1.0
    return agg
