"""Spark event-log reader: per-stage metrics attributed to benchmark layers.

The benchmark labels every engine call with ``setJobGroup(<layer>, <label>)``
and runs with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``. Each ``SparkListenerStageSubmitted``
event carries the job group and label in its properties, and each
``SparkListenerStageCompleted`` event carries the stage's span and its
summed task metrics, so stages attribute to layers without any change to
the engine.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    group: str | None
    label: str | None
    tasks: int
    submit_ms: int
    complete_ms: int
    # Accumulator name (minus the ``internal.metrics.`` prefix) -> value.
    metrics: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.complete_ms - self.submit_ms) / 1000.0

    def m(self, name: str) -> float:
        return float(self.metrics.get(name, 0))


def read_events(log_dir: str) -> list[dict]:
    """Events of the one application that wrote to `log_dir`."""
    apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {apps}")
    files = glob.glob(os.path.join(apps[0], "events_*"))
    # Rolled files are events_<index>_<appid>; read them in index order.
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def stages(events: list[dict]) -> list[Stage]:
    """Completed stages, in stage-id order, with their job group and label."""
    props: dict[int, dict] = {}
    done: list[Stage] = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props[e["Stage Info"]["Stage ID"]] = e.get("Properties") or {}
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Failure Reason" in info:
                continue
            p = props.get(info["Stage ID"], {})
            metrics = {
                a["Name"].removeprefix("internal.metrics."): float(a["Value"])
                for a in info.get("Accumulables", [])
                if a.get("Name", "").startswith("internal.metrics.")
            }
            done.append(
                Stage(
                    stage_id=info["Stage ID"],
                    group=p.get("spark.jobGroup.id"),
                    label=p.get("spark.job.description"),
                    tasks=info["Number of Tasks"],
                    submit_ms=info["Submission Time"],
                    complete_ms=info["Completion Time"],
                    metrics=metrics,
                )
            )
    done.sort(key=lambda s: s.stage_id)
    return done


def covered_ms(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `spans`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def union_s(spans: list[tuple[float, float]]) -> float:
    """Length of the union of `spans` (ms in, s out)."""
    return covered_ms(spans, float("-inf"), float("inf")) / 1000.0


def self_time_s(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it that child spans cover (ms in, s out)."""
    lo, hi = span
    return ((hi - lo) - covered_ms(children, lo, hi)) / 1000.0


def by_label(all_stages: list[Stage], group: str) -> dict[str, list[Stage]]:
    out: dict[str, list[Stage]] = {}
    for s in all_stages:
        if s.group == group:
            out.setdefault(s.label, []).append(s)
    return out


def _slot_idle(run_s: float, wall_s: float, cores: int) -> float:
    return 1.0 - run_s / (wall_s * cores) if wall_s > 0 else 0.0


def vocab_run(run_stages: list[Stage], action_span_ms: tuple[float, float], cores: int) -> dict:
    """Per-layer numbers of one timed corpus->vocabulary action.

    Roles, by what each stage reads and writes:
    * map: the stage that reads files (scan, tokenize, partial aggregate);
    * topv: the action's last stage, the single-task top-V merge;
    * reduce: every other stage that reads shuffle (final aggregate plus
      per-partition top-V). A corpus small enough for AQE to coalesce to
      one partition has none: its topv stage also does the final aggregate.
    """
    maps = [s for s in run_stages if s.m("input.recordsRead") > 0]
    if len(maps) != 1:
        raise RuntimeError(f"expected one scanning stage, got {[s.stage_id for s in maps]}")
    mp = maps[0]
    last = max(run_stages, key=lambda s: (s.complete_ms, s.stage_id))
    reduces = [s for s in run_stages if s is not mp and s is not last]

    def ms_sum(stages_: list[Stage], name: str) -> float:
        return sum(s.m(name) for s in stages_)

    red_run_s = ms_sum(reduces, "executorRunTime") / 1000.0
    red_wall_s = union_s([(s.submit_ms, s.complete_ms) for s in reduces])
    spans = [(s.submit_ms, s.complete_ms) for s in run_stages]
    map_run_s = mp.m("executorRunTime") / 1000.0
    return {
        "vocab.driver_s": self_time_s(action_span_ms, spans),
        "vocab.map.tasks": mp.tasks,
        "vocab.map.wall_s": mp.wall_s,
        "vocab.map.run_s": map_run_s,
        "vocab.map.cpu_s": mp.m("executorCpuTime") / 1e9,
        "vocab.map.gc_s": mp.m("jvmGCTime") / 1000.0,
        "vocab.map.slot_idle_ratio": _slot_idle(map_run_s, mp.wall_s, cores),
        "vocab.shuffle.records": mp.m("shuffle.write.recordsWritten"),
        "vocab.shuffle.bytes": mp.m("shuffle.write.bytesWritten"),
        "vocab.reduce.tasks": sum(s.tasks for s in reduces),
        "vocab.reduce.wall_s": red_wall_s,
        "vocab.reduce.run_s": red_run_s,
        "vocab.reduce.fetch_wait_s": ms_sum(reduces, "shuffle.read.fetchWaitTime") / 1000.0,
        "vocab.reduce.slot_idle_ratio": _slot_idle(red_run_s, red_wall_s, cores),
        "vocab.topv.wall_s": last.wall_s,
        "vocab.topv.records": last.m("shuffle.read.recordsRead"),
    }


def scan_run(run_stages: list[Stage]) -> dict:
    """Per-layer numbers of one noop run of the `text` column scan; its time
    is the union of its stage spans, so it compares with a stage's wall."""
    spans = [(s.submit_ms, s.complete_ms) for s in run_stages]
    return {
        "io.scan_s": union_s(spans),
        "io.scan_cpu_s": sum(s.m("executorCpuTime") for s in run_stages) / 1e9,
        "io.scan_tasks": sum(s.tasks for s in run_stages),
        "io.input_records": sum(s.m("input.recordsRead") for s in run_stages),
    }


def medians(rows: list[dict]) -> dict:
    """Per-key median over runs."""
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
