"""Event-log reader: span arithmetic and stage-to-layer attribution.

The unit tests feed hand-built events; the end-to-end test runs the
benchmark's traced mode on the smallest workload and checks that the
per-layer table it prints is consistent with the corpus it measured.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import eventlog

ROOT = Path(__file__).resolve().parents[2]


def test_covered_ms_merges_overlaps_and_clips():
    spans = [(0, 10), (5, 20), (30, 40), (45, 45)]
    assert eventlog.covered_ms(spans, 0, 100) == 30
    assert eventlog.covered_ms(spans, 8, 35) == 17
    assert eventlog.covered_ms([], 0, 10) == 0


def test_self_time_is_span_minus_covered_children():
    # 100 ms action, children cover [10, 40] and [30, 60] -> 50 ms covered.
    assert eventlog.self_time_s((0, 100), [(10, 40), (30, 60)]) == pytest.approx(0.05)
    # A child that starts before the parent only counts inside the parent.
    assert eventlog.self_time_s((0, 100), [(-50, 20)]) == pytest.approx(0.08)


def _stage_events(sid, group, label, tasks, t0, t1, **metrics):
    acc = [{"Name": f"internal.metrics.{k}", "Value": v} for k, v in metrics.items()]
    props = {"spark.jobGroup.id": group, "spark.job.description": label}
    info = {"Stage ID": sid, "Number of Tasks": tasks, "Submission Time": t0,
            "Completion Time": t1, "Accumulables": acc}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid},
         "Properties": props},
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    ]


def test_vocab_run_assigns_map_reduce_topv_roles():
    events = (
        _stage_events(0, "io", "write0", 4, 0, 50, **{"output.bytesWritten": 123})
        + _stage_events(1, "vocab", "run0", 4, 100, 300, executorRunTime=600,
                        executorCpuTime=4e8, jvmGCTime=20,
                        **{"input.recordsRead": 1000, "shuffle.write.recordsWritten": 40,
                           "shuffle.write.bytesWritten": 800})
        + _stage_events(2, "vocab", "run0", 4, 310, 360, executorRunTime=100,
                        **{"shuffle.read.recordsRead": 40, "shuffle.read.fetchWaitTime": 8,
                           "shuffle.write.recordsWritten": 12})
        + _stage_events(3, "vocab", "run0", 1, 365, 375,
                        **{"shuffle.read.recordsRead": 12})
    )
    st = eventlog.stages(events)
    run = eventlog.by_label(st, "vocab")["run0"]
    assert [s.stage_id for s in run] == [1, 2, 3]
    assert eventlog.by_label(st, "io")["write0"][0].m("output.bytesWritten") == 123

    m = eventlog.vocab_run(run, (90.0, 400.0), cores=4)
    assert m["vocab.map.tasks"] == 4
    assert m["vocab.map.wall_s"] == pytest.approx(0.2)
    assert m["vocab.map.run_s"] == pytest.approx(0.6)
    assert m["vocab.map.cpu_s"] == pytest.approx(0.4)
    assert m["vocab.map.slot_idle_ratio"] == pytest.approx(1 - 0.6 / (0.2 * 4))
    assert m["vocab.shuffle.records"] == 40
    assert m["vocab.reduce.tasks"] == 4
    assert m["vocab.reduce.fetch_wait_s"] == pytest.approx(0.008)
    assert m["vocab.topv.records"] == 12
    assert m["vocab.topv.wall_s"] == pytest.approx(0.01)
    # 310 ms action; stages cover 200 + 50 + 10 ms.
    assert m["vocab.driver_s"] == pytest.approx(0.05)


def test_traced_run_prints_consistent_layer_table():
    """Traced run of the smallest workload: the layer table must agree with
    the corpus measured by DuckDB and carry every declared per-layer metric."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fixture_vocab",
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300, check=False,
    )
    assert proc.returncode == 0, proc.stdout
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    assert set(m) == {d["name"] for d in declared}
    assert m["vocab.docs_in"] == m["io.input_records"] == 5000
    assert m["vocab.map.tasks"] == m["io.scan_tasks"] == 1
    assert m["vocab.distinct_words"] == m["vocab.rows_out"] == 31
    # One map task emits each distinct word once.
    assert m["vocab.shuffle.records"] == 31
    assert m["vocab.partial_agg_ratio"] == pytest.approx(31 / m["vocab.tokens_in"])
    assert m["io.bytes_written"] == m["io.input_file_bytes"]
    assert 0 < m["vocab.driver_s"] and 0 <= m["vocab.driver_share"] <= 1
