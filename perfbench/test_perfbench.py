"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import measure  # noqa: E402
import prepare  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ prepare


@pytest.mark.parametrize("workload", ["sync_requests", "stream_events", "text_dedup"])
def test_same_seed_same_digest_other_seed_other_digest(tmp_path, workload):
    a = prepare.prepare(workload, 5, str(tmp_path / "a"))
    b = prepare.prepare(workload, 5, str(tmp_path / "b"))
    c = prepare.prepare(workload, 6, str(tmp_path / "c"))
    da, db, dc = (prepare.verify_digest(d) for d in (a, b, c))
    assert da == db
    assert da != dc


def test_digest_mismatch_refuses(tmp_path):
    d = prepare.prepare("sync_requests", 1, str(tmp_path))
    with open(os.path.join(d, "requests.parquet"), "ab") as f:
        f.write(b"x")
    with pytest.raises(prepare.DigestMismatch):
        prepare.verify_digest(d)


# ------------------------------------------------------------ measure


@pytest.mark.parametrize(
    "n,pct", [(5, 50.0), (19, 50.0), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
              (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_has_ten_samples_beyond(n, pct):
    assert measure.tail_percentile(n) == pct
    if pct > 50.0:
        assert round(n * (100 - pct) / 100, 6) >= 10


def test_windowed_rate_spreads_ops_over_windows():
    # two back-to-back ops of 1.5 s, 10 units each, over three 1 s windows
    ops = [(0.0, 1.5, 10.0), (1.5, 3.0, 10.0)]
    assert measure.windowed_rate(ops, 0.0, 3.0, 1.0) == pytest.approx(10 / 1.5)


def test_rows_match_tolerates_float_noise_only():
    assert measure.rows_match([("a", 1, 0.1 + 0.2)], [("a", 1, 0.3)])
    assert not measure.rows_match([("a", 1, 0.31)], [("a", 1, 0.3)])
    assert not measure.rows_match([("a", 1, None)], [("a", 1, 0.0)])
    assert measure.rows_match([("b", None), ("a", 2)], [("a", 2), ("b", None)])


# ------------------------------------------------------------ metrics


def test_every_metric_has_a_unit_and_a_valid_name():
    for table in (run.END_TO_END, run.PER_LAYER):
        for name, unit in table.items():
            assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
            assert unit and len(unit) <= 16, name


def test_benchmark_json_matches_the_runner():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in b["end_to_end"])
    assert max(m["bound"] for m in b["end_to_end"]) == next(
        m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s"
    )
    names = [w["name"] for w in b["workloads"]] + list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))


def test_benchmark_json_states_the_load_and_floors(tmp_path):
    import pyarrow.parquet as pq

    from workloads import stream_events, text_dedup

    why = {w["name"]: w["why"] for w in _bench()["workloads"]}
    s = why["stream_events"]
    assert f"{stream_events.OFFERED_EPS} events/s" in s
    backlog = stream_events.BACKLOG_FILES * stream_events.BACKLOG_EVENTS_PER_FILE
    assert f"{backlog}-event backlog" in s
    t = why["text_dedup"]
    assert f"precision {text_dedup.PRECISION_FLOOR}" in t
    assert f"recall {text_dedup.RECALL_FLOOR}" in t
    corpus = os.path.join(prepare.prepare("text_dedup", 1, str(tmp_path)), "corpus.parquet")
    assert f"{pq.read_metadata(corpus).num_rows}-doc corpus" in t
    for w in why.values():
        assert f"{run.CPUS} cores" in w and f"{run.DRIVER_MEM} driver" in w


# ------------------------------------------------------------ workloads


def test_sync_flow_is_wide_and_its_sql_has_a_branch_per_flow_branch():
    import random

    from workloads import sync_requests as S

    p = S.request_params(random.Random(1))
    flow = S.build_flow(p, "v")
    nodes = len(flow["generators"]) + len(flow["processors"])
    assert 30 <= nodes <= 50
    assert S.build_sql(p).count("UNION ALL") == S.BRANCHES - 1


def test_pair_scores():
    from workloads.text_dedup import pair_scores

    cluster = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}
    assert pair_scores({1: 1, 2: 1, 3: 1}, cluster) == (1.0, 1.0)
    p, r = pair_scores({1: 1, 2: 1, 4: 1}, cluster)
    assert p == pytest.approx(1 / 3) and r == pytest.approx(1 / 3)


# ------------------------------------------------------------ tracing


def test_self_time_subtracts_children_and_gateway_time():
    t = Tracer()
    t.spans = [
        Span(1, None, "flow.run_flow", 0, 0, 0.0, 10.0, py4j_s=1.0),
        Span(2, 1, "operators.transform", 0, 0, 2.0, 6.0, py4j_s=0.5),
        Span(3, 2, "exec.action", 0, 0, 3.0, 5.0),
    ]
    t.py4j_s = 1.5
    st = t.self_times()
    assert st["flow"] == pytest.approx(10 - 4 - 1.0)
    assert st["operators"] == pytest.approx(4 - 2 - 0.5)
    assert st["exec"] == pytest.approx(2.0)
    assert st["driver"] == pytest.approx(1.5)


def test_eventlog_summary_keeps_only_the_window(tmp_path):
    def task(stage, launch, run_ms, sent):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": launch, "Finish Time": launch + run_ms,
                              "Accumulables": [{"Name": eventlog.PY_SENT, "Update": sent}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 0,
                                 "JVM GC Time": 0, "Disk Bytes Spilled": 0}}

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 50},
        {"Event": "SparkListenerJobStart", "Submission Time": 150},
        task(1, 100, 1000, 1024 * 1024), task(1, 110, 3000, 0), task(2, 120, 500, 0),
        task(0, 10, 9000, 5 * 1024 * 1024),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    s = eventlog.summarize(str(path), 100, 1000)
    assert s["exec.jobs"] == 1
    assert s["exec.tasks"] == 3 and s["exec.stages"] == 2
    assert s["exec.task_run_s"] == pytest.approx(4.5)
    assert s["exec.task_skew"] == pytest.approx(3000 / 2000)
    assert s["llm.py_sent_mb"] == pytest.approx(1.0)
