"""The printed metric names match BENCHMARK.json, and a directory without
the package makes the benchmark fail without a result."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import run
import workloads
from harness import Harness
from spans import Span, parse_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
LOG = os.path.join(HERE, "data", "small_eventlog.jsonl")


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _harness(tmp_path) -> Harness:
    """A harness whose spans replay one op over the recorded event log."""
    h = Harness("wl", True, str(tmp_path), str(tmp_path))
    h.jvm_pid, h.cores = os.getpid(), 2
    t = 1792207195.0
    spans = [
        ("setup", None, 0, 1, {}), ("get_spark", 0, 0, 0.5, {}),
        ("ship_package", 0, 0.5, 0.6, {}), ("warmup", 0, 0.6, 1, {}),
        ("pass", None, t, t + 5, {"pass_idx": 1}),
        ("op", 4, t, t + 5, {"op": "op", "pass_idx": 1, "timed": True}),
        ("cleanup", 5, t, t + 0.1, {"group": "wl:1:op:cleanup"}),
        ("call", 5, t + 0.1, t + 1.7, {"group": "wl:1:op:call"}),
        ("action", 5, t + 1.7, t + 5, {"group": "wl:1:op:action"}),
    ]
    h.tracer.spans = [Span(i, p, n, a, b, attrs) for i, (n, p, a, b, attrs) in enumerate(spans)]
    return h


def test_printed_metric_names_match_benchmark_json(tmp_path):
    spec = _spec()
    h = _harness(tmp_path)
    assert set(h.end_to_end()) == {m["name"] for m in spec["end_to_end"]}
    with open(LOG) as f:
        per_layer, rows = h.per_layer(parse_event_log(f))
    per_layer.update(run.stream_metrics(None, {}))
    assert set(per_layer) == {m["name"] for m in spec["per_layer"]}
    # the replayed op: one job in the call, two in the action
    (row,) = rows
    assert (row["call_jobs"], row["action_jobs"], row["jobs"], row["skipped_stages"]) == (1, 2, 3, 1)
    assert row["call_self_s"] == pytest.approx(1.6 - 0.961)


def test_benchmark_json_follows_its_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])


def test_fails_without_a_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
