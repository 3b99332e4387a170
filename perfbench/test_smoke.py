"""Smoke test of the benchmark itself, at minimal size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs traced twice with the same seed at minimal size
(sf0.001 tables, 200-row drops). The test checks that the run is correct,
that every metric is printed with its unit and sample count, that the JSON
result carries exactly the per-layer metrics of ``BENCHMARK.json``, that
spans nest and self times are non-negative, and that the exact counters
repeat between the two runs.
"""

from __future__ import annotations

import json
import os
import re

import pytest

import counters_repeat
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

#: the end-to-end metrics under their workload names, as printed
PRINTED = {
    "dashboard": ("setup_s", "refresh_p50_s", "refresh_tail_s", "query_p50_ms", "query_tail_ms",
                  "panels_per_s", "stored_bytes_per_landed_byte", "failed_ratio"),
    "lake_ingest": ("setup_s", "freshness_p50_s", "freshness_tail_s", "verify_query_p50_ms",
                    "verify_query_tail_ms", "landed_rows_per_s", "stored_bytes_per_landed_byte",
                    "failed_ratio"),
}


@pytest.fixture(scope="module", params=[w["name"] for w in SPEC["workloads"]])
def runs(request, tmp_path_factory):
    tmp = tmp_path_factory.mktemp(request.param)
    return request.param, [
        counters_repeat.traced_run(request.param, 3, 1, True, str(tmp / f"{k}.json")) for k in range(2)
    ]


def test_result_is_correct_and_carries_every_per_layer_metric(runs):
    _workload, (report, _again) = runs
    result = json.loads(report["stdout"].strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert run.per_layer_names() == list(want)


def test_every_metric_is_printed_with_unit_and_n(runs):
    workload, (report, _again) = runs
    out = report["stdout"]
    for m in SPEC["end_to_end"]:
        assert re.search(rf"\[{re.escape(m['name'])}\] \S+ {re.escape(m['unit'])}\b.*  n=\d+", out), m
    for name in PRINTED[workload]:
        assert re.search(rf"^  {re.escape(name)} +\[\S+\] \S+ \S+.*  n=\d+$", out, re.M), name
    for m in SPEC["per_layer"]:
        assert re.search(rf"^  {re.escape(m['name'])} +\S+ {re.escape(m['unit'])}  n=\d+$", out, re.M), m


def test_spans_nest_and_self_times_are_not_negative(runs):
    _workload, (report, _again) = runs
    spans = report["spans"]
    assert spans
    for s in spans:
        assert s["self"] >= -1e-9, s
        if s["parent"] is None:
            continue
        p = spans[s["parent"]]
        assert p["start"] <= s["start"] and s["end"] <= p["end"] + 1e-6, (p, s)
        assert p["op"] == s["op"], (p, s)
    ops = {s["op"] for s in spans if s["name"] == "bench.op"}
    assert ops == {r["i"] for r in report["ops"]}


def test_exact_counters_repeat_with_the_same_seed(runs):
    _workload, (a, b) = runs
    mismatches, _spread = counters_repeat.compare(a, b)
    assert not mismatches
