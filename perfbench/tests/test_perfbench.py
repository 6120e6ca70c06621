"""Tests of the benchmark's own parts (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import check  # noqa: E402
import eventlog  # noqa: E402
import layers  # noqa: E402

SAMPLE = os.path.join(HERE, "data", "eventlog_sample.jsonl")


def test_eventlog_groups_and_totals():
    groups = eventlog.parse(SAMPLE)
    assert set(groups) == {"pass.0", "q.q1_pricing_summary.0"}
    p = groups["pass.0"].summary()
    assert (p["jobs"], p["stages"], p["tasks"]) == (3, 3, 7)
    assert p["python_run_s"] > 0 and p["python_init_s"] > 0
    assert p["bytes_to_python"] == 4688 and p["bytes_from_python"] == 6784
    assert p["shuffle_write_bytes"] == 2932 + 15558
    assert p["shuffle_read_bytes"] == 2932 + 15558
    q = groups["q.q1_pricing_summary.0"].summary()
    assert q["python_run_s"] == 0 and q["jobs"] >= 1 and q["tasks"] >= 1


def test_eventlog_extraction_stages():
    groups = eventlog.parse(SAMPLE)
    parts = eventlog.extract_stages(groups["pass.0"])
    assert [len(parts[k]) for k in ("salt", "ocr", "merge")] == [1, 1, 1]
    layer = eventlog.ocr_layer([groups["pass.0"]], slots=2)
    assert layer["stage.ocr.tasks"] == 2  # two salt partitions ran the UDF
    assert layer["stage.salt_exchange.shuffle_bytes"] == 2932
    assert layer["stage.merge.shuffle_bytes"] == 15558
    assert 0 < layer["stage.ocr.slot_util"] <= 1
    assert layer["stage.ocr.task_skew"] >= 1
    # a query group has no Python stage, so no extraction layer
    assert eventlog.ocr_layer([groups["q.q1_pricing_summary.0"]], 2)["stage.ocr.tasks"] == 0


def test_eventlog_rejects_events_logged_twice():
    with open(SAMPLE) as f:
        lines = f.readlines()
    jobs = [ln for ln in lines if '"SparkListenerJobStart"' in ln]
    tasks = [ln for ln in lines if '"SparkListenerTaskEnd"' in ln]
    for doubled in (lines + jobs[:1], lines + tasks[:1], lines + lines):
        with pytest.raises(ValueError, match="logged twice"):
            eventlog.parse_lines(doubled)


def test_expected_spans_from_input_alone():
    doc = json.dumps(
        [
            {"kind": "media", "media_ref": "img://v1/alpha_to_merge?skew=2&noise=7", "offset": 1},
            {"kind": "text", "text": "a  join of\tthe scan", "offset": 0},
        ]
    )
    assert check.expected_spans(doc) == [
        ("text", "join the scan", None, 0),
        ("media", "alpha merge", "img://v1/alpha_to_merge?skew=2&noise=7", 1),
    ]
    out = json.dumps(
        [
            {"kind": "text", "text": "join the scan", "order": 0},
            {"kind": "media", "text": "alpha merge", "media_ref": "img://v1/alpha_to_merge?skew=2&noise=7", "order": 1},
        ]
    )
    assert check.check_extraction([("d1", doc)], [("d1", out)]) == []
    assert check.check_extraction([("d1", doc)], []) != []


def test_result_digest_ignores_row_order_not_content():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", [1.0, 2.0])]
    assert check.result_digest(rows) == check.result_digest(rows[::-1])
    assert check.result_digest(rows)[0] == 2
    assert check.result_digest(rows) != check.result_digest([(1, "a", 0.3), (2, "b", [1.0, 2.5])])


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(layers.workloads.WORKLOADS)
