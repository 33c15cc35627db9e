"""Self-tests for the benchmark's pure helpers. Run from the repository
root with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
from spans import Span, aggregate, nesting_problems, parse_metric  # noqa: E402
from stats import covered, percentile, self_time, tail_percentile  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(10_000) == 99
    for n in range(20, 500):
        p = tail_percentile(n)
        assert n * (100 - p) / 100 >= 10
        assert p == 99 or n * (100 - (p + 1)) / 100 < 10


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 95) == 95
    assert percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_time_subtracts_covered_child_intervals():
    # children overlap each other and one sticks out past the parent
    kids = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert covered(kids, 0.0, 10.0) == pytest.approx(4.0)
    assert self_time(0.0, 10.0, kids) == pytest.approx(6.0)
    assert self_time(0.0, 10.0, []) == pytest.approx(10.0)


def test_parse_metric_units():
    assert parse_metric("3") == 3
    assert parse_metric("1,024") == 1024
    assert parse_metric("12 ms") == pytest.approx(0.012)
    assert parse_metric("4.0 KiB") == 4096
    assert parse_metric(
        "total (min, med, max)\n1.5 s (0 ms, 375 ms, 500 ms)") == pytest.approx(1.5)
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")


def _canned():
    with open(os.path.join(HERE, "rest_status.json")) as fh:
        status = json.load(fh)
    spans = [Span("pipeline.build_gold#0", "pipeline.build_gold", None, 0.0, 10.0),
             Span("writers.write#1", "writers.write", "pipeline.build_gold#0",
                  2.0, 5.0)]
    return spans, status


def test_aggregate_attributes_jobs_to_spans_and_ancestors():
    spans, status = _canned()
    agg, problems = aggregate(spans, status)
    assert problems == []
    gold, write = agg["pipeline.build_gold"], agg["writers.write"]
    assert gold["spans"] == 1 and gold["self_s"] == pytest.approx(7.0)
    assert write["self_s"] == pytest.approx(3.0)
    # job 1 lists stage 1 again; it ran under job 0 and counts once
    assert write["jobs"] == 1 and write["tasks"] == 3
    assert write["files"] == 3 and write["io_bytes"] == 4096
    assert gold["jobs"] == 2 and gold["tasks"] == 4 + 201 + 3
    assert gold["exec_cpu_s"] == pytest.approx(3.5)
    assert gold["exec_run_s"] == pytest.approx(5.7)
    assert gold["shuffle_bytes"] == 1000 and gold["spill_bytes"] == 64
    assert gold["python_s"] == pytest.approx(1.5)


def test_aggregate_reports_lost_evidence():
    spans, status = _canned()
    evicted = copy.deepcopy(status)
    evicted["jobs"] = evicted["jobs"][1:]
    _, problems = aggregate(spans, evicted)
    assert any("evicted" in p for p in problems)

    stray = copy.deepcopy(status)
    stray["jobs"][0]["jobGroup"] = None
    _, problems = aggregate(spans, stray)
    assert any("outside every span" in p for p in problems)

    lost_stage = copy.deepcopy(status)
    lost_stage["stages"] = lost_stage["stages"][1:]
    _, problems = aggregate(spans, lost_stage)
    assert problems == ["stage 0 of job 0 evicted"]


def test_nesting_problems_flags_children_outlasting_parent():
    spans, _ = _canned()
    assert nesting_problems(spans) == []
    spans.append(Span("writers.write#2", "writers.write", "pipeline.build_gold#0",
                      3.0, 11.0))
    assert nesting_problems(spans) == ["children of pipeline.build_gold#0 outlast it"]


def _read_all(path):
    return {f: open(os.path.join(path, f), "rb").read()
            for f in sorted(os.listdir(path))}


def test_same_seed_gives_byte_identical_query_tables(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    rows = inputs.write_query_tables(a, 0.001, seed=7)
    assert rows == inputs.write_query_tables(b, 0.001, seed=7)
    inputs.write_query_tables(c, 0.001, seed=8)
    assert len(rows) == 10
    assert _read_all(a) == _read_all(b)
    assert _read_all(a) != _read_all(c)
