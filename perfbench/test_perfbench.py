"""Tests of the benchmark's own arithmetic and generators (no Spark needed).

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, covered  # noqa: E402
from workloads import _positional_failures, expected_llm_rows  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 75) == pytest.approx(3.25)


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([float(i) for i in range(20)])["pct"] == 50.0
    t = stats.tail([float(i) for i in range(40)])
    assert (t["pct"], t["beyond"]) == (75.0, 10)
    t = stats.tail([float(i) for i in range(100)])
    assert (t["pct"], t["beyond"], t["n"]) == (90.0, 10, 100)
    assert stats.tail([float(i) for i in range(1000)])["pct"] == 99.0


def test_tail_too_few_samples_reports_max_with_zero_beyond():
    t = stats.tail([0.5, 2.0, 1.0])
    assert t == {"value": 2.0, "pct": 100.0, "n": 3, "beyond": 0}


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 10.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / med)


def test_summarize_takes_median_and_spread_per_metric():
    runs = [{"metrics": {"wall_s": {"value": v, "unit": "s"}}} for v in (4.0, 5.0, 6.0, 5.0, 5.5)]
    s = stats.summarize(runs)["wall_s"]
    assert (s["median"], s["n"]) == (5.0, 5)
    assert s["spread"] == pytest.approx(stats.quartile_spread([4.0, 5.0, 6.0, 5.0, 5.5]))


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered(0, 10, [(-5, 2), (9, 20)]) == 3
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_overlapping_children_once():
    tr = Tracer(enabled=True)
    with tr.span("op", "a") as root:
        pass
    tr.spans[root].update(start=0.0, end=10.0)
    kids = [tr.spans[tr.add("stage", s, e, parent=root)] for s, e in ((1.0, 4.0), (3.0, 6.0), (8.0, 9.0))]
    assert all(k["op"] == "a" and k["parent"] == root for k in kids)
    self_time = 10.0 - covered(0.0, 10.0, [(k["start"], k["end"]) for k in kids])
    assert self_time == pytest.approx(10 - 5 - 1)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x", "op") as idx:
        assert idx is None
    assert tr.spans == []


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_tickets_csv_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    gen.write_tickets_csv(a, 300, seed=7)
    gen.write_tickets_csv(b, 300, seed=7)
    gen.write_tickets_csv(c, 300, seed=8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_ticket_rows_shape():
    rows = gen.ticket_rows(3000, seed=3)
    data = [r for r in rows if any(r)]
    assert len(data) == 3000
    assert len(rows) > len(data)  # blank rows are present
    keys = [r[1] for r in data]
    assert 0 < keys.count("") < 100  # about 1% blank keys
    assert any("," in r[3] for r in data)
    sizes = sorted((keys.count(k) for k in set(keys) if k), reverse=True)
    assert sizes[0] > 10 * statistics.median(sizes)  # heavy-tailed groups


def test_expected_llm_rows_follow_the_mock_contract(tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("row_id,ticket_id,customer,message\n0,A,c1,hi\n,,,\n1,,c2,\"x, y\"\n2,A,c1,again\n")
    grouped = expected_llm_rows(str(p), grouped=True)
    assert [r["row_id"] for r in grouped] == ["0", "1", "2"]
    assert [r["group"] for r in grouped] == ["A", "unknown", "A"]
    prompt = "Ticket A from c1: again"
    assert grouped[2]["prompt"] == prompt
    assert grouped[2]["response"] == f"mock:{hashlib.md5(prompt.encode()).hexdigest()}:2"
    assert grouped[1]["prompt"] == "Ticket  from c2: x, y"
    plain = expected_llm_rows(str(p), grouped=False)
    assert all(r["response"].endswith(":0") for r in plain)


def test_positional_failures_count_wrong_missing_and_reordered_rows():
    exp = [{"row_id": str(i), "response": f"r{i}"} for i in range(4)]
    got = [dict(e) for e in exp]
    assert _positional_failures(exp, got, ("row_id", "response")) == set()
    got[1]["response"] = "bad"
    got[2], got[3] = got[3], got[2]
    assert _positional_failures(exp, got, ("row_id", "response")) == {1, 2, 3}
    assert _positional_failures(exp, got[:2], ("row_id",)) == {2, 3}


def test_benchmark_json_lists_the_metrics_defined_here():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == [n for n, _, _ in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, u, b, _, _ in metrics.PER_LAYER
    ]
    assert [w["name"] for w in bench["workloads"]] == list(metrics.ALL)
