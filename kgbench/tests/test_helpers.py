"""Tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from kgbench import check, stats
from kgbench.trace import Span, Tracer, fold_event_log, self_times
from kgbench.workloads import PER_LAYER, WORKLOADS

HERE = Path(__file__).parent


def _span(id, parent, start, end):
    return Span(id, id, "x", parent, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("root", None, 0.0, 10.0),
        _span("a", "root", 1.0, 4.0),
        _span("b", "root", 3.0, 6.0),      # overlaps a: union is [1, 6]
        _span("a1", "a", 2.0, 3.0),
        _span("late", "b", 5.0, 7.5),      # runs past its parent's end
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 5.0)
    assert st["a"] == pytest.approx(3.0 - 1.0)
    assert st["b"] == pytest.approx(3.0 - 1.0)  # only [5, 6] is inside b
    assert st["a1"] == pytest.approx(1.0)
    assert st["late"] == pytest.approx(2.5)


def test_tracer_nests_spans_and_self_times_add_up():
    tr = Tracer("r")
    with tr.span("op", "checkpoint") as op:
        with tr.span("stage", "segment") as stage:
            with tr.span("ledger", "lineage") as ledger:
                pass
    assert stage.parent == op.id and ledger.parent == stage.id
    assert {s.run_id for s in tr.spans} == {"r"}
    st = self_times(tr.spans)
    assert sum(st.values()) == pytest.approx(op.duration)


def test_fold_recorded_event_log():
    with open(HERE / "fixtures" / "eventlog_small.jsonl") as f:
        groups = fold_event_log(f)
    expected = json.loads((HERE / "fixtures" / "eventlog_small.expected.json").read_text())
    assert set(groups) == set(expected)
    for g, acc in expected.items():
        for k, v in acc.items():
            assert groups[g][k] == pytest.approx(v), (g, k)


def test_triple_diff_flags_dropped_extra_and_duplicate():
    expected = {("page:u", "contains_entity", f"entity:{i}") for i in range(4)}
    got = sorted(expected)
    assert check.triple_diff(got, expected) == []
    dropped = got[1:]
    extra = got + [("page:u", "contains_entity", "entity:zz")]
    both = dropped + [("page:u", "contains_entity", "entity:zz")]
    assert [p.split()[1] for p in check.triple_diff(dropped, expected)] == ["missing,"]
    assert [p.split()[1] for p in check.triple_diff(extra, expected)] == ["extra,"]
    assert [p.split()[1] for p in check.triple_diff(both, expected)] == ["missing,", "extra,"]
    assert [p.split()[1] for p in check.triple_diff(got + got[:1], expected)] == ["duplicated,"]


def test_text_diff_flags_wrong_and_unexpected_urls():
    exp = {"u1": " a b", "u2": " c"}
    assert check.text_diff(dict(exp), exp) == []
    assert len(check.text_diff({"u1": " a b", "u2": "c"}, exp)) == 1
    assert len(check.text_diff({**exp, "u3": " d"}, exp)) == 1


@pytest.mark.parametrize(
    "n, p",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_supported_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.supported_percentile(n) == p


def test_tail_reports_max_below_twenty_samples_and_percentile_above():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    xs = [float(i) for i in range(1, 101)]   # 1..100
    assert stats.tail(xs) == (90.0, "p90 of 100")
    assert stats.percentile(xs, 50) == 50.0


def test_benchmark_json_lists_every_per_layer_metric():
    bench = json.loads((HERE.parents[1] / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
