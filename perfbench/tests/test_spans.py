"""Span self-time arithmetic, metric parsing and the headline format."""

import json

import pytest

from run import END_TO_END, PER_LAYER, SPAN_METRIC, headline
from spans import Span, Tracer, parse_metric, self_time_by_name, self_times


def _tree():
    # root [0, 10]: a [1, 4] (with child a1 [2, 3]), b [5, 9], c [8.5, 9.5]
    # overlaps b and runs past the root's end
    return [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "a1", 2.0, 3.0, parent=1),
        Span(3, "b", 5.0, 9.0, parent=0),
        Span(4, "c", 8.5, 9.5, parent=0),
    ]


def test_self_time_subtracts_covered_children():
    st = self_times(_tree())
    assert st[2] == pytest.approx(1.0)           # leaf: its whole duration
    assert st[1] == pytest.approx(3.0 - 1.0)     # a minus a1
    assert st[3] == pytest.approx(4.0)
    # root covered by a [1,4] and the union of b, c = [5, 9.5]: 3 + 4.5
    assert st[0] == pytest.approx(10.0 - 7.5)


def test_self_time_by_name_sums_repeated_spans():
    spans = _tree() + [Span(5, "b", 20.0, 21.5)]
    assert self_time_by_name(spans)["b"] == pytest.approx(4.0 + 1.5)


def test_tracer_nests_spans_without_spark():
    tr = Tracer("run1")
    with tr.span("outer"):
        with tr.span("inner", probe=True):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.probe and not outer.probe
    assert {s.run_id for s in tr.spans} == {"run1"}
    assert outer.start <= inner.start <= inner.end <= outer.end


@pytest.mark.parametrize("text,value", [
    ("1,024", 1024.0),
    ("3.5 MiB", 3.5 * 2**20),
    ("12 ms", 0.012),
    ("total (min, med, max (stageId: taskId))\n59 ms (11 ms, 13 ms, 20 ms (stage 1.0: task 3))",
     0.059),
    ("total (min, med, max (stageId: taskId))\n396.6 KiB (99.1 KiB, ...)", 396.6 * 1024),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_headline_parses_with_exact_keys():
    line = headline(True, 7, 0, {"rows_per_s": (12345.678, "rows/s"), "setup_s": (30.5, "s")})
    assert "\n" not in line
    d = json.loads(line)
    assert set(d) == {"correct", "attempted", "failed", "metrics"}
    assert d["metrics"]["rows_per_s"] == {"value": 12345.678, "unit": "rows/s"}
    assert isinstance(d["attempted"], int) and isinstance(d["failed"], int)


def test_every_per_layer_headline_fits_a_tail_capture():
    line = headline(True, 9, 0, {k: (123456.789012, u) for k, u in PER_LAYER.items()})
    assert len(line) < 4096
    assert set(json.loads(line)["metrics"]) == set(PER_LAYER)


def test_benchmark_json_matches_the_metrics_printed():
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert set(SPAN_METRIC.values()) <= set(PER_LAYER)
