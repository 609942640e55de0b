"""Self-time, interval and percentile arithmetic of the span recorder."""

from __future__ import annotations

import math
import threading
import time
import types

import pytest

from perfbench.trace import (
    Span,
    Tracer,
    layer_totals,
    median,
    percentile,
    self_time,
    uncovered_time,
    union_length,
)


def span(layer, start, end, children=()):
    s = Span(layer, start, end)
    for c in children:
        c.parent = s
        s.children.append(c)
    return s


def test_union_length_merges_overlaps_and_skips_empty_intervals():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_length([(1, 1), (3, 2)]) == 0.0
    assert union_length([(2, 3), (0, 1), (0.5, 2.5)]) == 3.0


def test_self_time_subtracts_nested_children():
    grandchild = span("c", 2, 3)
    child = span("b", 1, 5, [grandchild])
    root = span("a", 0, 10, [child])
    assert self_time(root) == 6.0
    assert self_time(child) == 3.0
    assert self_time(grandchild) == 1.0
    # self times partition the root interval
    assert self_time(root) + self_time(child) + self_time(grandchild) == root.duration


def test_self_time_counts_overlapping_children_once():
    # two worker threads under one parent, overlapping from 3 to 4
    root = span("root", 0, 10, [span("t", 1, 4), span("t", 3, 6)])
    assert self_time(root) == 5.0


def test_self_time_clips_children_to_the_parent():
    root = span("root", 0, 10, [span("late", 8, 12)])
    assert self_time(root) == 8.0


def test_percentile_interpolates_and_handles_small_samples():
    assert math.isnan(percentile([], 0.5))
    assert percentile([4.0], 0.95) == 4.0
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert percentile([0.0, 10.0], 0.95) == pytest.approx(9.5)
    assert percentile(list(range(101)), 0.95) == pytest.approx(95.0)


def test_layer_totals_sums_self_time_calls_and_counts():
    a1, a2 = span("a", 1, 2), span("a", 3, 5)
    a2.count = 7
    b = span("b", 5, 9, [span("a", 6, 7)])
    root = span("root", 0, 10, [a1, a2, b])
    spans = [a1, a2, b, b.children[0]]
    totals = layer_totals(spans)
    assert totals["a"] == {"self_s": 4.0, "span_s": 4.0, "calls": 3, "count": 7}
    assert totals["b"]["self_s"] == 3.0 and totals["b"]["span_s"] == 4.0
    assert uncovered_time(root, spans) == 3.0
    attributed = sum(t["self_s"] for t in totals.values())
    assert attributed + uncovered_time(root, spans) == root.duration


def test_uncovered_time_skips_ignored_layers_but_not_what_they_contain():
    # a glue span from 1 to 9 holding one real layer from 2 to 4, and a
    # real layer on another thread from 3 to 6
    glue = span("glue", 1, 9, [span("a", 2, 4)])
    other = span("b", 3, 6)
    root = span("root", 0, 10, [glue, other])
    spans = [glue, glue.children[0], other]
    assert uncovered_time(root, spans) == 2.0
    assert uncovered_time(root, spans, frozenset({"glue"})) == 6.0
    assert uncovered_time(root, [], frozenset()) == 10.0


def _module():
    mod = types.SimpleNamespace()

    def inner(x):
        time.sleep(0.01)
        return list(range(x))

    def outer(x):
        time.sleep(0.01)
        return mod.inner(x)

    mod.inner, mod.outer = inner, outer
    return mod


def test_tracer_nests_calls_counts_items_and_uninstalls():
    mod = _module()
    original = mod.inner
    tracer = Tracer()
    tracer.wrap(mod, "outer", "outer")
    tracer.wrap(mod, "inner", "inner", lambda args, kwargs, result: len(result))
    mod.outer(3)  # outside a root interval: not recorded
    tracer.begin()
    mod.outer(3)
    mod.inner(2)
    root = tracer.end()
    tracer.uninstall()
    assert mod.inner is original
    totals = layer_totals(tracer.spans)
    assert totals["outer"]["calls"] == 1
    assert totals["inner"]["calls"] == 2 and totals["inner"]["count"] == 5
    assert totals["outer"]["self_s"] < totals["outer"]["span_s"]
    total = sum(t["self_s"] for t in totals.values()) + uncovered_time(root, tracer.spans)
    assert total == pytest.approx(root.duration)


def test_tracer_parents_worker_thread_spans_on_the_root():
    mod = _module()
    tracer = Tracer()
    tracer.wrap(mod, "inner", "inner")
    tracer.begin()
    threads = [threading.Thread(target=mod.inner, args=(1,)) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    root = tracer.end()
    tracer.uninstall()
    assert [s.parent for s in tracer.spans] == [root] * 3
    totals = layer_totals(tracer.spans)
    uncovered = uncovered_time(root, tracer.spans)
    # three overlapping 10 ms spans: more span-seconds than wall time
    assert totals["inner"]["self_s"] > root.duration - uncovered
    assert 0.0 <= uncovered < root.duration


def test_tracer_records_events_only_inside_a_root_interval():
    tracer = Tracer()
    tracer.event("action", 1.0)
    tracer.begin()
    tracer.event("action", 2.0)
    tracer.end()
    assert tracer.events == {"action": [2.0]}
