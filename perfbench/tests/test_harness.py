"""Tests of the benchmark harness's pure parts (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from plan import ingest_plan, median, query_sequence, samples_beyond, tail_percentile  # noqa: E402
from spans import Tracer, covered, self_times  # noqa: E402
from workloads import END_TO_END, LAYER_METRICS  # noqa: E402

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "BENCHMARK.json"
)

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = [f"q{i}" for i in range(13)]


def test_tail_percentile_needs_ten_samples_beyond():
    assert samples_beyond(100, 0.9) == 10
    assert tail_percentile(list(range(99)), 0.9) is None
    assert tail_percentile(list(range(100)), 0.9) == 89
    assert tail_percentile(list(range(1, 1001)), 0.99) == 990
    assert tail_percentile(list(range(999)), 0.99) is None


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def _span(sid, start, end, parent=None):
    return {"id": sid, "name": f"s{sid}", "parent": parent, "op": 0, "start": start, "end": end}


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps child 1 on [3, 4]
        _span(3, 8.0, 12.0, parent=0),  # runs past its parent's end
        _span(4, 2.0, 3.0, parent=1),  # grandchild: not the root's child
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert covered([(0, 1), (1, 2), (5, 7)], 0.5, 6) == pytest.approx(2.5)


def test_seeded_query_sequence():
    a = query_sequence(NAMES, 7, 52)
    assert a == query_sequence(NAMES, 7, 52)
    assert a != query_sequence(NAMES, 8, 52)
    # every pass is a permutation of the mix
    for k in range(4):
        assert sorted(a[13 * k : 13 * (k + 1)]) == sorted(NAMES)


def _plan(seed):
    return ingest_plan(list(range(5000)), list(range(2000)), 100_000, seed)


def test_seeded_day_batches():
    a, b, c = _plan(3), _plan(3), _plan(4)
    assert a == b
    assert a.days[0].doc_ids != c.days[0].doc_ids
    assert a.corpus_ids != c.corpus_ids


def test_day_batches_are_consistent():
    p = _plan(5)
    corpus = set(p.corpus_ids)
    seen = set(corpus)
    deleted: set[int] = set()
    for day in p.days:
        assert not seen & set(day.doc_ids)  # each document lands once
        seen |= set(day.doc_ids)
        for new, src in day.inject:
            assert new not in seen and src in corpus and src not in deleted
        assert set(day.deletes) <= corpus and not set(day.deletes) & deleted
        deleted |= set(day.deletes)
        assert (day.probes[0] in day.vec_ids) == (day.day % 2 == 1)
    assert all(len(d.deletes) == 3 for d in p.days)
    ranges = [r for d in p.days for r in d.event_ranges]
    assert all(hi == lo2 for (_, hi), (lo2, _) in zip(ranges, ranges[1:]))


def test_span_wrapper_returns_result_unchanged():
    jobs = iter(range(100))
    tr = Tracer(mark=lambda: next(jobs))
    marker = object()

    def fn(x, *, y):
        return (x, y, marker)

    wrapped = tr.wrap("layer.fn", fn)
    assert wrapped(1, y=[2]) == (1, [2], marker)
    assert wrapped(1, y=[2])[2] is marker
    assert [s["name"] for s in tr.spans] == ["layer.fn", "layer.fn"]
    assert [(s["job_lo"], s["job_hi"]) for s in tr.spans] == [(0, 1), (2, 3)]
    with pytest.raises(ZeroDivisionError):
        tr.wrap("layer.div", lambda: 1 / 0)()
    assert tr.spans[-1]["name"] == "layer.div" and tr.spans[-1]["end"] is not None


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    assert tr.wrap("x", lambda: 5)() == 5
    with tr.span("y") as rec:
        assert rec is None
    assert tr.spans == []


def test_span_parents_and_ops():
    tr = Tracer()
    tr.op = 3
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == outer["op"] == 3


def test_benchmark_json_lists_what_the_harness_reports():
    with open(BENCHMARK_JSON, encoding="utf-8") as fh:
        bench = json.load(fh)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == END_TO_END
    assert layers == LAYER_METRICS
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_stop_all_ends_orphaned_grandchildren():
    # the shell exits at once and leaves its two sleeps orphaned, as a
    # Python parent leaves Spark's JVM; the subreaper must end both
    script = (
        "import subprocess, time\n"
        "from reap import become_subreaper, descendants, stop_all\n"
        "become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & sleep 60 &'], check=True)\n"
        "before = len(descendants())\n"
        "t0 = time.monotonic()\n"
        "left = stop_all(grace=5)\n"
        "print(before, len(left), len(descendants()), time.monotonic() - t0)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=HERE, stdout=subprocess.PIPE, text=True, check=True, timeout=30
    )
    before, left, after, took = out.stdout.split()
    assert (int(before), int(left), int(after)) == (2, 0, 0)
    assert float(took) < 5
