"""Span bookkeeping: self time, nesting, and the metric names the
traced run emits against those BENCHMARK.json declares."""

from __future__ import annotations

import json
import os
import re

from spans import Tracer, covered
from workloads import CATALOG_ENTRIES, IngestBackfill

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


class Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_is_duration_minus_children():
    clock = Clock()
    tr = Tracer(clock=clock)
    with tr.span("op", "cycle-1") as op:
        clock.now = 1.0
        with tr.span("a") as a:
            clock.now = 3.0
            with tr.span("b") as b:
                clock.now = 3.5
        clock.now = 4.0
        with tr.span("a"):
            clock.now = 6.0
        clock.now = 10.0
    assert op.duration == 10.0
    assert tr.self_time(op) == 10.0 - 2.5 - 2.0
    assert (a.start, a.end) == (1.0, 3.5)
    assert tr.self_time(a) == 2.5 - 0.5
    assert tr.self_time(b) == 0.5
    assert b.parent == a.id and a.parent == op.id and op.parent is None
    assert b.ctx == "cycle-1"  # children inherit the cycle id
    totals = tr.totals("a", [op])
    assert totals["calls"] == 2 and totals["busy_s"] == 4.5 and totals["self_s"] == 4.0


def test_span_records_an_error_and_reraises():
    tr = Tracer(clock=Clock())
    try:
        with tr.span("op"):
            raise ValueError("boom")
    except ValueError:
        pass
    assert tr.spans[0].error == "ValueError"


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def test_metric_names_are_well_formed_and_unique():
    for kind in ("end_to_end", "per_layer"):
        names = _declared(kind)
        assert len(names) == len(set(names))
        for n in names:
            assert NAME.fullmatch(n), n


def test_traced_run_emits_exactly_the_declared_layer_metrics():
    wl = IngestBackfill(None, "", 0, 1, True)
    wl.out.walls, wl.out.traced_walls, wl.out.jit = [1.0], [1.0], [0.5]
    with wl.tracer.span("op") as root:
        pass
    wl.roots.append(root)
    emitted = set(wl.layers()) | {
        "session.get_spark_s", "session.warmup_s", "session.jvm_peak_rss_mb"
    }
    assert emitted == set(_declared("per_layer"))
    assert {f"plans.{e}.busy_s" for e in CATALOG_ENTRIES} <= emitted
