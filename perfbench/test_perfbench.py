"""Self-tests for the benchmark's own pieces; none of them starts Spark.

Run with ``python3 -m pytest perfbench -q`` from the root of the repo.
"""

from __future__ import annotations

import json
import os
import re

import pytest

import gen
import reference
import run
import stats
import twins
from gen import W_MS, Event
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# FIXTURES.md scenarios 1-3: T0, W = 1 s
KEY = "0f1f53a0-44f5-4b84-9699-fe853c90ed1c"
OTHER = "9750c569-44c2-49e6-854e-01e0eae04bb6"
DISPLAY = '{"type":"display"}'
CLICK = '{"type":"click"}'
T0 = 1_704_067_200_000


@pytest.mark.parametrize(
    "click_key, click_delay_ms, clicked, missed",
    [
        (KEY, 500, [(KEY, '{"display":{"type":"display"},"click":{"type":"click"}}')], []),
        (KEY, 2000, [], [(KEY, DISPLAY)]),
        (OTHER, 500, [], [(KEY, DISPLAY)]),
    ],
    ids=["scenario1_click_in_window", "scenario2_click_too_late", "scenario3_other_key"],
)
def test_reference_reproduces_fixture_scenarios(click_key, click_delay_ms, clicked, missed):
    displays = [Event(KEY, DISPLAY, T0, 0)]
    clicks = [Event(click_key, CLICK, T0 + click_delay_ms, 0)]
    assert reference.clicked(displays, clicks) == reference.Counter(clicked)
    assert reference.missed(displays, clicks) == reference.Counter(missed)


def test_reference_band_edges_are_inclusive():
    d = [Event("k", "d", T0, 0)]
    assert len(reference.clicked_pairs(d, [Event("k", "c", T0 + W_MS, 0)])) == 1
    assert len(reference.clicked_pairs(d, [Event("k", "c", T0 + W_MS + 1, 0)])) == 0
    assert reference.missed_displays(d, [Event("k", "c", T0, 0)]) == []


def test_left_outer_reference_is_clicked_plus_missed():
    displays, clicks = gen.make_events(2, 2000, 1000.0, T0)
    rows = reference.maybe_clicked(displays, clicks)
    assert sum(rows.values()) == (len(reference.clicked_pairs(displays, clicks))
                                  + len(reference.missed_displays(displays, clicks)))
    assert sum(n for (_, _, c), n in rows.items() if c is None) == len(
        reference.missed_displays(displays, clicks))


def test_twin_events_stretch_w_to_the_registry_hour():
    d = Event("k", "d", 0, 0)
    c = Event("k", "c", W_MS, 0)
    (vid, _, vkind, v_us, _), (cid, _, ckind, c_us, _) = twins._rows([d], [c])
    assert (vkind, ckind) == ("view", "click") and vid != cid
    assert c_us - v_us == 3600 * 1_000_000


def test_generator_is_deterministic_per_seed():
    a = gen.make_events(7, 500, 300.0, T0)
    b = gen.make_events(7, 500, 300.0, T0)
    c = gen.make_events(8, 500, 300.0, T0)
    assert a == b
    assert a != c
    cut = lambda ev, s: gen.cut_batches(ev[0], 2 * W_MS, T0, 4, s)  # noqa: E731
    assert cut(a, 3) == cut(b, 3)


def test_generator_shape_matches_the_reference_topology():
    displays, clicks = gen.make_events(1, 4000, 1000.0, T0)
    assert len({d.key for d in displays}) == len(displays)
    assert 0.45 < len(clicks) / len(displays) < 0.55
    n_clicked = len(reference.clicked_pairs(displays, clicks))
    assert 0.2 < n_clicked / len(displays) < 0.3
    assert n_clicked + len(reference.missed_displays(displays, clicks)) == len(displays)


def test_planted_disorder_stays_within_the_watermark():
    displays, _ = gen.make_events(3, 3000, 500.0, T0)
    batches = gen.cut_batches(displays, 2 * W_MS, T0, 3, 5)
    assert sum(map(len, batches)) == len(displays)
    seen_max = None
    moved = 0
    for i, batch in enumerate(batches):
        if seen_max is not None:
            watermark = seen_max - W_MS
            assert all(e.ts_ms >= watermark for e in batch)
        moved += sum(1 for e in batch if e.ts_ms < T0 + i * 2 * W_MS)
        seen_max = max([seen_max or 0] + [e.ts_ms for e in batch])
    assert moved > 0
    with pytest.raises(ValueError):
        gen.cut_batches(displays, 2 * W_MS, T0, 3, 5, late_ms=W_MS)


@pytest.mark.parametrize(
    "n, pct", [(9, None), (19, None), (20, 50.0), (100, 90.0), (200, 95.0),
               (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_supported_percentile_has_ten_samples_beyond_it(n, pct):
    assert stats.supported_pct(n) == pct
    if pct is not None:
        assert round(n * (100 - pct) / 100, 9) >= stats.MIN_BEYOND


def test_percentile_interpolates():
    xs = list(range(101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 95) == 95
    assert stats.percentile([1.0, 2.0], 50) == 1.5


def test_self_time_subtracts_child_cover():
    tr = Tracer("t", True)
    parent = tr.add("p", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, parent)
    tr.add("b", 3.0, 6.0, parent)
    tr.add("c", 9.0, 12.0, parent)
    self_s = {s["name"]: s["self_s"] for s in tr.with_self_times()}
    assert self_s["p"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert Tracer("t", False).add("p", 0.0, 1.0) is None


def test_names_and_benchmark_json_agree():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert tuple(workloads) == run.WORKLOADS
    assert e2e == run.E2E_UNITS
    assert layers == run.layer_units()
    for name in workloads + list(e2e) + list(layers):
        assert NAME.match(name), name
    assert len(set(workloads + list(e2e) + list(layers))) == len(workloads) + len(e2e) + len(layers)
