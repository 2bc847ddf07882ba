"""Streaming ports of the reference's golden scenarios (FIXTURES.md,
SURVEY §5.2 item 2) — deterministic event-time versions of
``TimeoutJoinTest.scala:106-164`` and ``TopicShifterTest.scala:13-43``.

No Kafka, no sleeps racing a broker: timestamps in the data drive windows
and watermarks. Outer-join (missed) emission needs the watermark to pass the
window end AND a subsequent micro-batch to run, so each scenario appends
future-dated flush batches (distinct keys, far outside every window) —
playing the role of the ongoing traffic a live pipeline always has.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import tempfile
import time

import pytest

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    read_until,
    start_memory_sink,
)
from kafka_streams_join_spark.streaming.shifter import shift_stream
from kafka_streams_join_spark.streaming.topology import TimeoutJoinTopology

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
KEY = "0f1f53a0-44f5-4b84-9699-fe853c90ed1c"
OTHER_KEY = "9750c569-44c2-49e6-854e-01e0eae04bb6"
DISPLAY = '{"type":"display"}'
CLICK = '{"type":"click"}'
JOINED = '{"display":{"type":"display"},"click":{"type":"click"}}'
WINDOW_S = 1.0
FLUSH_OFFSETS_S = (3600.0, 7200.0)
# After the last flush the join still holds that flush's display and click:
# the watermark (its ts - W) cannot evict rows at the flush's own ts.
FLUSH_ROWS_HELD = 2


def _ts(delta_s: float = 0.0) -> str:
    return (T0 + dt.timedelta(seconds=delta_s)).strftime("%Y-%m-%dT%H:%M:%S.%f")


def _flush(n: int, offset_s: float) -> list[dict]:
    return [{"key": f"flush-{n}", "value": "{}", "ts": _ts(offset_s)}]


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_golden_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _await_watermark(query, at_least: dt.datetime, wait_s: float = 60.0) -> list[dict]:
    """Progress of ``query`` once its watermark reaches ``at_least``: every
    emission the flushes drive has then landed in the sink."""
    deadline = time.time() + wait_s
    while True:
        query.processAllAvailable()
        progress = [json.loads(p.json) for p in query.recentProgress]
        wm = ((progress[-1] if progress else {}).get("eventTime") or {}).get("watermark")
        if wm and dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ") >= at_least:
            return progress
        if time.time() >= deadline:
            raise TimeoutError(f"{query.name}: watermark {wm} short of {at_least}")
        time.sleep(0.2)


def _run_scenario(spark, tmpdir, display_batches, click_batches):
    """Build the full topology, feed one micro-batch per list entry on each
    stream plus the flush batches, and return both outputs' scenario rows
    and the missed query's progress once the flushes have driven its
    watermark past every scenario row."""
    displays = FileStream(spark, tmpdir, "displays")
    clicks = FileStream(spark, tmpdir, "clicks")
    assert len(display_batches) == len(click_batches)
    for d_rows, c_rows in zip(display_batches, click_batches):
        displays.add_batch(d_rows)
        clicks.add_batch(c_rows)
    # then the watermark flushes on BOTH streams (global watermark is the
    # min across inputs)
    for n, off in enumerate(FLUSH_OFFSETS_S, start=1):
        displays.add_batch(_flush(n, off))
        clicks.add_batch(_flush(n, off))

    topo = TimeoutJoinTopology(window=f"{WINDOW_S:g} second")
    d_df, c_df = displays.df(), clicks.df()
    clicked_q, clicked_sink = start_memory_sink(
        topo.clicked_displays(d_df, c_df), checkpoint_root=tmpdir
    )
    missed_q, missed_sink = start_memory_sink(
        topo.missed_displays(d_df, c_df), checkpoint_root=tmpdir
    )
    flushed = T0 + dt.timedelta(seconds=FLUSH_OFFSETS_S[-1] - WINDOW_S)
    try:
        clicked_q.processAllAvailable()
        missed_progress = _await_watermark(missed_q, flushed)
        clicked = spark.sql(f"SELECT * FROM {clicked_sink}").collect()
        missed = spark.sql(f"SELECT * FROM {missed_sink}").collect()
    finally:
        clicked_q.stop()
        missed_q.stop()
    scenario_keys = {KEY, OTHER_KEY}
    return (
        [(r["key"], r["value"]) for r in clicked if r["key"] in scenario_keys],
        [(r["key"], r["value"]) for r in missed if r["key"] in scenario_keys],
        missed_progress,
    )


def test_scenario1_click_inside_window(spark, tmpdir):
    """TimeoutJoinTest.scala:106-125: one joined record, byte-exact value;
    missed stays empty."""
    clicked, missed, _ = _run_scenario(
        spark,
        tmpdir,
        display_batches=[[{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
        click_batches=[[{"key": KEY, "value": CLICK, "ts": _ts(0.5)}]],
    )
    assert clicked == [(KEY, JOINED)]
    assert missed == []


def test_scenario2_click_outside_window(spark, tmpdir):
    """TimeoutJoinTest.scala:127-144: click 2s late → no join; display lands
    on missed with its original value verbatim."""
    clicked, missed, _ = _run_scenario(
        spark,
        tmpdir,
        display_batches=[[{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
        click_batches=[[{"key": KEY, "value": CLICK, "ts": _ts(2.0)}]],
    )
    assert clicked == []
    assert missed == [(KEY, DISPLAY)]


def test_scenario3_unrelated_click(spark, tmpdir):
    """TimeoutJoinTest.scala:146-164: same-window click with a different key
    → key equality is part of the join predicate."""
    clicked, missed, _ = _run_scenario(
        spark,
        tmpdir,
        display_batches=[[{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
        click_batches=[[{"key": OTHER_KEY, "value": CLICK, "ts": _ts(0.5)}]],
    )
    assert clicked == []
    assert missed == [(KEY, DISPLAY)]


def test_out_of_order_click_before_display(spark, tmpdir):
    """A click (t + 0.5) that arrives a micro-batch before its display (t)
    still joins it and cancels the missed row: the join buffers both sides,
    and the display is within the watermark, so it is not late."""
    clicked, missed, _ = _run_scenario(
        spark,
        tmpdir,
        display_batches=[[], [{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
        click_batches=[[{"key": KEY, "value": CLICK, "ts": _ts(0.5)}], []],
    )
    assert clicked == [(KEY, JOINED)]
    assert missed == []


def test_missed_state_drains_to_flush_rows(spark, tmpdir):
    """Two displays of one key, each without a click in its window, are
    both emitted. Once the flushes move the watermark past every scenario
    row, the missed query's last progress shows state holding only the
    last flush's rows, and no micro-batch dropped a row as late."""
    clicked, missed, progress = _run_scenario(
        spark,
        tmpdir,
        display_batches=[
            [{"key": KEY, "value": DISPLAY, "ts": _ts(0)}],
            [{"key": KEY, "value": DISPLAY, "ts": _ts(5.0)}],
        ],
        click_batches=[
            [{"key": OTHER_KEY, "value": CLICK, "ts": _ts(0.5)}],
            [{"key": KEY, "value": CLICK, "ts": _ts(2.0)}],
        ],
    )
    assert clicked == []
    assert missed == [(KEY, DISPLAY), (KEY, DISPLAY)]
    ops = progress[-1]["stateOperators"]
    assert ops, progress[-1]
    assert sum(op["numRowsTotal"] for op in ops) <= FLUSH_ROWS_HELD, ops
    dropped = [op["numRowsDroppedByWatermark"] for p in progress for op in p["stateOperators"]]
    assert dropped and not any(dropped), dropped


def test_scenario4_shifter_event_time(spark, tmpdir):
    """TopicShifterTest.scala:13-43, event-time form: the shifted stream
    carries identical key/value with ts+Δ (delivery-delay variant is
    DelayedDeliveryWriter; watermarks subsume it for correctness)."""
    src = FileStream(spark, tmpdir, "input")
    src.add_batch([{"key": KEY, "value": DISPLAY, "ts": _ts(0)}])
    shifted = shift_stream(src.df(), "1 second")
    q, sink = start_memory_sink(shifted, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = read_until(spark, sink, expect=1, wait_s=30.0)
    finally:
        q.stop()
    assert [(r["key"], r["value"], r["ts"]) for r in rows] == [
        (KEY, DISPLAY, T0 + dt.timedelta(seconds=1))
    ]
