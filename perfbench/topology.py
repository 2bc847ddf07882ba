"""Reference-topology phases: a closed-loop replay and an open-loop live run.

Both drive ``streaming.topology.TimeoutJoinTopology`` from outside: the
displays and clicks go in through ``streaming.harness.FileStream`` files,
and ``clicked_displays`` and ``missed_displays`` run side by side, as in
the reference's single topology, each into a ``foreachBatch`` sink of the
benchmark's own that collects the rows and stamps their emit time.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import reference
from layers import parse_ts
from gen import (
    CLICK_SHARE, FLUSH_KEY, REPLAY_T0_MS, W_MS, Event, cut_batches, flush_record,
    make_events, record,
)
from kafka_streams_join_spark.sources.files import stream_jsonl
from kafka_streams_join_spark.streaming.harness import RECORD_SCHEMA, FileStream
from kafka_streams_join_spark.streaming.topology import TimeoutJoinTopology

OUTPUTS = ("clicked", "missed")
WINDOW = f"{W_MS // 1000} second"
FLUSH_AHEAD_MS = 10 * W_MS
SPAN_MS = 2 * W_MS  # event time per replay micro-batch
# Both live outputs fire on one processing-time trigger. Its boundaries are
# multiples of the interval, so the two queries start every micro-batch
# together and a measured window that spans whole intervals samples the
# wait for the next trigger evenly; back-to-back triggers would let the two
# queries' batches drift against each other from run to run.
TRIGGER_S = 5.0
# A file source lists more than 32 new files per trigger with a Spark job
# (spark.sql.sources.parallelPartitionDiscovery.threshold), which costs
# seconds on a 4-core machine; a 500 ms write period keeps a trigger
# interval well under it.
PERIOD_MS = 500
MAX_TAIL_S = 30.0  # live traffic after the window, until both outputs pass it
WARM_UP_DISPLAYS = 1_500  # about 2k rows with their clicks
WARM_UP_AGE_MS = 60_000  # warm-up event time, behind the schedule's start
_SEQ = re.compile(r'"seq":(\d+)')


class CollectSink:
    """``foreachBatch`` target: collects each micro-batch and stamps the
    wall time at which its rows reached the consumer."""

    def __init__(self, expected: int) -> None:
        self.expected = expected
        self.batches: list[tuple[int, float, list[tuple[str, str]], float]] = []
        self.n = 0
        self.done_at: float | None = None

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        rows = [(r[0], r[1]) for r in df.collect()]
        t1 = time.time()
        self.batches.append((batch_id, t1, rows, t1 - t0))
        self.n += sum(1 for k, _ in rows if k != FLUSH_KEY)
        if self.done_at is None and self.n >= self.expected:
            self.done_at = t1

    def set_expected(self, expected: int) -> None:
        self.expected = expected
        if self.done_at is None and self.n >= expected:
            self.done_at = time.time()

    def multiset(self) -> Counter:
        return Counter(r for _, _, rows, _ in self.batches for r in rows if r[0] != FLUSH_KEY)

    def collect_ms(self) -> float:
        return sum(b[3] for b in self.batches) * 1000.0


@dataclass
class PhaseResult:
    ok: bool = True
    errors: list[str] = field(default_factory=list)
    start: float = 0.0
    progress: dict[str, list[dict]] = field(default_factory=dict)
    sinks: dict[str, CollectSink] = field(default_factory=dict)
    values: dict[str, float] = field(default_factory=dict)
    query_ids: dict[str, str] = field(default_factory=dict)
    flush_ts_ms: float = 0.0
    tag: str = ""
    run_span: int | None = None

    def fail(self, msg: str) -> None:
        self.ok = False
        self.errors.append(msg)


def _start(df, sink: CollectSink, ckpt: str, name: str, trigger_s: float | None):
    w = df.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).queryName(name)
    if trigger_s:
        w = w.trigger(processingTime=f"{trigger_s} seconds")
    return w.start()


def _run_queries(spark, root: str, d_df, c_df, expected: dict[str, int],
                 res: PhaseResult, tracer, body, timeout_s: float,
                 trigger_s: float | None = None) -> None:
    """Start both outputs, run ``body`` (which feeds input and sets
    ``res.flush_ts_ms``), wait until both sinks hold their expected row
    counts, then until each query has run with the post-flush watermark,
    so its final state size is the drained one; record progress."""
    tag = res.tag
    topo = TimeoutJoinTopology(window=WINDOW)
    with tracer.span("topology.build"):
        t0 = time.time()
        frames = {
            "clicked": topo.clicked_displays(d_df, c_df),
            "missed": topo.missed_displays(d_df, c_df),
        }
        res.values["build_ms"] = (time.time() - t0) * 1000.0
    res.sinks = {o: CollectSink(expected[o]) for o in OUTPUTS}
    res.start = time.time()
    queries = {}
    for o in OUTPUTS:
        # each output in its own fair-scheduler pool (the session runs
        # spark.scheduler.mode=FAIR): with one FIFO pool, whichever query
        # submits first in a trigger takes every core, and which one wins
        # changes from run to run
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", o)
        queries[o] = _start(frames[o], res.sinks[o], os.path.join(root, f"ckpt-{o}"),
                            f"{tag}_{o}", trigger_s)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
    res.query_ids = {o: str(q.id) for o, q in queries.items()}
    try:
        body(queries)
        deadline = time.time() + timeout_s

        def wait(done, what: str) -> bool:
            while not done():
                for o, q in queries.items():
                    if not q.isActive:
                        res.fail(f"{tag}/{o} query stopped: {q.exception()}")
                        return False
                if time.time() > deadline:
                    res.fail(f"{tag}: timeout waiting for {what}")
                    return False
                time.sleep(0.01)
            return True

        if not wait(lambda: all(s.done_at is not None for s in res.sinks.values()),
                    "outputs to drain"):
            return
        flushed_wm = res.flush_ts_ms - W_MS
        wait(lambda: all(_watermark_ms(q) >= flushed_wm for q in queries.values()),
             "the post-flush watermark")
    finally:
        for o, q in queries.items():
            res.progress[o] = [p for p in _progress(q) if "addBatch" in p.get("durationMs", {})]
            q.stop()


def _event_time_ms(p: dict | None, key: str) -> float:
    """``eventTime[key]`` of a progress report, in epoch ms: ``watermark`` is
    the one its micro-batch ran with, ``max`` its latest input event."""
    ts = ((p or {}).get("eventTime") or {}).get(key)
    return parse_ts(ts) * 1000.0 if ts else 0.0


def _watermark_ms(q) -> float:
    return _event_time_ms(q.lastProgress, "watermark")


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def _check(res: PhaseResult, displays: list[Event], clicks: list[Event]) -> None:
    want = {"clicked": reference.clicked(displays, clicks),
            "missed": reference.missed(displays, clicks)}
    for o in OUTPUTS:
        got = res.sinks[o].multiset() if o in res.sinks else Counter()
        if got != want[o]:
            extra = sum((got - want[o]).values())
            lost = sum((want[o] - got).values())
            res.fail(f"{res.tag}/{o}: {lost} expected rows missing, {extra} unexpected")


def expected_counts(displays: list[Event], clicks: list[Event]) -> dict[str, int]:
    return {"clicked": len(reference.clicked_pairs(displays, clicks)),
            "missed": len(reference.missed_displays(displays, clicks))}


def processed_rows_per_s(res: PhaseResult, keep) -> float:
    """Input rows over micro-batch time, Spark's ``processedRowsPerSecond``
    summed over the micro-batches ``keep(progress)`` selects, for the slower
    of the two outputs: the rate the topology sustains while it works."""
    rates = []
    for o in OUTPUTS:
        kept = [p for p in res.progress.get(o, []) if keep(p)]
        busy_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in kept)
        rows = sum(int(p.get("numInputRows") or 0) for p in kept)
        rates.append(rows * 1000.0 / busy_ms if busy_ms else 0.0)
    return min(rates)


# --------------------------------------------------------------------------
# Closed loop: pre-written files, one display/click file pair per micro-batch
# --------------------------------------------------------------------------


def run_replay(spark, root: str, seed: int, batches: int, rows_per_batch: int,
               tracer, timeout_s: float) -> PhaseResult:
    """Closed loop over pre-written files, one display/click file pair per
    micro-batch. The flush rows ride in the last pair, so the replay is
    ``batches`` data micro-batches plus the no-data batch that emits the
    last missed displays. The first data micro-batch warms the JVM up and
    is not measured; neither is the no-data batch.

    A closed loop has no arrival time, so a result's latency runs from the
    start of the micro-batch that emits it, when its inputs (or, for
    missed, the watermark that decides it) were taken in, to its rows
    reaching the sink: one sample per measured micro-batch and output."""
    res = PhaseResult(tag="replay")
    n_displays = round(batches * rows_per_batch / (1 + CLICK_SHARE))
    rate = n_displays / (batches * SPAN_MS / 1000.0)
    displays, clicks = make_events(seed, n_displays, rate, REPLAY_T0_MS)
    d_stream = FileStream(spark, root, "displays")
    c_stream = FileStream(spark, root, "clicks")
    end = max(displays[-1].ts_ms, clicks[-1].ts_ms if clicks else 0)
    res.flush_ts_ms = end + FLUSH_AHEAD_MS
    with tracer.span("harness.add_batch"):
        t0 = time.time()
        for name, events, stream in (("d", displays, d_stream), ("c", clicks, c_stream)):
            cut = cut_batches(events, SPAN_MS, REPLAY_T0_MS, batches, seed + (name == "c"))
            for i, batch in enumerate(cut):
                rows = [record(e) for e in batch]
                if i == len(cut) - 1:
                    rows.append(flush_record(res.flush_ts_ms))
                stream.add_batch(rows)
        res.values["add_batch_ms"] = (time.time() - t0) * 1000.0
    with tracer.span("reference.expected"):
        expected = expected_counts(displays, clicks)
    with tracer.span("replay.run") as res.run_span:
        _run_queries(spark, root, d_stream.df(), c_stream.df(), expected,
                     res, tracer, lambda queries: None, timeout_s)
    res.values["rows_in"] = len(displays) + len(clicks)
    with tracer.span("reference.check"):
        _check(res, displays, clicks)
    _backlog(res, [(res.start, res.values["rows_in"])], res.start, float("inf"), None)
    if res.ok:
        measured = lambda p: 0 < p["batchId"] < batches  # noqa: E731
        res.values["rows_per_s"] = processed_rows_per_s(res, measured)
        res.values["latency_ms"] = {o: [] for o in OUTPUTS}
        for o in OUTPUTS:
            started = {p["batchId"]: parse_ts(p["timestamp"]) for p in res.progress[o]
                       if measured(p)}
            res.values["latency_ms"][o] = [
                (emit - started[batch_id]) * 1000.0
                for batch_id, emit, _, _ in res.sinks[o].batches if batch_id in started
            ]
    return res


# --------------------------------------------------------------------------
# Open loop: a generator thread writes a file pair every period on a fixed
# schedule that never waits for Spark
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class LiveSpec:
    rows_per_s: float
    warm_s: float
    measure_s: float

    def max_ms(self) -> int:
        return int((self.warm_s + self.measure_s + MAX_TAIL_S) * 1000)


class LiveDir:
    """A directory the open loop writes into while queries read it. A file
    appears atomically (hidden temporary name, then rename) and keeps its
    real modification time, which only grows. ``harness.FileStream`` is not
    used here: it stamps a synthetic, older mtime after the rename, and a
    listing that lands between the two sees the real one, after which the
    file source ignores every later file as older than ``maxFileAge``."""

    def __init__(self, root: str, name: str) -> None:
        self.dir = os.path.join(root, name)
        os.makedirs(self.dir, exist_ok=True)
        self._n = 0

    def add_batch(self, rows: list[dict]) -> None:
        tmp = os.path.join(self.dir, f".batch-{self._n:06d}.json.tmp")
        with open(tmp, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        os.rename(tmp, os.path.join(self.dir, f"batch-{self._n:06d}.json"))
        self._n += 1


class Generator(threading.Thread):
    """Writes, at each period end, the events created during that period,
    stamped with their scheduled creation time. It sleeps to the schedule,
    so a slow consumer never slows it; lateness is recorded. It runs until
    ``stop`` is set or the schedule ends."""

    def __init__(self, d_stream: LiveDir, c_stream: LiveDir,
                 displays: list[Event], clicks: list[Event], spec: LiveSpec,
                 start_ms: int) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.d_stream, self.c_stream = d_stream, c_stream
        self.displays, self.clicks = displays, clicks
        self.spec, self.start_ms = spec, start_ms
        self.stop = threading.Event()
        self.late_ms: list[float] = []
        self.written: list[tuple[float, int]] = []  # (wall s, cumulative rows)
        self.n_displays = self.n_clicks = 0
        self.end_ms = start_ms
        self.write_s = 0.0
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            self._run()
        except Exception as e:  # re-raised by the phase, never lost
            self.error = e

    def _run(self) -> None:
        di = ci = 0
        for k in range(self.spec.max_ms() // PERIOD_MS):
            due_ms = self.start_ms + (k + 1) * PERIOD_MS
            delay = due_ms / 1000.0 - time.time()
            if delay > 0 and self.stop.wait(delay):
                return
            if self.stop.is_set():
                return
            now = time.time()
            self.late_ms.append(max(0.0, now * 1000.0 - due_ms))
            d0, c0 = di, ci
            while di < len(self.displays) and self.displays[di].ts_ms < due_ms:
                di += 1
            while ci < len(self.clicks) and self.clicks[ci].ts_ms < due_ms:
                ci += 1
            self.d_stream.add_batch([record(e) for e in self.displays[d0:di]])
            self.c_stream.add_batch([record(e) for e in self.clicks[c0:ci]])
            self.n_displays, self.n_clicks, self.end_ms = di, ci, due_ms
            self.written.append((time.time(), di + ci))
            self.write_s += time.time() - now


def run_live(spark, root: str, seed: int, spec: LiveSpec,
             tracer, timeout_s: float) -> PhaseResult:
    """Open loop. After the measured window the generator keeps its
    schedule until both outputs have read input past the window end + 2W:
    the watermark their next micro-batch runs with is then past the window
    end + W, so that micro-batch emits the last measured missed display.
    The flush follows at once and rides in with that micro-batch's input,
    so every result of a measured event is emitted by ongoing traffic, not
    by the micro-batch that runs with the flush's watermark.

    Before the schedule starts, both outputs run one micro-batch over a
    file pair of older events (``WARM_UP_DISPLAYS``), which pays the JVM's
    cold start of the topology; a cold micro-batch inside the schedule
    overran its trigger and left a backlog for half a minute."""
    res = PhaseResult(tag="live")
    display_rate = spec.rows_per_s / (1 + CLICK_SHARE)
    rel_d, rel_c = make_events(seed, int(display_rate * spec.max_ms() / 1000),
                               display_rate, 0)
    d_stream = LiveDir(root, "displays")
    c_stream = LiveDir(root, "clicks")
    warm_d, warm_c = make_events(seed + 1, WARM_UP_DISPLAYS, display_rate,
                                 int(time.time() * 1000) - WARM_UP_AGE_MS)
    d_stream.add_batch([record(e) for e in warm_d])
    c_stream.add_batch([record(e) for e in warm_c])
    d_df = stream_jsonl(spark, d_stream.dir, RECORD_SCHEMA)
    c_df = stream_jsonl(spark, c_stream.dir, RECORD_SCHEMA)
    state: dict = {}

    def feed(queries) -> None:
        with tracer.span("live.warm_up"):
            deadline = time.time() + timeout_s
            while not all(q.lastProgress for q in queries.values()):
                if time.time() > deadline or not all(q.isActive for q in queries.values()):
                    raise RuntimeError("the warm-up micro-batch did not complete")
                time.sleep(0.05)
        start_ms = int(time.time() * 1000)
        shift = lambda es: [Event(e.key, e.value, e.ts_ms + start_ms, e.seq) for e in es]
        gen = Generator(d_stream, c_stream, shift(rel_d), shift(rel_c), spec, start_ms)
        state.update(gen=gen, start_ms=start_ms)
        window_end = start_ms + (spec.warm_s + spec.measure_s) * 1000
        # a period of margin: ``max`` spans both inputs, while the watermark
        # follows the one whose event time is behind
        read_past = window_end + 2 * W_MS + PERIOD_MS
        with tracer.span("live.generate"):
            gen.start()
            while gen.is_alive():
                if all(_event_time_ms(q.lastProgress, "max") > read_past
                       for q in queries.values()):
                    break
                if any(not q.isActive for q in queries.values()):
                    break
                time.sleep(0.05)
            gen.stop.set()
            gen.join(timeout=timeout_s)
        if gen.is_alive() or gen.error is not None:
            raise RuntimeError(f"generator failed: {gen.error or 'did not stop'}")
        if gen.end_ms < read_past:
            raise RuntimeError("outputs did not pass the measured window "
                               f"within {MAX_TAIL_S}s of tail traffic")
        displays = warm_d + gen.displays[:gen.n_displays]
        clicks = warm_c + gen.clicks[:gen.n_clicks]
        exp = expected_counts(displays, clicks)
        for o in OUTPUTS:
            res.sinks[o].set_expected(exp[o])
        res.flush_ts_ms = gen.end_ms + FLUSH_AHEAD_MS
        state.update(displays=displays, clicks=clicks, flush_wm=res.flush_ts_ms - W_MS)
        for stream in (d_stream, c_stream):
            stream.add_batch([flush_record(res.flush_ts_ms)])

    # expected counts are known once the generator stops; until then no
    # sink can be done
    with tracer.span("live.run") as res.run_span:
        _run_queries(spark, root, d_df, c_df, {o: 1 << 62 for o in OUTPUTS},
                     res, tracer, feed, timeout_s, trigger_s=TRIGGER_S)
    gen = state.get("gen")
    if gen is None or "displays" not in state:
        if res.ok:
            res.fail("live: generator did not complete")
        return res
    res.values["gen_late_ms_max"] = max(gen.late_ms, default=0.0)
    res.values["add_batch_ms"] = gen.write_s * 1000.0
    res.values["rows_in"] = len(state["displays"]) + len(state["clicks"])
    with tracer.span("reference.check"):
        _check(res, state["displays"], state["clicks"])
    if res.ok:
        _latencies(res, state, spec)
        # from the window's start to the last write: the tail is ongoing
        # traffic too, and one window holds too few triggers for a slope
        lo = state["start_ms"] / 1000.0 + spec.warm_s
        _backlog(res, gen.written, lo, gen.written[-1][0], spec.rows_per_s)
        # the offered rate is fixed; what the program sets is how fast its
        # micro-batches get through what arrived
        res.values["rows_per_s"] = processed_rows_per_s(
            res, lambda p: lo <= parse_ts(p["timestamp"])
            and _event_time_ms(p, "watermark") < state["flush_wm"])
    return res


def _latencies(res: PhaseResult, state: dict, spec: LiveSpec) -> None:
    """Emit time minus the creation of the latest contributing event (for
    missed, display creation + W), over events created in the measured
    window. Each of their results must come from a micro-batch that ran
    before the flush's watermark; otherwise the run fails."""
    lo = state["start_ms"] + spec.warm_s * 1000
    hi = lo + spec.measure_s * 1000
    # warm-up and scheduled events share sequence numbers, not keys
    d_ts = {(e.key, e.seq): e.ts_ms for e in state["displays"]}
    c_ts = {(e.key, e.seq): e.ts_ms for e in state["clicks"]}
    lat: dict[str, list[float]] = {o: [] for o in OUTPUTS}
    flushed: dict[str, int] = {o: 0 for o in OUTPUTS}
    for o in OUTPUTS:
        wm = {p["batchId"]: _event_time_ms(p, "watermark") for p in res.progress[o]}
        for batch_id, emit, rows, _ in res.sinks[o].batches:
            for key, value in rows:
                if key == FLUSH_KEY:
                    continue
                seqs = [int(s) for s in _SEQ.findall(value)]
                if o == "clicked":
                    created = max(d_ts[key, seqs[0]], c_ts[key, seqs[1]])
                else:
                    created = d_ts[key, seqs[0]] + W_MS
                if not lo <= created - (W_MS if o == "missed" else 0) < hi:
                    continue
                if wm.get(batch_id, 0.0) >= state["flush_wm"]:
                    flushed[o] += 1
                else:
                    lat[o].append(emit * 1000.0 - created)
        if flushed[o]:
            res.fail(f"{res.tag}/{o}: {flushed[o]} results of measured events "
                     "waited for the flush")
    res.values["latency_ms"] = lat


def _backlog(res: PhaseResult, written: list[tuple[float, int]], lo: float, hi: float,
             rows_per_s: float | None) -> None:
    """Rows written but not yet read by each query, at each trigger start in
    [lo, hi]. With ``rows_per_s`` (open loop), a backlog whose least-squares
    slope exceeds a quarter of the offered rate fails the run: the system is
    not keeping up with that rate."""
    peak, slopes = 0, []
    for o in OUTPUTS:
        ingested, series = 0, []
        for p in res.progress.get(o, []):
            t = parse_ts(p["timestamp"])
            backlog = max((r for w, r in written if w <= t), default=0) - ingested
            if lo <= t <= hi:
                series.append((t, backlog))
            ingested += int(p.get("numInputRows") or 0)
        peak = max([peak] + [b for _, b in series])
        if len(series) >= 3:
            mt = sum(t for t, _ in series) / len(series)
            mb = sum(b for _, b in series) / len(series)
            var = sum((t - mt) ** 2 for t, _ in series)
            slopes.append(sum((t - mt) * (b - mb) for t, b in series) / var if var else 0.0)
    res.values["backlog_rows_max"] = peak
    res.values["backlog_slope_rows_per_s"] = max(slopes, default=0.0)
    if rows_per_s and max(slopes, default=0.0) > rows_per_s / 4:
        res.fail(f"{res.tag}: backlog grew {max(slopes):.0f} rows/s across the window")
