"""Seeded inputs for the benchmark: displays and their clicks.

Every input is a function of the seed alone, so two runs with one seed
measure the same rows. The program under test only ever sees the files
written from these events.

Event shape follows the reference topology: a display is shown once; half
the displays get a click whose delay is uniform over [0, 2W] ms. A click at
delay <= W joins its display ("clicked"); the rest of the displays are
"missed". With W = 1 s about 25% of displays are clicked and 75% missed.
"""

from __future__ import annotations

import datetime as dt
import random
import uuid
from dataclasses import dataclass

W_MS = 1000  # the reference's ``val Window = 1.second``
CLICK_SHARE = 0.5
LATE_SHARE = 0.3  # of the events near a micro-batch's end, moved to the next
FLUSH_KEY = "flush"
EPOCH = dt.datetime(1970, 1, 1)
# Replayed event time starts here; live event time is the wall clock.
REPLAY_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class Event:
    key: str
    value: str
    ts_ms: int
    seq: int


def ts_string(ms: int) -> str:
    """UTC timestamp string the JSON reader parses under the UTC session."""
    return (EPOCH + dt.timedelta(milliseconds=ms)).strftime("%Y-%m-%dT%H:%M:%S.%f")


def record(e: Event) -> dict:
    return {"key": e.key, "value": e.value, "ts": ts_string(e.ts_ms)}


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def make_events(
    seed: int, n_displays: int, rate_per_s: float, start_ms: int = 0
) -> tuple[list[Event], list[Event]]:
    """Displays at ``rate_per_s`` from ``start_ms``, each with its own UUID
    key as in the reference, and their clicks; both sorted by event time."""
    rng = random.Random(seed)
    gap_ms = 1000.0 / rate_per_s
    displays, clicks = [], []
    for i in range(n_displays):
        key = _uuid(rng)
        ts = start_ms + int(i * gap_ms + rng.random() * gap_ms)
        displays.append(Event(key, f'{{"type":"display","seq":{i}}}', ts, i))
        if rng.random() < CLICK_SHARE:
            delay = rng.randint(0, 2 * W_MS)
            j = len(clicks)
            clicks.append(Event(key, f'{{"type":"click","seq":{j}}}', ts + delay, j))
    clicks.sort(key=lambda e: (e.ts_ms, e.seq))
    return displays, clicks


def cut_batches(
    events: list[Event], span_ms: int, start_ms: int, n: int, seed: int,
    late_ms: int = W_MS * 2 // 5,
) -> list[list[Event]]:
    """Cut time-sorted events into ``n`` micro-batches of ``span_ms`` event
    time each; events past the last span land in the last batch.

    Disorder is planted within the watermark delay (W): an event in the last
    ``late_ms`` of its span moves to the next batch with ``LATE_SHARE``
    probability. The watermark after a batch is its max event time minus W,
    so a moved event is never behind it and no row is late. Rows in a batch
    are shuffled."""
    if late_ms >= W_MS:
        raise ValueError("planted disorder must stay within the watermark delay")
    rng = random.Random(seed)
    batches: list[list[Event]] = [[] for _ in range(n)]
    for e in events:
        b = min((e.ts_ms - start_ms) // span_ms, n - 1)
        end = start_ms + (b + 1) * span_ms
        if b + 1 < n and e.ts_ms >= end - late_ms and rng.random() < LATE_SHARE:
            b += 1
        batches[b].append(e)
    for b in batches:
        rng.shuffle(b)
    return batches


def flush_record(ts_ms: int) -> dict:
    """A row far ahead in event time that drives the watermark past every
    measured row. It joins nothing and is excluded from every check."""
    return {"key": FLUSH_KEY, "value": "{}", "ts": ts_string(ts_ms)}
