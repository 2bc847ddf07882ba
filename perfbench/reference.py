"""Pure-Python reference for the two outputs of the reference topology.

Brute force within each key, no Spark: the benchmark checks the streaming
outputs, and the registry's batch twins, against these multisets row for row.

- clicked: a click at t joins every same-key display in [t - W, t];
- missed: a display with no same-key click in [ts, ts + W].
"""

from __future__ import annotations

from collections import Counter, defaultdict

from gen import W_MS, Event


def payload(display_value: str, click_value: str) -> str:
    """The reference's joined value, built by string interpolation."""
    return f'{{"display":{display_value},"click":{click_value}}}'


def _by_key(events: list[Event]) -> dict[str, list[Event]]:
    out: dict[str, list[Event]] = defaultdict(list)
    for e in events:
        out[e.key].append(e)
    return out


def clicked_pairs(displays: list[Event], clicks: list[Event]) -> list[tuple[Event, Event]]:
    """(display, click) for every click at t and same-key display in [t-W, t]."""
    by_key = _by_key(displays)
    return [
        (d, c)
        for c in clicks
        for d in by_key.get(c.key, ())
        if c.ts_ms - W_MS <= d.ts_ms <= c.ts_ms
    ]


def missed_displays(displays: list[Event], clicks: list[Event]) -> list[Event]:
    """Displays with no same-key click in [ts, ts + W]."""
    by_key = _by_key(clicks)
    return [
        d
        for d in displays
        if not any(d.ts_ms <= c.ts_ms <= d.ts_ms + W_MS for c in by_key.get(d.key, ()))
    ]


def clicked(displays: list[Event], clicks: list[Event]) -> Counter:
    """Expected ``clicked_displays`` rows as a (key, value) multiset."""
    return Counter((c.key, payload(d.value, c.value)) for d, c in clicked_pairs(displays, clicks))


def missed(displays: list[Event], clicks: list[Event]) -> Counter:
    """Expected ``missed_displays`` rows as a (key, value) multiset."""
    return Counter((d.key, d.value) for d in missed_displays(displays, clicks))


def maybe_clicked(displays: list[Event], clicks: list[Event]) -> Counter:
    """Every display with each click in [ts, ts + W], or with None when it
    has none, as (key, display value, click value) — the left-outer join."""
    rows = Counter((d.key, d.value, c.value) for d, c in clicked_pairs(displays, clicks))
    rows.update((d.key, d.value, None) for d in missed_displays(displays, clicks))
    return rows
