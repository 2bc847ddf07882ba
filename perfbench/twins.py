"""Batch twins of the two outputs, from the query registry.

``queries.QUERIES`` holds the batch forms of the reference topology:
``j1_interval_join_inner`` (clicked), ``j2_interval_join_left_outer``
(display, maybe click) and ``j3_missed_anti`` (missed), built on
``sources.parquet`` and ``operators.interval_join``. They join the same
band as the streaming outputs with no state store and no micro-batches.

The registry's twins use W = 1 hour, so the seeded events are written with
their event time stretched 3600-fold: the band of every row scales with
it and the pure-Python reference, at W = 1 s, still gives every expected
row. Each query is built, collected once and checked (the warm pass,
untimed), then timed with ``.count()``; its jobs carry the
``perfbench.query`` local property, which maps them to the query in the
event log.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import reference
from gen import Event, make_events

TWINS = ("j1_interval_join_inner", "j2_interval_join_left_outer", "j3_missed_anti")
METRICS = ("build_ms", "exec_s")
STRETCH = 3600  # the registry's W (1 hour) over the reference's W (1 s)
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DISPLAYS = 20_000
QUERY_PROPERTY = "perfbench.query"


def _rows(displays: list[Event], clicks: list[Event]) -> list[tuple]:
    return [
        (f"{kind}-{e.seq}", e.key, kind, BASE_US + e.ts_ms * STRETCH * 1000, e.value)
        for kind, events in (("view", displays), ("click", clicks))
        for e in events
    ]


def write_events(spark, sf_dir: str, displays: list[Event], clicks: list[Event]) -> None:
    """The corpus ``events`` table the twins read, in ``sf_dir``."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        _rows(displays, clicks),
        "event_id string, user_id string, event_type string, ts_us long, props string",
    )
    df.select("event_id", "user_id", "event_type",
              F.timestamp_micros("ts_us").alias("ts"), "props") \
        .write.parquet(os.path.join(sf_dir, "events.parquet"))


def expected(displays: list[Event], clicks: list[Event]) -> dict[str, Counter]:
    return {
        "j1_interval_join_inner": reference.clicked(displays, clicks),
        "j2_interval_join_left_outer": reference.maybe_clicked(displays, clicks),
        "j3_missed_anti": reference.missed(displays, clicks),
    }


_COLUMNS = {
    "j1_interval_join_inner": ("user_id", "payload"),
    "j2_interval_join_left_outer": ("user_id", "view_props", "click_props"),
    "j3_missed_anti": ("user_id", "value"),
}


def run_twins(spark, root: str, seed: int, tracer) -> tuple[dict[str, float], list[str]]:
    """Per-layer metrics ``queries.<q>.build_ms`` and ``.exec_s`` for each
    twin, and the errors of their checks."""
    from kafka_streams_join_spark.queries import QUERIES
    displays, clicks = make_events(seed, DISPLAYS, 1000.0)
    sf_dir = os.path.join(root, "twins")
    with tracer.span("twins.write_events"):
        write_events(spark, sf_dir, displays, clicks)
    want = expected(displays, clicks)
    out: dict[str, float] = {}
    errors: list[str] = []
    sc = spark.sparkContext
    for q in TWINS:
        with tracer.span(f"queries.{q}"):
            t0 = time.perf_counter()
            df = QUERIES[q](spark, sf_dir)
            out[f"queries.{q}.build_ms"] = (time.perf_counter() - t0) * 1000.0
            with tracer.span("twins.check", query=q):
                got = Counter(tuple(r) for r in df.select(*_COLUMNS[q]).collect())
            if got != want[q]:
                errors.append(f"twins/{q}: {sum((want[q] - got).values())} expected rows "
                              f"missing, {sum((got - want[q]).values())} unexpected")
            sc.setLocalProperty(QUERY_PROPERTY, q)
            try:
                with tracer.span("twins.count", query=q):
                    t0 = time.perf_counter()
                    df.count()
                    out[f"queries.{q}.exec_s"] = time.perf_counter() - t0
            finally:
                sc.setLocalProperty(QUERY_PROPERTY, None)
    return out, errors
