"""Streaming exact dedup: ``dropDuplicatesWithinWatermark`` over a key subset,
the streaming twin of the batch ``dedup_exact``. Duplicate state is evicted
once the watermark passes, so it stays bounded at any scale.

Timeout detection ("missed displays") has one mechanism, the watermarked
left-outer join in ``topology.stream_timeout_join``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_dedup(
    df: DataFrame,
    subset: list[str] | None = None,
    ts: str = "ts",
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming exact dedup: first row per key wins; duplicate state is
    evicted once the watermark passes (bounded state at any scale) —
    ``dropDuplicatesWithinWatermark``, the streaming twin of
    ``dedup_exact``. Guarantees dedup of records whose event times fall
    within ``watermark_delay`` of each other."""
    return df.withWatermark(ts, watermark_delay).dropDuplicatesWithinWatermark(
        subset or ["key"]
    )
