"""Per-layer metrics, read from Spark's public progress and event-log output.

Streaming progress (``StreamingQuery.recentProgress``) gives each
micro-batch's phase durations, watermark and state-operator metrics; the
event log (``spark.eventLog.*``, traced runs only) gives each query's task
time, shuffle and spill bytes, mapped to the query through a job property:
``sql.streaming.queryId`` for an output query, ``perfbench.query`` for a
batch twin.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

from stats import median

QUERY_METRICS = (
    "input_rows",
    "microbatch.count",
    "microbatch.trigger_ms_p50",
    "microbatch.trigger_ms_max",
    "microbatch.offsets_ms_p50",
    "microbatch.planning_ms_p50",
    "microbatch.add_batch_ms_p50",
    "microbatch.commit_ms_p50",
    "state.instances",
    "state.commit_ms",
    "state.update_ms",
    "state.removal_ms",
    "state.rows_peak",
    "state.rows_end",
    "state.bytes_peak",
    "state.late_dropped_rows",
    "rocksdb.checkpoint_ms",
    "rocksdb.flush_ms",
    "rocksdb.file_sync_ms",
    "rocksdb.zip_ms",
    "rocksdb.sst_bytes",
    "watermark_lag_ms_p50",
    "sink.rows",
    "sink.collect_ms",
    "stage.task_ms",
    "stage.shuffle_bytes",
    "stage.spill_bytes",
)

# rocksdb custom metric -> (our name, how batches combine)
_ROCKSDB = {
    "rocksdbCommitCheckpointLatency": ("rocksdb.checkpoint_ms", sum),
    "rocksdbCommitFlushLatency": ("rocksdb.flush_ms", sum),
    "rocksdbCommitFileSyncLatencyMs": ("rocksdb.file_sync_ms", sum),
    "rocksdbSaveZipFilesLatencyMs": ("rocksdb.zip_ms", sum),
    "rocksdbSstFileSize": ("rocksdb.sst_bytes", max),
}


def parse_ts(s: str) -> float:
    """Progress timestamps ('2024-01-01T00:00:00.000Z') to epoch seconds."""
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _ops(p: dict) -> list[dict]:
    return p.get("stateOperators") or [{}]


def query_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one output query over its micro-batches."""
    out = {name: 0.0 for name in QUERY_METRICS}
    if not progress:
        return out
    dur = [p["durationMs"] for p in progress]

    def p50(*keys: str) -> float:
        return median([sum(d.get(k, 0) for k in keys) for d in dur])

    out["input_rows"] = sum(int(p.get("numInputRows") or 0) for p in progress)
    out["microbatch.count"] = len(progress)
    out["microbatch.trigger_ms_p50"] = p50("triggerExecution")
    out["microbatch.trigger_ms_max"] = max(d.get("triggerExecution", 0) for d in dur)
    out["microbatch.offsets_ms_p50"] = p50("latestOffset", "getBatch")
    out["microbatch.planning_ms_p50"] = p50("queryPlanning")
    out["microbatch.add_batch_ms_p50"] = p50("addBatch")
    out["microbatch.commit_ms_p50"] = p50("walCommit", "commitOffsets")
    ops = [o for p in progress for o in _ops(p)]
    out["state.instances"] = max(o.get("numStateStoreInstances", 0) for o in ops)
    out["state.commit_ms"] = sum(o.get("commitTimeMs", 0) for o in ops)
    out["state.update_ms"] = sum(o.get("allUpdatesTimeMs", 0) for o in ops)
    out["state.removal_ms"] = sum(o.get("allRemovalsTimeMs", 0) for o in ops)
    out["state.rows_peak"] = max(o.get("numRowsTotal", 0) for o in ops)
    out["state.rows_end"] = sum(o.get("numRowsTotal", 0) for o in _ops(progress[-1]))
    out["state.bytes_peak"] = max(o.get("memoryUsedBytes", 0) for o in ops)
    out["state.late_dropped_rows"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    for key, (name, combine) in _ROCKSDB.items():
        vals = [(o.get("customMetrics") or {}).get(key, 0) for o in ops]
        out[name] = combine(vals) if vals else 0
    lags = []
    for p in progress:
        et = p.get("eventTime") or {}
        if et.get("max") and et.get("watermark") and not et["watermark"].startswith("1970"):
            lags.append((parse_ts(et["max"]) - parse_ts(et["watermark"])) * 1000.0)
    out["watermark_lag_ms_p50"] = median(lags) if lags else 0.0
    return out


STAGE_METRICS = ("task_ms", "shuffle_bytes", "spill_bytes")


def event_log_stages(log_dir: str, app_id: str,
                     jobs: dict[str, dict[str, str]]) -> dict[str, dict[str, float]]:
    """Task time, shuffle-write and spill bytes per name, summed over the
    jobs mapped to it: ``jobs[property][value]`` names the jobs whose local
    ``property`` has that value (``sql.streaming.queryId`` for an output
    query's micro-batches)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if app_id in p and os.path.isfile(p)]
    stage_name: dict[int, str] = {}
    out = {name: {m: 0.0 for m in STAGE_METRICS}
           for names in jobs.values() for name in names.values()}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    for prop, names in jobs.items():
                        name = names.get(props.get(prop))
                        if name:
                            for sid in ev.get("Stage IDs", []):
                                stage_name[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    name = stage_name.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if name:
                        o = out[name]
                        o["task_ms"] += tm.get("Executor Run Time", 0)
                        o["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        o["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                            "Disk Bytes Spilled", 0)
    return out


def microbatch_spans(tracer, progress: list[dict], query: str, parent) -> None:
    """One span per micro-batch from its progress timestamp and duration,
    with its phases laid out in execution order as children."""
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
             "commitOffsets")
    for p in progress:
        d = p["durationMs"]
        start = parse_ts(p["timestamp"])
        sid = tracer.add("microbatch", start, start + d.get("triggerExecution", 0) / 1000.0,
                         parent, query=query, batch=p.get("batchId"),
                         rows=p.get("numInputRows"))
        t = start
        for phase in order:
            if phase in d:
                tracer.add(f"microbatch.{phase}", t, t + d[phase] / 1000.0, sid,
                           query=query, batch=p.get("batchId"))
                t += d[phase] / 1000.0
