"""Benchmark of the reference topology (clicked + missed displays).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload topology_replay --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``topology_replay``: closed loop. Pre-written display/click files go
  through ``streaming.harness.FileStream``, one file pair per micro-batch;
  both outputs of ``streaming.topology.TimeoutJoinTopology`` run side by
  side until both have drained. The first micro-batch is a warm-up.
- ``topology_live``: open loop. A generator thread writes a display/click
  file pair every 500 ms on a fixed schedule, each event stamped with its
  scheduled creation time; both outputs read every file available at each
  trigger of one 5 s processing-time trigger. A warm-up micro-batch over
  older events and 5 s of traffic come before the measured window.

Each run builds its session with ``session.get_spark`` at ``local[nproc]``
(with each output query in its own fair-scheduler pool), sets it up several
times (``setup_s`` is the median), runs the workload once, checks both
outputs row for row against a pure-Python reference, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones, read from
Spark's streaming progress and a local event log, and writes spans; a
traced run also times the registry's batch twins (``twins.py``) after the
measured phase.

Everything the run writes goes under ``perfbench/out/``: a scratch work
directory removed at exit, ``runs.jsonl`` (one record per run, with its
environment) and ``spans/`` (traced runs). ``python3 perfbench/overhead.py``
compares traced and untraced records.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

WORKLOADS = ("topology_replay", "topology_live")
SETUP_REPS = 5
# 9 pre-written micro-batches: the first warms the JVM up, the other 8 are
# each one latency sample per output
REPLAY_BATCHES = 9
REPLAY_ROWS_PER_BATCH = 10_000
LIVE_ROWS_PER_S = 300.0
# after the warm-up micro-batch, one trigger interval of scheduled traffic
# before the measured window opens
LIVE_WARM_S = 5.0
PHASE_TIMEOUT_S = 90.0
RUN_DEADLINE_S = 170
MIN_LATENCY_SAMPLES = 200  # live p95 needs >= 10 samples beyond it
STATE_DRAINED_ROWS = 16  # flush rows may stay in state after the final flush

E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "clicked_latency_p50_ms": "ms",
    "clicked_latency_tail_ms": "ms",
    "missed_latency_p50_ms": "ms",
    "missed_latency_tail_ms": "ms",
}
COMMON_LAYER_UNITS = {
    "session.shuffle_partitions": "count",
    "session.cold_start_s": "s",
    "process.peak_rss_mb": "MB",
    "harness.add_batch_ms": "ms",
    "gen.late_ms_max": "ms",
    "source.backlog_rows_max": "count",
    "topology.build_ms": "ms",
    "failed_ops_share": "ratio",
    "clicked.latency_samples": "count",
    "missed.latency_samples": "count",
    "clicked.latency_top_pct": "pct",
    "missed.latency_top_pct": "pct",
}


def query_layer_units() -> dict[str, str]:
    from layers import QUERY_METRICS
    out = {}
    for q in ("clicked", "missed"):
        for m in QUERY_METRICS:
            unit = ("ms" if m.endswith("_ms") or "_ms_" in m
                    else "bytes" if "bytes" in m else "count")
            out[f"{q}.{m}"] = unit
    return out


def twin_layer_units() -> dict[str, str]:
    from layers import STAGE_METRICS
    from twins import TWINS
    out = {}
    for q in TWINS:
        out[f"queries.{q}.build_ms"] = "ms"
        out[f"queries.{q}.exec_s"] = "s"
        for m in STAGE_METRICS:
            out[f"stage.{q}.{m}"] = "ms" if m.endswith("_ms") else "bytes"
    return out


def layer_units() -> dict[str, str]:
    return {**COMMON_LAYER_UNITS, **query_layer_units(), **twin_layer_units()}


class RunFailed(Exception):
    pass


def _deadline(signum, frame):
    raise RunFailed(f"run exceeded {RUN_DEADLINE_S}s")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


class Bench:
    def __init__(self, args, work: str) -> None:
        from tracing import Tracer
        self.args = args
        self.work = work
        self.run_id = f"{args.workload}-{args.seed}-{args.trace}-{uuid.uuid4().hex[:8]}"
        self.tracer = Tracer(self.run_id, bool(args.trace))
        self.spark = None
        self.jvm_proc = None
        self.event_dir = os.path.join(work, "eventlog")

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the two output queries run in their own pools (topology._run_queries)
            "spark.scheduler.mode": "FAIR",
        }
        if self.args.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            # one plain JSON-lines file per application, readable without codecs
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    def set_up(self) -> list[float]:
        """``get_spark`` plus a first action, ``SETUP_REPS`` times: the first
        starts the JVM, the rest rebuild the session inside it."""
        from pyspark import SparkContext

        from kafka_streams_join_spark.session import get_spark
        times = []
        for i in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("session.set_up", rep=i):
                t0 = time.perf_counter()
                self.spark = get_spark(extra_conf=self.conf())
                self.spark.range(1).count()
                times.append(time.perf_counter() - t0)
            if i == 0:
                self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        return times

    def env(self) -> dict:
        sc = self.spark.sparkContext
        conf = self.spark.conf
        import pyspark
        return {
            "nproc": _nproc(),
            "master": sc.master,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "state_store_provider": conf.get("spark.sql.streaming.stateStore.providerClass"),
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "loadavg_start": self.loadavg,
        }

    def peak_rss_mb(self) -> float:
        kb = _vm_hwm_kb("self")
        if self.jvm_proc is not None:
            kb += _vm_hwm_kb(self.jvm_proc.pid)
        return kb / 1024.0

    def shut_down(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self.jvm_proc
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def run(self) -> dict:
        import topology as T
        self.loadavg = os.getloadavg()[0]
        ticks = _cpu_ticks()
        setup = self.set_up()
        env = self.env()
        seed = self.args.seed
        with self.tracer.span(self.args.workload):
            if self.args.workload == "topology_replay":
                res = T.run_replay(self.spark, os.path.join(self.work, "replay"), seed,
                                   REPLAY_BATCHES, REPLAY_ROWS_PER_BATCH, self.tracer,
                                   PHASE_TIMEOUT_S)
            else:
                spec = T.LiveSpec(LIVE_ROWS_PER_S, LIVE_WARM_S, float(self.args.seconds))
                res = T.run_live(self.spark, os.path.join(self.work, "live"), seed, spec,
                                 self.tracer, PHASE_TIMEOUT_S)
        twins: tuple[dict[str, float], list[str]] = ({}, [])
        if self.args.trace:
            # after the measured phase, so it moves none of its metrics
            from twins import run_twins
            with self.tracer.span("twins"):
                twins = run_twins(self.spark, self.work, seed, self.tracer)
        rss = self.peak_rss_mb()
        app_id = self.spark.sparkContext.applicationId
        self.shut_down()
        steal, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
        env["steal_pct"] = 100.0 * steal / total if total else 0.0
        return self.report(setup, env, res, twins, rss, app_id)

    def report(self, setup, env, res, twins, rss, app_id) -> dict:
        from layers import event_log_stages, microbatch_spans, query_metrics
        from stats import median, percentile, supported_pct
        from twins import QUERY_PROPERTY, TWINS
        errors = list(res.errors) + twins[1]
        layers = {
            "session.shuffle_partitions": env["shuffle_partitions"],
            "session.cold_start_s": setup[0],
            "process.peak_rss_mb": rss,
            "harness.add_batch_ms": res.values.get("add_batch_ms", 0.0),
            "gen.late_ms_max": res.values.get("gen_late_ms_max", 0.0),
            "source.backlog_rows_max": res.values.get("backlog_rows_max", 0),
            "topology.build_ms": res.values.get("build_ms", 0.0),
            **twins[0],
        }
        stages = {}
        if self.args.trace:
            stages = event_log_stages(self.event_dir, app_id, {
                "sql.streaming.queryId": {qid: o for o, qid in res.query_ids.items()},
                QUERY_PROPERTY: {q: q for q in TWINS},
            })
            for q in TWINS:
                for m, v in stages.get(q, {}).items():
                    layers[f"stage.{q}.{m}"] = v
        for o in ("clicked", "missed"):
            qm = query_metrics(res.progress.get(o, []))
            sink = res.sinks.get(o)
            qm["sink.rows"] = sink.n if sink else 0
            qm["sink.collect_ms"] = sink.collect_ms() if sink else 0.0
            qm.update({f"stage.{m}": v for m, v in stages.get(o, {}).items()})
            for k, v in qm.items():
                layers[f"{o}.{k}"] = v
            # invariants on every topology run
            tag = self.args.workload
            if qm["state.late_dropped_rows"]:
                errors.append(f"{tag}/{o}: {qm['state.late_dropped_rows']} rows dropped as late")
            if res.ok and qm["state.rows_end"] > STATE_DRAINED_ROWS:
                errors.append(f"{tag}/{o}: state holds {qm['state.rows_end']} rows after the flush")
            if sink is not None:
                microbatch_spans(self.tracer, res.progress.get(o, []), o, res.run_span)
                for batch_id, emit, rows, secs in sink.batches:
                    self.tracer.add("sink.collect", emit - secs, emit, res.run_span,
                                    query=o, batch=batch_id, rows=len(rows))
        lat = res.values.get("latency_ms") or {}
        need = (REPLAY_BATCHES - 1 if self.args.workload == "topology_replay"
                else MIN_LATENCY_SAMPLES)
        for o in ("clicked", "missed"):
            n = len(lat.get(o, []))
            layers[f"{o}.latency_samples"] = n
            layers[f"{o}.latency_top_pct"] = supported_pct(n) or 0.0
            if res.ok and n < need:
                errors.append(f"{o}: {n} latency samples, the tail needs {need}")
        if res.ok and not res.values.get("rows_per_s"):
            errors.append("no measured micro-batch processed a row")
        attempted = sum(s.expected for s in res.sinks.values() if s.expected < 1 << 62) or 1
        failed = attempted if errors else 0
        layers["failed_ops_share"] = failed / attempted
        e2e = {}
        if res.ok and all(lat.get(o) for o in ("clicked", "missed")) and res.values.get("rows_per_s"):
            e2e = {"setup_s": median(setup), "rows_per_s": res.values["rows_per_s"]}
            for o in ("clicked", "missed"):
                e2e[f"{o}_latency_p50_ms"] = percentile(lat[o], 50)
                # replay: p75 of 8 micro-batches, two beyond it, so one
                # micro-batch that a burst of host load hit does not set it;
                # live: p95 of rows
                tail_pct = 75 if self.args.workload == "topology_replay" else 95
                e2e[f"{o}_latency_tail_ms"] = percentile(lat[o], tail_pct)
        return {
            "run": self.run_id, "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace, "env": env,
            "setup_s": setup, "attempted": attempted, "failed": failed, "errors": errors,
            "end_to_end": e2e, "per_layer": layers,
        }


def write_outputs(record: dict, tracer) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if tracer.enabled:
        spans = os.path.join(OUT, "spans")
        os.makedirs(spans, exist_ok=True)
        tracer.write(os.path.join(spans, f"{record['run']}.jsonl"))


def result_line(record: dict) -> dict:
    if record["trace"]:
        values, units = record["per_layer"], layer_units()
    else:
        values, units = record["end_to_end"], E2E_UNITS
    missing = [k for k in units if k not in values]
    if missing:
        raise RunFailed("; ".join(record["errors"]) or f"metrics missing: {missing}")
    return {
        "correct": not record["errors"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    # the session sizes local[N] and shuffle partitions from this when its
    # module is imported
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    sys.path.insert(0, ROOT)
    try:
        import kafka_streams_join_spark.streaming.topology  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(OUT, "work", uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the session starts (launcher and Spark driver) keeps its temporary
    # files in the work directory and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(RUN_DEADLINE_S)
    bench = Bench(args, work)
    try:
        record = bench.run()
        write_outputs(record, bench.tracer)
        line = result_line(record)
    except RunFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        try:
            bench.shut_down()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for err in record["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
