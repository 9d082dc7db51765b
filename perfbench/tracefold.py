"""Spans, counters and the fold that turns a traced run into per-layer metrics.

A traced run records three things, all from the benchmark's own files:

- spans: ``(layer, op, seconds)`` around each call into an engine layer
  (``operators.construct``, ``sql_corpus.lookup``, ``sql_corpus.views``,
  ``spark.plan``, ``memo.build``), kept in memory;
- Spark's own event log (uncompressed JSON lines), where every job of a
  batch operation carries the job group ``<workload>:<tag>:<key>``
  (``<tag>`` is ``s:<i>.<entry>`` in set-up, ``t:<pass>.<i>`` timed) and
  every job of a twin's micro-batch its query's run id;
- the streaming listener's progress records (``durationMs`` phases and
  ``stateOperators`` rows/bytes) per twin.

:func:`fold` reduces all three to the flat ``{metric: value}`` map that
``BENCHMARK.json`` names under ``per_layer``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

#: Streaming phases read from ``StreamingQueryProgress.durationMs``.
TWIN_PHASES = {
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}
TWINS = ("nb_filter", "bm25", "dedup_incremental")
SPARK_COUNTS = ("jobs", "stages", "tasks", "aqe_updates")
SPARK_TIMES = ("sched_ms", "run_ms", "cpu_ms", "gc_ms", "fetch_wait_ms")
SPARK_BYTES = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def per_layer() -> list[tuple[str, str, str]]:
    """``(name, unit, better)`` of every per-layer metric, in print order.

    Batch values are sums per timed pass, serving values sums over the
    timed window; ``sql_corpus.*`` are means per ``run_sql`` call."""
    m = [
        ("session.start_s", "s", "lower"),
        ("operators.construct_ms", "ms", "lower"),
        ("sql_corpus.lookup_ms", "ms", "lower"),
        ("sql_corpus.views_ms", "ms", "lower"),
        ("memo.misses", "count", "lower"),
        ("memo.disk_hits", "count", "higher"),
        ("memo.session_hits", "count", "higher"),
        ("memo.hit_frac", "ratio", "higher"),
        ("memo.build_s", "s", "lower"),
        ("memo.tier_bytes", "bytes", "lower"),
        ("memo.setup_misses", "count", "lower"),
        ("memo.setup_build_s", "s", "lower"),
        ("spark.plan_ms", "ms", "lower"),
    ]
    m += [(f"spark.{n}", "count", "lower") for n in SPARK_COUNTS]
    m += [(f"spark.{n}", "ms", "lower") for n in SPARK_TIMES]
    m += [(f"spark.{n}", "bytes", "lower") for n in SPARK_BYTES]
    m += [
        ("spark.cpu_frac", "ratio", "higher"),
        ("catalog.input_bytes", "bytes", "lower"),
    ]
    for twin in TWINS:
        m += [(f"twins.{twin}.{p}", "ms", "lower") for p in TWIN_PHASES]
        m += [
            (f"twins.{twin}.state_rows", "count", "lower"),
            (f"twins.{twin}.state_bytes", "bytes", "lower"),
        ]
    m += [
        ("serve.backlog_files", "count", "lower"),
        ("gen.late_ms", "ms", "lower"),
        ("host.steal_pct", "%", "lower"),
        ("host.loadavg1", "count", "lower"),
    ]
    return m


def per_layer_names() -> list[str]:
    return [name for name, _, _ in per_layer()]


class Tracer:
    """In-memory span and counter store for one traced run.  ``tag``
    names the operation in flight: ``s:...`` in set-up, ``t:...`` timed."""

    enabled = True

    def __init__(self) -> None:
        self.tag = ""
        self.spans: list[tuple[str, str, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.progress: dict[str, list[dict]] = defaultdict(list)

    @contextlib.contextmanager
    def span(self, layer: str, op: str = ""):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((layer, op, time.perf_counter() - t0))

    def add(self, name: str, value: float) -> None:
        self.counts[name] += value

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span per
        call under the current tag."""
        fn = getattr(module, attr)

        def wrapper(*a, **kw):
            with self.span(layer, self.tag):
                return fn(*a, **kw)

        setattr(module, attr, wrapper)

    def total(self, layer: str, op_filter=None) -> float:
        return sum(
            s for lay, op, s in self.spans
            if lay == layer and (op_filter is None or op_filter(op))
        )


class NoTracer:
    """Tracing off: spans cost one attribute lookup and record nothing."""

    enabled = False
    tag = ""

    @contextlib.contextmanager
    def span(self, layer: str, op: str = ""):
        yield

    def add(self, name: str, value: float) -> None:
        pass


def read_event_log(path: str) -> list[dict]:
    """Events of one uncompressed, non-rolling Spark event log."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def find_event_log(log_dir: str) -> str:
    """The single finished event-log file under ``log_dir``."""
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    return files[0]


def fold_event_log(events: list[dict], timed) -> dict[str, float]:
    """Sum Spark's job, stage, task and AQE records over the jobs and SQL
    executions for which ``timed(group, submitted_ms)`` is true.  Times
    are ms, bytes are bytes."""
    out = {f"spark.{n}": 0.0 for n in SPARK_COUNTS + SPARK_TIMES + SPARK_BYTES}
    out["catalog.input_bytes"] = 0.0
    timed_stages: set[int] = set()
    timed_execs: set[int] = set()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = e.get("Properties", {}).get("spark.jobGroup.id") or ""
            if timed(group, e["Submission Time"]):
                out["spark.jobs"] += 1
                timed_stages.update(e.get("Stage IDs", []))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            if timed(e.get("jobGroupId") or "", e["time"]):
                timed_execs.add(e["executionId"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in timed_execs:
                out["spark.aqe_updates"] += 1
        elif kind == "SparkListenerStageCompleted":
            if e["Stage Info"]["Stage ID"] in timed_stages:
                out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if e["Stage ID"] not in timed_stages:
                continue
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            out["spark.tasks"] += 1
            out["spark.run_ms"] += run
            out["spark.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            out["spark.gc_ms"] += m.get("JVM GC Time", 0)
            out["spark.sched_ms"] += max(
                0, info["Finish Time"] - info["Launch Time"] - run
            )
            rd = m.get("Shuffle Read Metrics", {})
            out["spark.shuffle_read_bytes"] += rd.get(
                "Remote Bytes Read", 0
            ) + rd.get("Local Bytes Read", 0)
            out["spark.fetch_wait_ms"] += rd.get("Fetch Wait Time", 0)
            out["spark.shuffle_write_bytes"] += m.get(
                "Shuffle Write Metrics", {}
            ).get("Shuffle Bytes Written", 0)
            out["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            out["catalog.input_bytes"] += m.get("Input Metrics", {}).get(
                "Bytes Read", 0
            )
    return out


def fold_progress(progress: dict[str, list[dict]]) -> dict[str, float]:
    """Per twin: mean phase ms over non-empty micro-batches, and the
    state size after the last one."""
    out: dict[str, float] = {}
    for twin in TWINS:
        batches = [p for p in progress.get(twin, []) if p["rows"] > 0]
        for name, phase in TWIN_PHASES.items():
            vals = [p["durationMs"].get(phase, 0) for p in batches]
            out[f"twins.{twin}.{name}"] = (
                sum(vals) / len(vals) if vals else 0.0
            )
        last = batches[-1] if batches else {}
        out[f"twins.{twin}.state_rows"] = float(last.get("state_rows", 0))
        out[f"twins.{twin}.state_bytes"] = float(last.get("state_bytes", 0))
    return out


def fold(
    tracer: Tracer,
    events: list[dict],
    timed,
    passes: float,
    extra: dict[str, float],
) -> dict[str, float]:
    """All per-layer metrics of one traced run.

    ``timed(group, submitted_ms)`` selects the Spark work of the timed
    loop.  Batch workloads report sums per timed pass (one pass answers
    every key once), so counts of a deterministic pass are exact; the
    serving workload reports its timed window as one pass.  Set-up work
    is excluded except where a name says ``setup``."""
    per = passes or 1
    out = {n: 0.0 for n in per_layer_names()}
    out.update(
        {k: v / per for k, v in fold_event_log(events, timed).items()}
    )
    run, cpu = out["spark.run_ms"], out["spark.cpu_ms"]
    out["spark.cpu_frac"] = cpu / run if run else 0.0
    out.update(fold_progress(tracer.progress))

    def timed_op(op: str) -> bool:
        return op.startswith("t:")

    out["session.start_s"] = tracer.total("session.start")
    for layer in ("operators.construct", "spark.plan"):
        out[f"{layer}_ms"] = tracer.total(layer, timed_op) * 1e3 / per
    # run_sql is called in set-up only: mean per call.
    for layer in ("sql_corpus.lookup", "sql_corpus.views"):
        calls = [s for lay, _, s in tracer.spans if lay == layer]
        out[f"{layer}_ms"] = 1e3 * sum(calls) / len(calls) if calls else 0.0
    c = tracer.counts
    out["memo.misses"] = c["t.misses"] / per
    out["memo.disk_hits"] = c["t.hits"] / per
    out["memo.session_hits"] = c["t.session_hits"] / per
    lookups = c["t.misses"] + c["t.hits"] + c["t.session_hits"]
    out["memo.hit_frac"] = (
        (c["t.hits"] + c["t.session_hits"]) / lookups if lookups else 0.0
    )
    out["memo.build_s"] = tracer.total("memo.build", timed_op) / per
    out["memo.setup_misses"] = c["s.misses"]
    out["memo.setup_build_s"] = tracer.total(
        "memo.build", lambda op: op.startswith("s:")
    )
    out.update(extra)
    return out
