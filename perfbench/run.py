#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload batch_warm --seed 1 --seconds 12 --trace 0

Run from the repo root.  Generates the inputs from ``--seed`` under
``.perfbench_work/`` (its own empty artifact, layout, checkpoint and
event-log directories per run, removed afterwards), starts a
``local[4]`` session, runs the workload (see WORKLOADS.md), checks every
result, and prints as its last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run enables Spark's event log, job groups and the
streaming listener, and prints the per-layer metrics instead.  A detail
record (host noise, every latency, failures) is kept in
``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
#: A run that has not finished by then is stopped and fails.
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def host_sample() -> dict:
    """CPU jiffies from /proc/stat and the 1-minute load average."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal": cpu[7], "total": sum(cpu[:8]), "loadavg1": load1}


def steal_pct(a: dict, b: dict) -> float:
    total = b["total"] - a["total"]
    return 100.0 * (b["steal"] - a["steal"]) / total if total else 0.0


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its JVM (a descendant)."""
    def hwm(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    kb = hwm(os.getpid())
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    kb += hwm(pid)
        except OSError:
            continue
        todo += _children(pid)
    return kb / 1024


def engine_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in (
            "scala_reactivex_spark/__init__.py",
            "__spark_entry__.py",
            "scripts/verify_local.py",
        )
    )


def isolate(run_dir: str) -> None:
    """Give this process its own empty data, artifact, layout,
    checkpoint, warehouse and scratch directories under ``run_dir``."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("data", "index", "layout", "ckpt", "warehouse", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ.update(
        {
            # Spark's Python workers import the engine from the checkout.
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_INDEX_CACHE": os.path.join(run_dir, "index"),
            "SPARK_GRAFT_LAYOUT_CACHE": os.path.join(run_dir, "layout"),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
        }
    )


def start_session(run_dir: str, trace: bool, app: str):
    """A local[4] session through the engine's own builder, with this
    run's warehouse, scratch and (traced) event-log directories."""
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        # The serial collector keeps the JVM's peak RSS steady from run
        # to run (G1 let identical runs differ by a fifth); the rest keeps
        # the JVM's files inside the run directory.
        "spark.driver.extraJavaOptions": " ".join(
            (
                "-XX:+UseSerialGC",
                "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                "-Dderby.system.home=" + os.path.join(run_dir, "derby"),
            )
        ),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell"
    )
    from scala_reactivex_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then end its JVM and wait for it to exit (the
    gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    from workloads import KNOWN_DEFECTS, WORKLOADS, Ctx

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not engine_present():
        print("perfbench: engine sources not found next to perfbench/",
              file=sys.stderr)
        return 2

    def on_alarm(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)

    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, name)
    isolate(run_dir)

    import gen
    import tracefold as tr

    tracer = tr.Tracer() if args.trace else tr.NoTracer()
    host0 = host_sample()
    spark = None
    try:
        with tracer.span("gen"):
            data_dir = gen.generate(os.path.join(run_dir, "data"), args.seed)
        with tracer.span("session.start"):
            spark = start_session(run_dir, bool(args.trace),
                                  f"perfbench-{args.workload}")
        ctx = Ctx(args.workload, args.seed, args.seconds, run_dir, data_dir,
                  T0, tracer, spark)
        res = WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb()
        cores = spark.sparkContext.defaultParallelism
        tier_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for sub in ("index", "layout")
            for d, _, files in os.walk(os.path.join(run_dir, sub))
            for f in files
        )
        stop_session(spark)
        spark = None
        host1 = host_sample()
        attempted = res.attempted
        failed = len(res.failed)
        host = {
            "steal_pct": steal_pct(host0, host1),
            "loadavg1_start": host0["loadavg1"],
            "loadavg1_end": host1["loadavg1"],
            "nproc": os.cpu_count(),
            "spark_cores": cores,
        }
        end_to_end = {
            "setup_s": res.setup_s,
            "op_p50_ms": statistics.median(res.latencies_ms),
            "ops_per_s": res.ops_per_s,
            "peak_rss_mb": rss,
        }
        if args.trace:
            extra = dict(res.extra)
            extra.update(
                {
                    "memo.tier_bytes": float(tier_bytes),
                    "host.steal_pct": host["steal_pct"],
                    "host.loadavg1": host["loadavg1_end"],
                }
            )
            events = tr.read_event_log(
                tr.find_event_log(os.path.join(run_dir, "events"))
            )
            values = tr.fold(
                tracer, events, res.timed(args.workload), res.passes, extra
            )
            units = [(k, unit) for k, unit, _ in tr.per_layer()]
        else:
            values, units = end_to_end, END_TO_END.items()
        metrics = {k: {"value": values[k], "unit": u} for k, u in units}
        unexpected = [f for f in res.failed if f not in KNOWN_DEFECTS]
        record = {
            "args": vars(args),
            "host": host,
            "failed": res.failed,
            "latencies_ms": res.latencies_ms,
            "labels": res.labels,
            "passes": res.passes,
            # Traced runs keep their end-to-end figures too: traced minus
            # untraced is the tracing overhead.
            "end_to_end": end_to_end,
            "metrics": metrics,
            "spans": getattr(tracer, "spans", []),
        }
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", name + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({"host": host, "failed_ops": res.failed}))
        print(
            json.dumps(
                {
                    "correct": not unexpected,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
