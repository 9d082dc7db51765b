"""Tests of the trace fold and of the benchmark's declared metrics.

    python3 -m pytest perfbench/tests -q            # fold + declarations
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/tests -q   # + smoke runs

``tiny_eventlog.jsonl`` is a recorded Spark 4.1 event log on
``local[2]``, cut to the events and fields the fold reads: a parquet
fixture write (no group), a filtered scan under job group
``w:s:0.ops:k`` and a grouped aggregate under ``w:t:0.ops:k``, both
through the noop sink.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import tracefold  # noqa: E402

#: Counted by hand from tiny_eventlog.jsonl: the timed group ran two jobs
#: (the second skips its map stage), three tasks and three AQE re-plans;
#: the whole log, with the fixture write, has five jobs and eight tasks.
EXPECTED_TIMED = {"jobs": 2, "stages": 2, "tasks": 3, "aqe_updates": 3}
EXPECTED_ALL = {"jobs": 5, "tasks": 8}


def _tiny():
    return tracefold.read_event_log(os.path.join(HERE, "tiny_eventlog.jsonl"))


def _timed(group, _ms):
    return group.startswith("w:t:")


def test_tiny_log_counts_only_the_timed_group():
    out = tracefold.fold_event_log(_tiny(), _timed)
    everything = tracefold.fold_event_log(_tiny(), lambda g, t: True)
    assert out["spark.jobs"] == EXPECTED_TIMED["jobs"]
    assert out["spark.stages"] == EXPECTED_TIMED["stages"]
    assert out["spark.tasks"] == EXPECTED_TIMED["tasks"]
    assert out["spark.aqe_updates"] == EXPECTED_TIMED["aqe_updates"]
    assert everything["spark.jobs"] == EXPECTED_ALL["jobs"]
    assert everything["spark.tasks"] == EXPECTED_ALL["tasks"]
    # The aggregate shuffles; every byte written is read back.
    assert out["spark.shuffle_write_bytes"] > 0
    assert out["spark.shuffle_read_bytes"] == out["spark.shuffle_write_bytes"]
    assert 0 < out["spark.cpu_ms"] <= out["spark.run_ms"] + out["spark.tasks"]
    assert everything["catalog.input_bytes"] > out["catalog.input_bytes"] >= 0


def test_time_filter_drops_jobs_before_the_window():
    events = _tiny()
    last = max(e["Submission Time"] for e in events
               if e["Event"] == "SparkListenerJobStart")
    out = tracefold.fold_event_log(events, lambda g, t: t >= last)
    assert out["spark.jobs"] == 1


def test_fold_reports_per_pass_and_progress_means():
    tr = tracefold.Tracer()
    tr.spans += [
        ("session.start", "", 2.0),
        ("operators.construct", "s:0.ops", 9.0),  # set-up: excluded
        ("operators.construct", "t:0.ops", 0.3),
        ("operators.construct", "t:1.ops", 0.5),
        ("sql_corpus.views", "s:0.sql", 1.0),
        ("sql_corpus.views", "s:1.sql", 2.0),
        ("memo.build", "s:0.ops", 4.0),
    ]
    tr.add("t.session_hits", 2)
    tr.add("t.hits", 1)
    tr.add("t.misses", 1)
    tr.add("s.misses", 3)
    tr.progress["bm25"] += [
        {"rows": 0, "durationMs": {"triggerExecution": 99},
         "state_rows": 0, "state_bytes": 0},
        {"rows": 5, "durationMs": {"triggerExecution": 100, "walCommit": 10},
         "state_rows": 7, "state_bytes": 70},
        {"rows": 5, "durationMs": {"triggerExecution": 300, "walCommit": 30},
         "state_rows": 9, "state_bytes": 90},
    ]
    out = tracefold.fold(tr, _tiny(), _timed, 2, {"gen.late_ms": 1.5})
    assert out["session.start_s"] == 2.0
    assert out["operators.construct_ms"] == pytest.approx(400.0)
    assert out["sql_corpus.views_ms"] == pytest.approx(1500.0)
    assert out["memo.misses"] == 0.5
    assert out["memo.session_hits"] == 1.0
    assert out["memo.hit_frac"] == 0.75
    assert out["memo.setup_misses"] == 3
    assert out["memo.setup_build_s"] == 4.0
    assert out["twins.bm25.trigger_ms"] == 200.0
    assert out["twins.bm25.wal_commit_ms"] == 20.0
    assert out["twins.bm25.state_rows"] == 9
    assert out["twins.nb_filter.trigger_ms"] == 0.0
    assert out["spark.jobs"] == EXPECTED_TIMED["jobs"] / 2
    assert out["gen.late_ms"] == 1.5
    assert set(tracefold.per_layer_names()) <= set(out)


def _profile(n: int) -> dict[str, dict]:
    """A synthetic key profile: key ``k<i>`` takes 100 + 10 i ms, and
    every fourth key is a many-task, scheduling-heavy one."""
    out = {}
    for i in range(n):
        heavy = i % 4 == 0
        out[f"k{i:02d}"] = {
            "lat_ms": 100.0 + 10 * i, "construct_ms": 40.0 + i,
            "plan_ms": 5.0, "jobs": 1.0 if heavy else 3.0,
            "stages": 3.0, "tasks": 32.0 if heavy else 3.0,
            "sched_ms": 60.0 if heavy else 20.0, "run_ms": 50.0,
        }
    return out


def test_stratified_takes_one_key_per_latency_stratum():
    import keyprofile

    prof = _profile(24)
    chosen = keyprofile.stratified(prof, 6, forced=("k05",))
    ranked = sorted(prof, key=lambda k: prof[k]["lat_ms"])
    strata = [set(ranked[i:i + 4]) for i in range(0, 24, 4)]
    assert len(chosen) == 6
    assert all(len(s & set(chosen)) == 1 for s in strata)
    assert "k05" in chosen
    # Balancing beats every stratum's median member.
    medians = [sorted(s)[1] for s in strata]
    medians[1] = "k05"
    assert keyprofile.deviation(prof, chosen) <= keyprofile.deviation(
        prof, medians)
    assert keyprofile.stratified(prof, 6, forced=("k05",)) == chosen


def test_benchmark_json_declares_what_the_runner_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(
        run.END_TO_END.values()
    )
    assert [
        (m["name"], m["unit"], m["better"]) for m in spec["per_layer"]
    ] == tracefold.per_layer()
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def _smoke(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] is True
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"),
                    reason="set PERFBENCH_SMOKE=1 (about 5 minutes)")
@pytest.mark.parametrize("workload", ["batch_warm", "serve_open"])
def test_smoke_counts_repeat(workload):
    a, b = _smoke(workload, 3), _smoke(workload, 3)
    memo = [k for k in a if k.startswith("memo.") and not k.endswith("_s")
            and k != "memo.tier_bytes"]
    assert {k: a[k] for k in memo} == {k: b[k] for k in memo}
    if workload == "batch_warm":
        assert a["spark.jobs"] == b["spark.jobs"] > 0
        assert a["memo.misses"] == 0
    else:
        assert a["twins.bm25.trigger_ms"] > 0
        assert a["memo.setup_misses"] == b["memo.setup_misses"] > 0

