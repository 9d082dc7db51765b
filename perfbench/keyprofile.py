#!/usr/bin/env python3
"""Profile all 72 headline keys on the benchmark's inputs, and choose
``batch_warm``'s keys from the profile by stratified sampling.

    python3 perfbench/keyprofile.py --seed 1

Run from the repo root; takes a few minutes.  Generates the inputs from
``--seed`` as ``run.py`` does, starts a traced ``local[4]`` session, runs
every key once through ``queries()`` and checks it against the DuckDB
oracle (this also builds the standing artifacts), then times
:data:`PASSES` passes over all keys, each in a fresh seeded order.
Prints one JSON line per key (set-up time and its standing-artifact
builds; median latency; per execution: construction, planning, jobs,
stages, tasks, scheduling overhead, task run time, memo misses) and,
last, a summary that compares ``batch_warm``'s keys and a freshly chosen
stratified sample (:func:`stratified`) with all 72 keys on the same
figures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import tracefold  # noqa: E402

#: ``bench.py``'s untiered headline set: every registry key outside
#: ``EXCLUDE`` and the frozen tiered suites.
HEADLINE_KEYS = (
    "llm_ann_ivf", "llm_dedup_embed_lsh", "llm_dedup_exact",
    "llm_dedup_simhash", "llm_doc_fingerprint", "llm_doc_sample",
    "llm_lang_id", "llm_multimodal_features", "llm_multimodal_join",
    "llm_quality_score", "llm_similarity_topk", "llm_text_clean",
    "llm_text_stats", "llm_text_tokens", "op_agg_basic", "op_amb", "op_bool",
    "op_buffer_count", "op_collect_sorted", "op_combine_latest", "op_concat",
    "op_debounce", "op_default_if_empty", "op_delay", "op_distinct",
    "op_distinct_until_changed", "op_error_return", "op_filter",
    "op_first_last", "op_flatmap", "op_group_by", "op_interval_join",
    "op_map", "op_materialize", "op_merge", "op_pairwise", "op_reduce",
    "op_sample", "op_scan_running_sum", "op_sequence_equal", "op_skip",
    "op_stats_battery", "op_switch", "op_take", "op_take_until",
    "op_take_while", "op_throttle_first", "op_time_interval",
    "op_timeout_flag", "op_udf_textlen", "op_window_session",
    "op_window_sliding", "op_window_tumbling", "op_with_latest_from",
    "op_zip", "rel_agg_approx", "rel_agg_distinct", "rel_cube",
    "rel_join_inner", "rel_join_range", "rel_join_semi_anti",
    "rel_q1_pricing", "rel_rollup", "rel_scalar_battery", "rel_setops",
    "rel_subquery_corr", "rel_topk", "rel_window_range", "rel_window_rank",
    "src_interval", "src_range", "src_scan_events",
)
assert len(set(HEADLINE_KEYS)) == 72

PASSES = 3
#: The sample size: strata of 10 or 11 keys.
STRATA = 7
#: Keys whose set-up takes longer are not eligible: every run pays it.
MAX_SETUP_S = 3.0

#: Figures compared between the sample and all keys: per execution,
#: except the shares, which are of the summed latency.
FIGURES = ("lat_ms", "construct_ms", "plan_ms", "jobs", "stages", "tasks",
           "sched_ms", "run_ms")

#: Figures the sample is balanced on (see :func:`stratified`).
BALANCE = ("p50_lat_ms", "p75_lat_ms", "mean_lat_ms", "mean_jobs",
           "mean_tasks", "construct_share", "plan_share", "sched_share")


def deviation(profile: dict[str, dict], keys) -> float:
    """Largest relative difference, over :data:`BALANCE`, between the
    summary of ``keys`` and that of all keys."""
    sub, every = summary(profile, keys), summary(profile, profile)
    return max(abs(sub[f] - every[f]) / every[f] for f in BALANCE)


def stratified(profile: dict[str, dict], strata: int,
               forced: tuple[str, ...],
               max_setup_ms: float = float("inf")) -> list[str]:
    """One key per stratum of equal size, strata cut by median latency,
    so the sample covers the latency distribution; within that, the
    sample whose jobs, tasks and time shares come closest to all keys'.

    A stratum is represented by the forced key it holds (several if it
    holds several).  Every other stratum starts from its median eligible
    member (one whose ``setup_ms`` is at most ``max_setup_ms``: every
    run pays set-up again); then each such stratum in turn takes the
    eligible member that lowers :func:`deviation` most, until a round
    lowers it no further."""
    ranked = sorted(profile, key=lambda k: (profile[k]["lat_ms"], k))
    bounds = [round(i * len(ranked) / strata) for i in range(strata + 1)]
    groups = [
        [k for k in ranked[lo:hi]
         if k in forced or profile[k].get("setup_ms", 0) <= max_setup_ms]
        or ranked[lo:hi]
        for lo, hi in zip(bounds, bounds[1:])
    ]
    picks = [
        [k for k in g if k in forced] or [g[(len(g) - 1) // 2]]
        for g in groups
    ]

    def flat(ps):
        return [k for p in ps for k in p]

    current = deviation(profile, flat(picks))
    changed = True
    while changed:
        changed = False
        for i, g in enumerate(groups):
            if any(k in forced for k in g):
                continue
            dev, best = min(
                (deviation(profile, flat(picks[:i] + [[k]] + picks[i + 1:])), k)
                for k in g
            )
            if dev < current:
                picks[i], current, changed = [best], dev, True
    return flat(picks)


def summary(profile: dict[str, dict], keys) -> dict[str, float]:
    """The profile's figures over ``keys``: per-execution means, the
    median and 75th percentile of latency, and the shares of latency."""
    rows = [profile[k] for k in keys]
    out = {f"mean_{f}": statistics.mean(r[f] for r in rows) for f in FIGURES}
    lat = sorted(r["lat_ms"] for r in rows)
    out["p50_lat_ms"] = statistics.median(lat)
    out["p75_lat_ms"] = lat[math.ceil(0.75 * len(lat)) - 1]  # nearest rank
    total = sum(lat)
    for f in ("construct_ms", "plan_ms", "sched_ms"):
        out[f"{f[:-3]}_share"] = sum(r[f] for r in rows) / total
    return out


def main(argv=None) -> int:
    from workloads import BATCH_KEYS, KNOWN_DEFECTS, Ctx, _entries, _run_op

    from check import Oracle

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    import gen
    from scala_reactivex_spark.plans.registry import registry

    run_dir = os.path.join(run.WORK, f"keyprofile-s{args.seed}-{os.getpid()}")
    run.isolate(run_dir)
    tracer = tracefold.Tracer()
    tag_key: dict[str, str] = {}
    spark = None
    try:
        data_dir = gen.generate(os.path.join(run_dir, "data"), args.seed)
        spark = run.start_session(run_dir, True, "perfbench-keyprofile")
        ctx = Ctx("kp", args.seed, 0, run_dir, data_dir, 0.0, tracer, spark)
        ops = _entries(ctx)["ops"]
        specs = registry()
        oracle = Oracle(data_dir)
        # One query first, so the first key's set-up time does not carry
        # the session's warm-up.
        oracle.mismatch(specs["rel_q1_pricing"].oracle,
                        _run_op(ctx, ops, "rel_q1_pricing", "w", sink=False))
        mismatched = {}
        for i, key in enumerate(HEADLINE_KEYS):
            tag_key[f"s:{i}"] = key
            with tracer.span("setup", f"s:{i}"):
                df = _run_op(ctx, ops, key, f"s:{i}", sink=False)
                why = oracle.mismatch(specs[key].oracle, df)
            if why:
                mismatched[key] = why
        oracle.close()

        rng = random.Random(args.seed)
        order = list(HEADLINE_KEYS)
        lat: dict[str, list[float]] = {k: [] for k in HEADLINE_KEYS}
        for p in range(PASSES):
            rng.shuffle(order)
            for i, key in enumerate(order):
                tag = f"t:{p}.{i}"
                tag_key[tag] = key
                misses = tracer.counts["t.misses"]
                with tracer.span("op", tag):
                    _run_op(ctx, ops, key, tag)
                tracer.add(f"misses.{key}", tracer.counts["t.misses"] - misses)
        run.stop_session(spark)
        spark = None

        for layer, tag, s in tracer.spans:
            if layer == "op":
                lat[tag_key[tag]].append(s * 1e3)
        events = tracefold.read_event_log(
            tracefold.find_event_log(os.path.join(run_dir, "events"))
        )
        profile = {}
        n = PASSES
        for key in HEADLINE_KEYS:
            spark_ = tracefold.fold_event_log(
                events,
                lambda g, _t, key=key: g.startswith("kp:t:")
                and g.endswith(":" + key),
            )
            span = {
                (layer, phase): sum(
                    s for lay, tag, s in tracer.spans
                    if lay == layer and tag[:1] == phase
                    and tag_key.get(tag) == key
                ) * 1e3
                for layer in ("operators.construct", "spark.plan",
                              "setup", "memo.build")
                for phase in "st"
            }
            profile[key] = {
                "setup_ms": span["setup", "s"],
                "build_ms": span["memo.build", "s"],
                "lat_ms": statistics.median(lat[key]),
                "construct_ms": span["operators.construct", "t"] / n,
                "plan_ms": span["spark.plan", "t"] / n,
                **{
                    f: spark_[f"spark.{f}"] / n
                    for f in ("jobs", "stages", "tasks", "sched_ms", "run_ms")
                },
                "misses": tracer.counts[f"misses.{key}"] / n,
                "oracle": mismatched.get(key, "ok"),
            }
            print(json.dumps({"key": key, **{
                k: round(v, 3) if isinstance(v, float) else v
                for k, v in profile[key].items()
            }}))
        chosen = stratified(profile, STRATA, KNOWN_DEFECTS, MAX_SETUP_S * 1e3)

        def rounded(keys):
            return {k: round(v, 3) for k, v in summary(profile, keys).items()}

        print(json.dumps({
            "seed": args.seed,
            "passes": n,
            "mismatched": mismatched,
            "all": rounded(HEADLINE_KEYS),
            "batch_keys": rounded(BATCH_KEYS),
            "batch_keys_deviation": round(deviation(profile, BATCH_KEYS), 3),
            "stratified": chosen,
            "stratified_summary": rounded(chosen),
            "stratified_deviation": round(deviation(profile, chosen), 3),
        }))
        return 0
    finally:
        if spark is not None:
            run.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
