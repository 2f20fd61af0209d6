#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload geo_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run, in one driver process:

1. sets up SETUPS times, each a fresh SparkSession (build_session +
   warm_python_workers + the workload's warm state), stopping each
   before the next.  setup_s is their median, so it is a setup in a
   running JVM; the first setup also starts the JVM, and its time is
   reported on its own as cold_setup_s.  Seeded
   input generation (cached on disk, content-hashed) is excluded and
   reported as synth.gen_s;
2. in the last session, runs the workload's job back to back with one
   client (a closed loop) for `--seconds` and at least MIN_JOBS times,
   on all the cores the process may use (`nproc`), sampling the summed
   RSS of the JVM and its Python workers.  A job still running after
   JOB_TIMEOUT_S is cancelled and counts as failed, and so does each of
   the MIN_JOBS jobs the run deadline left unrun.  rows_per_s is the
   input rows the jobs completed over their summed wall time;
3. checks every job's outputs against the oracles (oracles.py);
4. prints a readable report, then one JSON line:
   {"correct", "attempted", "failed", "metrics"}.

With --trace 1 the last session writes a Spark event log and the
metrics are the per-layer ones (spec.py), each tagged in the report
with the end-to-end metric and workloads it should move.  The session
before it runs the same job untraced, each for half of `--seconds` (at
least MIN_JOBS times), so the run also reports the tracing overhead.
The per-layer figures leave out the first traced job, which pays the
fresh session's warm-up.  Kernel probes (probes.py) run in this process
after the sessions.

Everything a run writes goes under .perfbench_work/ in the repository
root."""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import threading
import time

import harness
import spec

JOB_TIMEOUT_S = 50.0
# no job starts later than this after the inputs are ready, so that a run
# ends within three minutes even when a job hangs until its timeout
RUN_DEADLINE_S = 115.0
SETUPS = 3
# jobs per timed loop: the first pays the fresh session's warm-up (worker
# imports, JIT, plan codegen) and a geo_batch job runs over 10 s, so two
# jobs is the sample one run can afford
MIN_JOBS = 2


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.ALL)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def check_benchmark_json() -> None:
    path = os.path.join(harness.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        bench = json.load(f)
    if ([m["name"] for m in bench["end_to_end"]] != [m[0] for m in spec.END_TO_END]
            or [m["name"] for m in bench["per_layer"]]
            != [m[0] for m in spec.per_layer()]):
        raise SystemExit("BENCHMARK.json and perfbench/spec.py list "
                         "different metrics")


def measure(wl, spark, states, tracer, seconds, deadline) -> dict:
    """Jobs back to back for `seconds` and at least MIN_JOBS times
    (unless the run deadline passes), each under a watchdog."""
    sc = spark.sparkContext
    sampler = harness.RssSampler(harness.jvm_pid()).start()
    jobs = []
    t_end = time.monotonic() + seconds
    try:
        while not jobs or (time.monotonic() < deadline and (
                len(jobs) < MIN_JOBS or time.monotonic() < t_end)):
            watchdog = threading.Timer(JOB_TIMEOUT_S, sc.cancelAllJobs)
            watchdog.start()
            try:
                jobs.append(wl.job(spark, states, tracer))
            finally:
                watchdog.cancel()
    finally:
        peak = sampler.stop()
    for job in jobs:
        wl.check(job)
    return {"jobs": jobs, "steady": jobs[1:], "peak_rss_mb": peak,
            "missing": max(0, MIN_JOBS - len(jobs)),
            "rows_per_s": wl.rows_in * len(jobs) / sum(j.seconds for j in jobs)}


def report(args, wl, run, setup_s, gen_s, failures, attempted) -> dict:
    units = {m[0]: m[1] for m in spec.END_TO_END}
    e2e = {"rows_per_s": run["rows_per_s"],
           "setup_s": statistics.median(setup_s)}
    print(f"perfbench {wl.name} seed={args.seed} cores={harness.CORES} "
          f"loop=closed clients=1 jobs={len(run['jobs'])} trace={args.trace}")
    print("  job seconds: " + " ".join(f"{j.seconds:.3f}" for j in run["jobs"]))
    print("  setup seconds: " + " ".join(f"{s:.3f}" for s in setup_s))
    for op in wl.ops:
        print(f"  {op} seconds: " + " ".join(
            f"{j.op_seconds[op]:.3f}" if op in j.op_seconds else "-"
            for j in run["jobs"]))
    for job, op, why in failures:
        print(f"  FAILED job {job} {op}: {why}")
    for name, v in e2e.items():
        print(f"  {name:<22} {v:>14.4f} {units[name]}")
    print(f"  {'ops_failed_frac':<22} {len(failures) / attempted:>14.4f} "
          f"({len(failures)}/{attempted})")
    print(f"  {'cold_setup_s':<22} {setup_s[0]:>14.4f} s (starts the JVM)")
    print(f"  {'first_job_s':<22} {run['jobs'][0].seconds:>14.4f} s (warm-up)")
    print(f"  {'peak_rss_mb':<22} {run['peak_rss_mb']:>14.4f} MB")
    print(f"  {'synth.gen_s':<22} {gen_s:>14.4f} s (excluded)")
    for name, (v, unit) in wl.extras(run["jobs"]).items():
        print(f"  {name:<22} {v:>14.4f} {unit}")
    print(f"  output check: {'PASS' if not failures else 'FAIL'}")
    return {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}


def main() -> int:
    args = parse_args()
    harness.isolate_environment()
    if importlib.util.find_spec("pbf2json_spark") is None:
        raise SystemExit(f"perfbench: no engine package under {harness.ROOT}")
    check_benchmark_json()
    import workloads

    event_dir = os.path.join(harness.WORK, "events")
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)
    cache = workloads.InputCache(os.path.join(harness.WORK, "inputs"))
    wl = workloads.make(args.workload, args.seed)

    wl.prepare(cache)
    deadline = time.monotonic() + RUN_DEADLINE_S
    setup_s, untraced, run = [], None, None
    last = SETUPS - 1
    try:
        for i in range(SETUPS):
            traced = bool(args.trace) and i == last
            tracer = harness.Tracer(traced)
            spark, t_session = harness.start_session(
                harness.session_conf(event_dir if traced else None), tracer)
            try:
                t0 = time.perf_counter()
                states = wl.warm(spark)
                setup_s.append(t_session + time.perf_counter() - t0)
                if i == last:
                    seconds = args.seconds / 2 if args.trace else args.seconds
                    run = measure(wl, spark, states, tracer, seconds, deadline)
                elif args.trace and i == last - 1:
                    untraced = measure(wl, spark, states, harness.Tracer(False),
                                       args.seconds / 2, deadline)
            finally:
                spark.stop()
    finally:
        harness.shutdown_jvm()

    # the untraced half of a traced run is checked and counted too
    jobs = run["jobs"] + (untraced["jobs"] if untraced else [])
    failures = [(i, op, why) for i, j in enumerate(jobs)
                for op, why in j.failed.items()]
    # the MIN_JOBS jobs the deadline left unrun count as attempted and failed
    missing = run["missing"] + (untraced["missing"] if untraced else 0)
    failures += [("-", op, "not run: deadline passed") for _ in range(missing)
                 for op in wl.ops]
    attempted = (len(jobs) + missing) * len(wl.ops)
    metrics = report(args, wl, run, setup_s, cache.gen_s, failures, attempted)
    if untraced:
        print("  untraced job seconds: "
              + " ".join(f"{j.seconds:.3f}" for j in untraced["jobs"]))

    if args.trace:
        import attribution
        import probes
        layers = attribution.per_layer(harness.EventLog.latest(event_dir),
                                       tracer, run)
        layers.update(probes.run(args.seed))
        layers["synth.gen_s"] = cache.gen_s
        layers["cold_setup_s"] = setup_s[0]
        layers["peak_rss_mb"] = run["peak_rss_mb"]
        layers["trace.rows_per_s"] = run["rows_per_s"]
        layers["trace.overhead_frac"] = \
            1 - run["rows_per_s"] / untraced["rows_per_s"]
        metrics = {}
        for name, unit, _better, moves, wls in spec.per_layer():
            metrics[name] = {"value": float(layers.get(name, 0.0)), "unit": unit}
            print(f"  {name:<50} {metrics[name]['value']:>14.4f} {unit:<7}"
                  f" moves {moves} on {','.join(wls)}")

    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
