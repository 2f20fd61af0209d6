#!/usr/bin/env python3
"""Where a perfbench job's cold cost goes, op by op.

    python3 scripts/cold_profile.py --workload raster_osm --seed 701 [--jobs 2]

Run from the repository root.  It builds one SparkSession the way
perfbench does (perfbench/harness.py), runs the workload's job `--jobs`
times in that one JVM (the first is cold: it pays class loading, JIT
and plan codegen; the later ones are warm), and prints for every span
the job opens (its ops and the engine calls traced inside them):

- wall_s      wall time;
- py4j        driver-to-JVM round trips (ClientServerConnection.send_command);
- jobs        Spark jobs run in the span and its children;
- jit_ms      JIT compile time (CompilationMXBean);
- classes     JVM classes loaded (ClassLoadingMXBean);
- codegen     Janino compilations of generated code (CodegenMetrics), i.e.
              the codegen cache's misses;
- janino_ms   their compile time (summed from the histogram's samples,
              exact up to its 1,028-sample reservoir);
- pycpu_s     CPU seconds of the JVM's Python workers and their daemon.

A span's figures include its children's.  The profiler's own JVM
calls are left out of the py4j counts and wall times.  It imports
perfbench's workloads and inputs and changes nothing under perfbench/;
outputs are checked with the workload's own oracles."""

from __future__ import annotations

import argparse
import contextlib
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import harness  # noqa: E402

COLUMNS = ("wall_s", "py4j", "jobs", "jit_ms", "classes", "codegen",
           "janino_ms", "pycpu_s")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def python_cpu_s(jvm: int) -> float:
    """utime + stime of the JVM's Python descendants, plus what their
    exited children (reaped workers) used."""
    total = 0
    for pid in harness.descendants(jvm):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"python" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


class Profiler:
    """A perfbench Tracer stand-in: each span gets its own job group and
    a before/after reading of the counters above."""

    def __init__(self, spark):
        import py4j.clientserver as cs
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jvm_pid = harness.jvm_pid()
        self.calls = 0
        self.own_calls = 0
        self.own_s = 0.0
        send = cs.ClientServerConnection.send_command

        def counted(conn, command):
            self.calls += 1
            return send(conn, command)
        cs.ClientServerConnection.send_command = counted
        mf = self.jvm.java.lang.management.ManagementFactory
        self.jit = mf.getCompilationMXBean()
        self.loading = mf.getClassLoadingMXBean()
        self.compile_hist = \
            self.jvm.org.apache.spark.metrics.source.CodegenMetrics \
                .METRIC_COMPILATION_TIME()
        self.rows: list[tuple[int, str, dict]] = []
        self.spans = 0
        self._stack: list[str] = []

    def _counters(self) -> dict:
        t0, c0 = time.perf_counter(), self.calls
        snap = self.compile_hist.getSnapshot()
        out = {"jit_ms": self.jit.getTotalCompilationTime(),
               "classes": self.loading.getTotalLoadedClassCount(),
               "codegen": self.compile_hist.getCount(),
               "janino_ms": self.jvm.java.util.Arrays.stream(
                   snap.getValues()).sum(),
               "pycpu_s": python_cpu_s(self.jvm_pid)}
        self.own_calls += self.calls - c0
        self.own_s += time.perf_counter() - t0
        return out

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        group = f"cp{self.spans}:{name}"
        self.spans += 1
        row = {}
        self.rows.append((len(self._stack), name, row))
        before = self._counters()
        own_c, own_s = self.own_calls, self.own_s
        c0, t0 = self.calls, time.perf_counter()
        self._stack.append(group)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            t1, c1 = time.perf_counter(), self.calls
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            row["wall_s"] = (t1 - t0) - (self.own_s - own_s)
            row["py4j"] = (c1 - c0) - (self.own_calls - own_c)
            after = self._counters()
            for k in before:
                row[k] = after[k] - before[k]
            row["group"] = group

    def finish_jobs(self, rows) -> None:
        """Job counts per span, children included (groups nest by depth)."""
        tracker = self.sc.statusTracker()
        own = [len(tracker.getJobIdsForGroup(r["group"])) for _, _, r in rows]
        for i, (depth, _, row) in enumerate(rows):
            n = own[i]
            for j in range(i + 1, len(rows)):
                if rows[j][0] <= depth:
                    break
                n += own[j]
            row["jobs"] = n


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("geo_batch", "raster_osm"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--jobs", type=int, default=2)
    args = ap.parse_args()
    harness.isolate_environment()
    import workloads

    cache = workloads.InputCache(os.path.join(harness.WORK, "inputs"))
    wl = workloads.make(args.workload, args.seed)
    wl.prepare(cache)
    spark, setup = harness.start_session(harness.session_conf(None),
                                         harness.Tracer(False))
    failed = False
    try:
        states = wl.warm(spark)
        prof = Profiler(spark)
        print(f"cold_profile {wl.name} seed={args.seed} "
              f"cores={harness.CORES} setup_s={setup:.2f}")
        for i in range(args.jobs):
            prof.rows = []
            job = wl.job(spark, states, prof)
            wl.check(job)
            failed |= bool(job.failed)
            prof.finish_jobs(prof.rows)
            label = "cold" if i == 0 else "warm"
            print(f"\njob {i + 1} ({label}) {job.seconds:.3f} s"
                  f"{'  FAILED: ' + str(job.failed) if job.failed else ''}")
            print(f"  {'span':<34}" + "".join(f"{c:>10}" for c in COLUMNS))
            for depth, name, row in prof.rows:
                cells = "".join(
                    f"{row[c]:>10.3f}" if isinstance(row[c], float)
                    else f"{row[c]:>10}" for c in COLUMNS)
                print(f"  {'  ' * depth + name:<34}{cells}")
    finally:
        spark.stop()
        harness.shutdown_jvm()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
