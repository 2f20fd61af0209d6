#!/usr/bin/env python3
"""Event-log stage profile of one knn_join run.
Usage: python3 BENCH/knn_join_profile_evt.py <n> <cpus> <spacing> <margin>
Each run writes its event log to a new temporary directory (printed as
`evt_dir`), so concurrent runs never share or delete each other's."""

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_pts = int(sys.argv[1])
    cpus = int(sys.argv[2])
    spacing = int(sys.argv[3])
    margin = float(sys.argv[4])
    k = 4

    import numpy as np
    import pandas as pd

    from pbf2json_spark.functions import imagecodec as ic
    from pbf2json_spark.operators.spatial import knn_join
    from pbf2json_spark.plans.session import (build_session,
                                              warm_python_workers)

    evt_dir = tempfile.mkdtemp(prefix="knnj-evt-")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = build_session(app_name="knnj-prof", cores=cpus,
                          shuffle_partitions=2 * cpus,
                          extra={"spark.eventLog.enabled": "true",
                                 "spark.eventLog.compress": "false",
                                 "spark.eventLog.dir": evt_dir,
                                 "spark.driver.memory": mem})
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)

    def gen(batches):
        for pdf in batches:
            seqs = pdf["id"].to_numpy(np.uint64)
            ph = ic.splitmix64(seqs).astype(np.int64)
            lat, lon = ic.geotag_from_phash(ph)
            yield pd.DataFrame({
                "point_id": [f"p{int(s):09d}" for s in seqs],
                "lat": lat, "lon": lon})

    geo = spark.range(0, n_pts, numPartitions=4 * cpus) \
        .mapInPandas(gen, "point_id string, lat double, lon double") \
        .persist()
    geo.count()

    pts = geo.selectExpr("point_id as right_id", "lat", "lon")
    left = geo.selectExpr("point_id as left_id", "lat", "lon")
    # spacing=0 -> the operator's default ladder
    lkw = {} if spacing == 0 else \
        {"levels": tuple(range(16, 3, -spacing))}

    t0 = time.perf_counter()
    tr = {}
    out = knn_join(left, pts, k=k, exclude_self=True, trace=tr,
                   margin=margin, **lkw)
    n_out = out.count()
    wall = time.perf_counter() - t0
    t_mark = time.time() * 1000  # everything before this is the run

    spark.stop()
    time.sleep(2)

    # parse event log: per-stage duration, task time, shuffle bytes
    logfs = [f for f in glob.glob(evt_dir + "/**/*", recursive=True)
             if os.path.isfile(f) and "appstatus" not in f]
    stages = []
    jobs = []
    lines = []
    for logf in sorted(logfs):
        with open(logf) as fh:
            lines.extend(fh)
    sbytes = {}  # stage id -> [shuf write B, shuf read B, spill B, out rows]
    sgc = {}     # stage id -> [gc ms, run ms, cpu ms, fetchwait ms, [task ms]]
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sid = ev.get("Stage ID", -1)
                acc = sbytes.setdefault(sid, [0, 0, 0, 0])
                acc[0] += (tm.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                rm = tm.get("Shuffle Read Metrics") or {}
                acc[1] += rm.get("Remote Bytes Read", 0) \
                    + rm.get("Local Bytes Read", 0)
                acc[2] += tm.get("Disk Bytes Spilled", 0)
                acc[3] += (tm.get("Output Metrics") or {}) \
                    .get("Records Written", 0) or \
                    (tm.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Records Written", 0)
                # r7: GC / executor run / cpu / fetch-wait sums and the
                # per-task duration list (straggler vs uniform slowdown)
                ti = ev.get("Task Info") or {}
                ext = sgc.setdefault(sid, [0, 0, 0, 0, []])
                ext[0] += tm.get("JVM GC Time", 0)
                ext[1] += tm.get("Executor Run Time", 0)
                ext[2] += tm.get("Executor CPU Time", 0) // 1_000_000
                ext[3] += (rm.get("Fetch Wait Time", 0) or 0)
                ext[4].append((ti.get("Finish Time", 0)
                               - ti.get("Launch Time", 0)))
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub = si.get("Submission Time", 0)
                if sub < t_mark - wall * 1000 - 2000:
                    continue  # warmup stages
                dur = (si.get("Completion Time", 0) - sub) / 1000.0
                stages.append({
                    "stage": si["Stage ID"],
                    "name": si["Stage Name"].split("\n")[0][:70],
                    "tasks": si["Number of Tasks"],
                    "dur_s": round(dur, 2),
                    "t0": round((sub - (t_mark - wall * 1000)) / 1000.0, 1),
                })
            elif e == "SparkListenerJobStart":
                jobs.append({"job": ev.get("Job Id", -1),
                             "t0": round((ev["Submission Time"]
                                          - (t_mark - wall * 1000)) / 1000.0,
                                         1),
                             "stages": len(ev.get("Stage Infos", []))})

    stages.sort(key=lambda s: -s["dur_s"])
    print(json.dumps({"wall": round(wall, 2), "out_rows": n_out,
                      "trace": tr, "n_jobs_total": len(jobs),
                      "evt_dir": evt_dir}))
    print("top stages by duration:")
    for s in stages[:18]:
        sw, sr, sp, rec = sbytes.get(s["stage"], [0, 0, 0, 0])
        gc, run, cpu, fw, tds = sgc.get(s["stage"], [0, 0, 0, 0, []])
        tds.sort()
        p50 = tds[len(tds) // 2] / 1000.0 if tds else 0.0
        mx = tds[-1] / 1000.0 if tds else 0.0
        gb = 1024 ** 3
        print(f"  t0={s['t0']:>7.1f}s dur={s['dur_s']:>7.2f}s "
              f"tasks={s['tasks']:>4} stage{s['stage']:>4} "
              f"w={sw/gb:5.1f}G r={sr/gb:5.1f}G sp={sp/gb:5.1f}G "
              f"rec={rec/1e6:7.1f}M gc={gc/1000.0:6.1f}s "
              f"run={run/1000.0:7.1f}s cpu={cpu/1000.0:7.1f}s "
              f"fw={fw/1000.0:5.1f}s p50={p50:6.2f}s max={mx:7.2f}s "
              f"{s['name']}")
    print("jobs in window:",
          [j for j in jobs if j["t0"] > -5][:40])


if __name__ == "__main__":
    main()
