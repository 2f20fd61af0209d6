"""Per-layer numbers of a traced run: every span's Spark jobs, found by
job group in the event log, turned into the per-call statistics spec.py
names.  A span that never ran on this workload reports 0.  The figures
leave out the first timed job of the session, which pays its warm-up,
so they describe each layer once warm; the session spans are the
exception.

Spans time calls, and the engine plans lazily: a job runs in the span
of the call that triggers it.  denormalize.run_pipeline only plans; its
plan executes in the data-write job inside tableio.write, so the
pipeline's executor time is tableio.write.busy_s (the lineage scan's
share of that span is tableio.write.lineage_s)."""

from __future__ import annotations

import statistics

import spec


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ev, tracer, run) -> dict:
    out = {"spark.peak_heap_mb": ev.peak_heap_mb}
    steady = run["steady"]
    if not steady:
        return out
    calls: dict[str, list] = {}
    for sp in tracer.spans:
        if sp.name.startswith("session.") or sp.t0 >= steady[0].t0:
            calls.setdefault(sp.name, []).append(sp)

    def jobs_of(spans):
        return ev.jobs_in({s.group for s in spans})

    for name in ("session.build_session", "session.warm_python_workers"):
        out[f"{name}.wall_s"] = _mean(s.t1 - s.t0 for s in calls.get(name, []))

    for name, _moves, _wls in spec.SPANS:
        spans = calls.get(name, [])
        if not spans:
            continue
        st = ev.job_stats(jobs_of(spans))
        out[f"{name}.wall_s"] = _mean(s.t1 - s.t0 for s in spans)
        out[f"{name}.self_s"] = _mean(tracer.self_seconds(s) for s in spans)
        for stat in ("busy_s", "gc_s", "shuffle_mb", "spill_mb"):
            out[f"{name}.{stat}"] = st[stat] / len(spans)
        out[f"{name}.jobs"] = len(jobs_of(spans)) / len(spans)
        out[f"{name}.task_skew"] = statistics.median(
            ev.job_stats(jobs_of([s]))["task_skew"] for s in spans)

    timed = jobs_of([s for name, spans in calls.items()
                     if not name.startswith("session.") for s in spans])
    st = ev.job_stats(timed)
    out["spark.fetch_wait_s"] = st["fetch_wait_s"] / len(steady)
    out["spark.sched_delay_s"] = st["sched_delay_s"] / len(steady)

    pip = jobs_of(calls.get("spatial.point_in_polygon", []))
    if pip:
        cand = ev.operator_rows(pip, "BroadcastHashJoin")
        out["spatial.point_in_polygon.hits_per_candidate"] = \
            ev.operator_rows(pip, "MapInPandas") / cand if cand else 0.0
    pairs = jobs_of(calls.get("dedup.hash_near_pairs", []))
    if pairs:
        cand = (ev.operator_rows(pairs, "SortMergeJoin")
                + ev.operator_rows(pairs, "BroadcastHashJoin"))
        found = sum(len(j.out["dedup.hash_near_pairs"]) for j in steady
                    if "dedup.hash_near_pairs" in j.out)
        out["dedup.hash_near_pairs.pairs_per_candidate"] = \
            found / cand if cand else 0.0
    traces = [j.knn_join_trace for j in steady
              if getattr(j, "knn_join_trace", None)]
    if traces:
        out["spatial.knn_join.rounds"] = statistics.median(
            sum(k.startswith("round") for k in t) for t in traces)
        out["spatial.knn_join.fold_rows"] = statistics.median(
            t.get("fold", {}).get("rows", 0) for t in traces)

    stage, writes = calls.get("checkpoint.stage"), calls.get("tableio.write")
    if stage and writes:
        out["checkpoint.stage.wall_s"] = _mean(s.t1 - s.t0 for s in stage)
        out["checkpoint.stage.self_s"] = _mean(tracer.self_seconds(s)
                                               for s in stage)
        out["checkpoint.stage.resume_s"] = _mean(
            s.t1 - s.t0 for s in calls.get("checkpoint.stage.resume", []))
        lineage = [j for j in jobs_of(writes)
                   if ev.jobs[j]["site"].startswith("collect")]
        out["tableio.write.lineage_s"] = ev.job_wall(lineage) / len(writes)
        stored = [j for j in steady if hasattr(j, "stored_bytes")]
        out["tableio.bytes_written_mb"] = _mean(
            j.stored_bytes / 2**20 for j in stored)
        out["tableio.stored_bytes_per_row"] = _mean(
            j.stored_bytes / j.stored_rows for j in stored)
    return out
