"""Session lifecycle, memory sampling and event-log tracing for the
benchmark.  Everything here observes the engine from outside: it calls
the public session builders, reads /proc, and parses the Spark event
log; no engine module is patched."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import signal
import statistics
import sys
import threading
import time

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# the cores this process may run on (what `nproc` prints); every session
# and every input's partition count uses this
CORES = len(os.sched_getaffinity(0))


def isolate_environment() -> None:
    """Keep every file a run writes inside WORK, pin one BLAS thread per
    process and put the engine on the path; must run before numpy or
    pyspark is imported."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------

def session_conf(event_dir: str | None) -> dict:
    """Spark settings that keep every file the session writes inside
    WORK.  The event log is enabled only for the traced session."""
    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": event_dir,
        })
    return conf


def start_session(conf: dict, tracer: "Tracer"):
    """build_session (which starts the JVM the first time) +
    warm_python_workers, each as a span.  Returns (spark, seconds)."""
    from pbf2json_spark.plans.session import build_session, warm_python_workers
    t0 = time.perf_counter()
    with tracer.span("session.build_session", spark_jobs=False):
        spark = build_session(app_name="perfbench", cores=CORES, extra=conf)
        spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark)
    with tracer.span("session.warm_python_workers"):
        warm_python_workers(spark)
    return spark, time.perf_counter() - t0


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the JVM behind the (already stopped) sessions and wait until
    it and its Python workers have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    children = descendants(gw.proc.pid)
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + timeout
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


# ---------------------------------------------------------------------------
# memory: summed RSS of the JVM process tree
# ---------------------------------------------------------------------------

def descendants(root: int) -> list[int]:
    """Every live process below `root` (the JVM's Python daemon and its
    forked workers), from the parent links in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
    return total * PAGE_MB


class RssSampler:
    """Timer thread sampling the JVM tree's summed RSS; `peak_mb` is the
    largest sample seen between start() and stop()."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
        return self.peak_mb


# ---------------------------------------------------------------------------
# tracing: job-group spans + event-log attribution
# ---------------------------------------------------------------------------

class Span:
    __slots__ = ("name", "group", "parent", "t0", "t1")

    def __init__(self, name, group, parent, t0):
        self.name, self.group, self.parent, self.t0 = name, group, parent, t0
        self.t1 = t0


class Tracer:
    """Records one span per call into a public engine function.  When
    enabled, each span also runs its Spark jobs under its own job group,
    so the event log attributes every job to the innermost open span.
    Disabled, span() costs nothing and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"pb{len(self.spans)}:{name}", parent,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        if spark_jobs and self._sc is not None:
            self._sc.setJobGroup(sp.group, name)
        try:
            yield
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if spark_jobs and self._sc is not None:
                up = self._stack[-1] if self._stack else None
                if up is not None:
                    self._sc.setJobGroup(up.group, up.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    def self_seconds(self, sp: Span) -> float:
        """Span wall time minus the union of its children's intervals."""
        kids = sorted((c.t0, c.t1) for c in self.spans if c.parent is sp)
        covered, end = 0.0, sp.t0
        for a, b in kids:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return (sp.t1 - sp.t0) - covered


class EventLog:
    """The parts of one Spark event log the per-layer metrics need:
    jobs (group, call site, wall), their tasks' metrics, and SQL
    operator row counts."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.stage_wall: dict[int, float] = {}
        self.stage_accums: dict[int, dict[int, float]] = {}
        self.sql_plans: dict[int, set] = {}
        self.driver_accums: dict[int, float] = {}
        self.peak_heap_mb = 0.0
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @classmethod
    def latest(cls, event_dir: str) -> "EventLog":
        logs = [p for p in glob.glob(os.path.join(event_dir, "*"))
                if not p.endswith(".inprogress")]
        if not logs:
            raise RuntimeError(f"no finished event log under {event_dir}")
        return cls(max(logs, key=os.path.getmtime))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "site": props.get("callSite.short", ""),
                "sql": props.get("spark.sql.execution.id"),
                "t0": ev["Submission Time"] / 1e3, "t1": None,
                "stages": list(ev["Stage IDs"]),
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                return
            info = ev["Task Info"]
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
            run = m["Executor Run Time"] / 1e3
            overhead = (m["Executor Deserialize Time"]
                        + m["Result Serialization Time"]) / 1e3
            self.tasks.setdefault(ev["Stage ID"], []).append({
                "dur": dur, "run": run,
                "gc": m["JVM GC Time"] / 1e3,
                "shuffle": (rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0)
                            + wr.get("Shuffle Bytes Written", 0)),
                "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                "fetch_wait": rd.get("Fetch Wait Time", 0) / 1e3,
                "sched": max(0.0, dur - run - overhead),
            })
            heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory")
            if heap:
                self.peak_heap_mb = max(self.peak_heap_mb, heap / 2**20)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time"):
                self.stage_wall[si["Stage ID"]] = (
                    si["Completion Time"] - si["Submission Time"]) / 1e3
            acc = {}
            for a in si.get("Accumulables", []):
                with contextlib.suppress(TypeError, ValueError):
                    acc[int(a["ID"])] = float(a["Value"])
            self.stage_accums[si["Stage ID"]] = acc
        elif kind == "SparkListenerStageExecutorMetrics":
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory")
            if heap:
                self.peak_heap_mb = max(self.peak_heap_mb, heap / 2**20)
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            plans = self.sql_plans.setdefault(int(ev["executionId"]), set())
            _plan_metrics(ev["sparkPlanInfo"], plans)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in ev.get("accumUpdates", []):
                self.driver_accums[int(aid)] = \
                    self.driver_accums.get(int(aid), 0.0) + float(v)

    # -- queries -------------------------------------------------------
    def jobs_in(self, groups: set[str]) -> list[int]:
        return [j for j, d in self.jobs.items() if d["group"] in groups]

    def job_stats(self, job_ids: list[int]) -> dict:
        """Summed task metrics over the jobs, plus the skew of the
        longest stage (max over median task time)."""
        tasks, longest, longest_wall = [], None, -1.0
        for j in job_ids:
            for s in self.jobs[j]["stages"]:
                ts = self.tasks.get(s)
                if not ts:
                    continue  # skipped (already computed) stage
                tasks += ts
                w = self.stage_wall.get(s, 0.0)
                if w > longest_wall:
                    longest, longest_wall = s, w
        skew = 1.0
        if longest is not None:
            durs = [t["dur"] for t in self.tasks[longest]]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        return {
            "busy_s": sum(t["run"] for t in tasks),
            "gc_s": sum(t["gc"] for t in tasks),
            "shuffle_mb": sum(t["shuffle"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
            "fetch_wait_s": sum(t["fetch_wait"] for t in tasks),
            "sched_delay_s": sum(t["sched"] for t in tasks),
            "task_skew": skew,
        }

    def job_wall(self, job_ids: list[int]) -> float:
        return sum((self.jobs[j]["t1"] or self.jobs[j]["t0"])
                   - self.jobs[j]["t0"] for j in job_ids)

    def operator_rows(self, job_ids: list[int], node_prefix: str) -> float:
        """Summed 'number of output rows' of every SQL plan node whose
        name starts with `node_prefix`, over the SQL executions the jobs
        belong to."""
        execs = {int(self.jobs[j]["sql"]) for j in job_ids
                 if self.jobs[j]["sql"] is not None}
        ids = {aid for e in execs for name, aid in self.sql_plans.get(e, ())
               if name.startswith(node_prefix)}
        # a stage reports an accumulator's running total, so the largest
        # value seen is the operator's count
        vals = dict(self.driver_accums)
        for acc in self.stage_accums.values():
            for aid, v in acc.items():
                if aid in ids:
                    vals[aid] = max(vals.get(aid, 0.0), v)
        return sum(vals.get(a, 0.0) for a in ids)


def _plan_metrics(node: dict, out: set) -> None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            out.add((node["nodeName"], int(m["accumulatorId"])))
    for c in node.get("children", []):
        _plan_metrics(c, out)
