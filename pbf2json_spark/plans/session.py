"""SparkSession builder with the engine's scale-oriented defaults.

These configs encode the survey's §4 conclusions: let Catalyst + AQE do
the physical planning (runtime bloom-filter semi-join reduction, skew
join splitting, empty-relation propagation) and keep Python crossings
Arrow-batched.  On a real cluster the same settings apply; only
master/memory change (spark-submit provides them)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the pbf2json_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def build_session(app_name: str = "pbf2json-spark",
                  cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra: dict | None = None,
                  master: str | None = None,
                  profile: str | None = None) -> SparkSession:
    """`master` overrides the local[cores] default — used by the
    multi-JVM scaling legs (`local-cluster[N,cores,mem_mb]`: separate
    executor JVMs + real serialized shuffle over sockets, the closest
    this sandbox gets to a cluster; `cores` then just sizes shuffle
    partitions).  Under a local or local-cluster master, Python workers
    start from plans.pyworker; any other master keeps pyspark.daemon.

    ``profile='corpus'`` applies the hard-won settings for long,
    multi-round corpus jobs (knn_join at millions of rows, large dedup
    closures) that were previously buried in the BENCH leg runners
    (VERDICT r6 #4).  Each is overridable via env or `extra`:

    - ``spark.driver.memory`` from $SPARK_GRAFT_DRIVER_MEM (default
      48g in local mode, where the driver JVM hosts the executors):
      9.6M-point candidate-join tasks hit GCLocker retry walls on the
      8g default.
    - ``spark.cleaner.periodicGC.interval=1min``: shuffle files are
      deleted only when driver GC collects the dereferenced shuffle
      dependencies; a big heap's default 30-min cadence let ~50 GB of
      dead per-round shuffle files pile up during one 9.6M leg.  On a
      real cluster the same flag bounds executor scratch.
    - under a ``local-cluster`` master, ``spark.executor.memory`` from
      $SPARK_GRAFT_EXEC_MEM (default 22g): the master string's mem_mb
      slot is only the worker's advertised CAPACITY — executors still
      request spark.executor.memory (default 1g!) and OOM in
      spill-merge no matter what the master string says; the driver
      only coordinates, so it drops to
      $SPARK_GRAFT_CLUSTER_DRIVER_MEM (default 8g)."""
    # single-host/sandbox environments can stall for minutes resolving the
    # machine hostname; pin local loopback before the JVM launches (no-op
    # when the user already exported a real address for cluster mode)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # one BLAS thread per Python worker: N workers x default-N BLAS
    # threads oversubscribes quadratically (measured: 32-proc numpy
    # decode 2.7x SLOWER than 8-proc until pinned).  Parallelism belongs
    # to Spark tasks, not to nested BLAS pools.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = SparkSession.builder.appName(app_name)
    if master is None and cores is not None:
        master = f"local[{cores}]"
    if master is not None:
        b = b.master(master)
    if shuffle_partitions is None and cores is not None:
        shuffle_partitions = max(cores, 8)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    defaults = {
        # adaptive execution: runtime re-plan, skew-join splitting,
        # empty-relation propagation (replaces the reference's pass-2 skip)
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # start every exchange fine-grained and let AQE COALESCE down,
        # instead of capping granularity at spark.sql.shuffle.partitions:
        # with partitions == 2 x cores, one knn_join candidate-join
        # partition at 2.4M points held a hot-cell cluster whose join
        # OUTPUT (not input — input rows were even) ran 3.3x the median
        # task (event-log profile, BENCH/BASELINE.md r6), idling the
        # other cores for half the stage.  256 initial partitions give
        # AQE the granularity to spread hot cells and to merge the
        # small remainder to ~64 MB targets; gate-scale queries still
        # coalesce to a handful of tasks, so their floors are unchanged.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
        # ... and coalesce to 16 MB targets, not the 64 MB default: the
        # knn_join candidate-join stage at 2.4M coalesced to 20 tasks
        # with a 3.6x duration spread (6.9-25.1 s, event-log task
        # profile) — 20 uneven tasks pack 8 cores at ~65% and cap a
        # 32-core run at 20-way parallelism outright (the measured
        # 8->32 cliff).  16 MB quadruples the task count at corpus
        # scale so waves pack; gate-scale stages sit far below 16 MB
        # and still coalesce to a handful of tasks.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        # runtime bloom filters = the reference's bitmask semi-joins (§4)
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # Arrow everywhere Python is crossed
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Unix-domain sockets for the JVM<->Python worker channel: on this
        # sandbox's virtual NIC, TCP loopback throughput to 32 concurrent
        # workers is erratic (73-330 MB/s); UDS measured ~1.1 GB/s
        "spark.python.unix.domain.socket.enabled": "true",
        # broadcast threshold: dimension tables (polygons, queries) fly
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # trimTags can collide keys after whitespace strip; Go map insert
        # order is nondeterministic there, LAST_WIN is our deterministic pick
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        # generated-code cache, sized to hold a whole job's classes.  At
        # Spark's default of 100 entries (an LRU in 4 segments of 25) a
        # benchmark raster_osm job compiles 97 classes, and each later
        # job recompiled 43 of them (0.3-0.6 s of Janino plus their
        # JIT); at 1,000 it recompiles none.  A full cache costs ~26 KB
        # of heap and ~5 KB of metaspace per entry (1,800 small
        # compiles: +23 MB heap over a full 100-entry cache), small
        # against the 8g driver
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "8g",
    }
    if cores is not None:  # local mode: loopback binding avoids DNS stalls
        defaults.setdefault("spark.driver.bindAddress", "127.0.0.1")
        defaults.setdefault("spark.driver.host", "127.0.0.1")
    if master is not None and master.startswith(("local[", "local-cluster[")):
        # workers run on this host, so they can import the daemon from
        # the package's own directory (plans/pyworker.py)
        defaults["spark.python.daemon.module"] = "pbf2json_spark.plans.pyworker"
        defaults["spark.executorEnv.PYTHONPATH"] = _PACKAGE_PARENT
    if profile == "corpus":
        defaults["spark.cleaner.periodicGC.interval"] = "1min"
        if master is not None and master.startswith("local-cluster"):
            defaults["spark.executor.memory"] = os.environ.get(
                "SPARK_GRAFT_EXEC_MEM", "22g")
            defaults["spark.driver.memory"] = os.environ.get(
                "SPARK_GRAFT_CLUSTER_DRIVER_MEM", "8g")
        else:
            defaults["spark.driver.memory"] = os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "48g")
    elif profile is not None:
        raise ValueError(f"unknown session profile {profile!r} "
                         f"(available: 'corpus')")
    if extra:
        defaults.update(extra)
    for k, v in defaults.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark


def plan_bytes(df) -> int:
    """Catalyst's size estimate of `df`'s optimized plan, in bytes.  It
    reads a private JVM API (`_jdf.queryExecution()`) with no fallback:
    if a Spark upgrade breaks it, callers fail loudly instead of
    silently skipping the work the estimate sizes."""
    return int(df._jdf.queryExecution().optimizedPlan()
               .stats().sizeInBytes())


class Intermediates:
    """The owner of what one operator call stores:

        with Intermediates() as held:
            base = held.persist(...)
            step = held.checkpoint(...)
            return held.result(out)

    It records each frame the call persists and the RDD of each
    localCheckpoint it makes, read from the checkpoint's plan (a
    `LogicalRDD`; the same private JVM API as plan_bytes), and on
    leaving the block, by return or by any exception, releases exactly
    those: a persist by `unpersist` (which also drops its SQL cache
    entry), a checkpoint by unpersisting its RDD.  The Dataset API has
    no unpersist for a localCheckpoint, whose blocks otherwise wait on
    driver GC.  Nothing else is released, whichever thread made it.
    `result` checkpoints the call's output eagerly only when something
    is still held (its plan may read those blocks); the output's own
    blocks are the caller's, freed by the ContextCleaner once dropped.
    `release` retires one frame early (a loop's previous round)."""

    def __init__(self):
        self._held = []             # (frame, its release callable)

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> bool:
        while self._held:
            self._held.pop()[1]()
        return False

    def persist(self, df):
        df = df.persist()
        self._held.append((df, df.unpersist))
        return df

    def checkpoint(self, df, eager: bool = False):
        df = df.localCheckpoint(eager=eager)
        rdd = df._jdf.queryExecution().logical().rdd()
        self._held.append((df, lambda: rdd.unpersist(False)))
        return df

    def release(self, df) -> None:
        for n, (frame, free) in enumerate(self._held):
            if frame is df:
                del self._held[n]
                free()
                return
        raise ValueError("release: frame is not held by this call")

    def result(self, df):
        return df.localCheckpoint(eager=True) if self._held else df


def warm_python_workers(spark: SparkSession, parallelism: int | None = None) -> None:
    """Start the Python worker daemon and fork one worker per task slot.

    The FIRST job that crosses into Python starts the daemon and forks
    its workers; on sandboxed filesystems that import storm is
    dominated by kernel time (observed: ~25 s at 96% sys for 32 slots)
    and would land inside whatever query runs first.  One mapInPandas
    pass over 2 x `parallelism` tasks moves it to session setup;
    workers are reused afterwards (spark.python.worker.reuse).  Every
    eval type shares the one daemon and pool, so one pass warms all.

    In a running JVM, on a 4-core host, the pass takes ~1.0 s under
    plans.pyworker (the daemon build_session selects for local
    masters), down from 1.6-2.2 s under the stock daemon, which
    compiles PySpark from pyspark.zip.  Per-task dispatch afterwards is
    ~0.06 s (0.24 s stock; see operators.spatial._python_stage_parts).
    The Python-list path — createDataFrame(<list>), a plain Python RDD
    — is NOT warmed here, so the engine builds driver-side tables from
    pandas through Arrow (a JVM LocalRelation whose scan starts no
    Python worker)."""
    import pandas as pd  # noqa: F401

    n = parallelism or spark.sparkContext.defaultParallelism

    def _id_map(batches):
        for pdf in batches:
            yield pdf

    spark.range(n * 2, numPartitions=n * 2).mapInPandas(
        _id_map, "id long").count()


def fresh_pandas_udf(return_type):
    """``@F.pandas_udf(return_type)`` for module-level functions, built
    afresh at each call.  A pandas_udf object binds its JVM function at
    first use, and with it that SparkContext's Python accumulator.  Used
    again under a later SparkContext in the same process (a stopped and
    rebuilt session), every task of it then logs ``Failed to update
    accumulator ... Broken pipe``: the driver merges the task's
    accumulator update into the stopped context's accumulator server.
    The plain function stays reachable as ``.func``."""
    from pyspark.sql import functions as F

    def wrap(fn):
        def build(*cols):
            return F.pandas_udf(fn, return_type)(*cols)
        build.func = fn
        return build
    return wrap


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the local-mode equivalent of
    ``spark-submit --py-files pbf2json_spark.zip``).  Without it, pandas
    UDF closures referencing the package fail to unpickle on workers
    whose PYTHONPATH doesn't include the repo."""
    import zipfile

    from py4j.protocol import Py4JError

    # spark-submit --py-files already distributed the package?  Adding
    # a second zip with the same name makes executors fail with
    # "exists and does not match contents" — skip instead.
    try:
        existing = spark.sparkContext._jsc.sc().listFiles()
        for i in range(existing.size()):
            if "pbf2json_spark.zip" in str(existing.apply(i)):
                return
    except Py4JError:  # a JVM SparkContext without listFiles()
        pass

    pkg_dir = os.path.join(_PACKAGE_PARENT, "pbf2json_spark")
    zip_path = os.path.join(spark.sparkContext._temp_dir, "pbf2json_spark.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, _PACKAGE_PARENT)
                        zf.write(full, rel)
        spark.sparkContext.addPyFile(zip_path)
