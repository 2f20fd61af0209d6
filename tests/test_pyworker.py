"""The engine's Python worker daemon (plans/pyworker.py): workers import
PySpark from the installed package's bytecode, keep their zip
directories cached across tasks, and still see modules shipped later
with addPyFile.  Each test says whether it also passes under PySpark's
stock daemon."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pyspark
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pbf2json_spark.plans import session as ps

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "pbf2json_spark.plans.pyworker"


def _facts(spark, tasks):
    """One row per task: the worker's pid, where it imported pyspark
    from, and id(_files) of every zipimporter it holds."""
    def worker_facts(batches):
        import zipimport

        import pyspark as worker_pyspark
        for _ in batches:
            yield pd.DataFrame({
                "pid": [os.getpid()],
                "pyspark_file": [worker_pyspark.__file__],
                "zip_files": [{
                    imp.archive: id(imp._files)
                    for imp in list(sys.path_importer_cache.values())
                    if isinstance(imp, zipimport.zipimporter)}]})

    return spark.range(tasks, numPartitions=tasks).mapInPandas(
        worker_facts, "pid long, pyspark_file string, "
                      "zip_files map<string, long>").collect()


def test_module_shipped_after_warm_imports_in_task(spark, tmp_path):
    """A .zip and a .py shipped with addPyFile after the workers are
    warm both import inside a task: the zip is a new sys.path entry and
    the .py lands in the files directory, whose finder is still
    invalidated.  Passes under the stock daemon too."""
    ps.warm_python_workers(spark)
    name = f"late_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    zpath = tmp_path / f"{name}_z.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{name}_z.py", "VALUE = 7\n")
    (tmp_path / f"{name}_p.py").write_text("VALUE = 5\n")
    spark.sparkContext.addPyFile(str(zpath))
    spark.sparkContext.addPyFile(str(tmp_path / f"{name}_p.py"))

    @F.pandas_udf(T.LongType())
    def shipped(s: pd.Series) -> pd.Series:
        import importlib
        z = importlib.import_module(f"{name}_z")
        p = importlib.import_module(f"{name}_p")
        return s * 0 + z.VALUE * 10 + p.VALUE

    got = spark.range(8, numPartitions=8).select(shipped("id").alias("v"))
    assert {r.v for r in got.collect()} == {75}


def test_zip_directories_stay_cached_across_tasks(spark):
    """A worker that runs several tasks keeps the same directory cache
    (`_files`) in every zipimporter it holds (the py4j zip and the
    spark-core jar).  Fails under the stock daemon, whose per-task
    importlib.invalidate_caches() re-reads every zip directory."""
    ps.warm_python_workers(spark)
    by_pid: dict = {}
    for r in _facts(spark, 32):
        by_pid.setdefault(r.pid, []).append(r.zip_files)
    reused = {pid: runs for pid, runs in by_pid.items() if len(runs) > 1}
    assert reused, "no worker ran two tasks"
    for pid, runs in reused.items():
        archives = set.intersection(*(set(m) for m in runs))
        assert any(a.endswith(".jar") for a in archives), archives
        for a in archives:
            assert len({m[a] for m in runs}) == 1, (pid, a)


def test_workers_import_pyspark_from_installed_package(spark, tmp_path):
    """When the installed pyspark's version.py equals pyspark.zip's,
    workers import the installed package.  With a pyspark of another
    version between the zip and the installed package, the version
    check fails: workers keep the zip and pandas UDFs still run.  The
    first half fails under the stock daemon."""
    files = {r.pyspark_file for r in _facts(spark, 8)}
    assert files == {pyspark.__file__}

    fake = tmp_path / "pyspark"
    fake.mkdir()
    (fake / "__init__.py").write_text("")
    (fake / "version.py").write_text('__version__: str = "0.0.0"\n')
    env = spark.sparkContext.environment
    saved = env.get("PYTHONPATH")
    # a new worker environment starts a second daemon with this path
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [saved, str(tmp_path)]))
    try:
        files = {r.pyspark_file for r in _facts(spark, 4)}

        @F.pandas_udf(T.LongType())
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        got = spark.range(4, numPartitions=2).select(plus_one("id").alias("v"))
        values = sorted(r.v for r in got.collect())
    finally:
        if saved is None:
            env.pop("PYTHONPATH")
        else:
            env["PYTHONPATH"] = saved
    assert len(files) == 1
    assert files.pop().endswith(os.path.join("pyspark.zip", "pyspark",
                                             "__init__.py"))
    assert values == [1, 2, 3, 4]


@pytest.mark.parametrize("installed, dropped", [
    ('__version__: str = "4.1.2"\n', True),
    ('__version__: str = "4.1.3"\n', False),
    (None, False),          # an installed pyspark without version.py
])
def test_pyspark_zip_dropped_only_for_the_same_version(
        monkeypatch, tmp_path, installed, dropped):
    """The daemon's path rule, run in-process on a fake layout:
    pyspark.zip leaves sys.path only when the pyspark below it has the
    same version.py.  Fails under the stock daemon (no such rule)."""
    from pbf2json_spark.plans import pyworker

    zpath = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", '__version__: str = "4.1.2"\n')
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    if installed is not None:
        (site / "pyspark" / "version.py").write_text(installed)
    path = [str(tmp_path / "cwd"), str(zpath), str(site)]
    monkeypatch.setattr(sys, "path", list(path))
    pyworker._drop_pyspark_zip()
    assert sys.path == ([p for p in path if p != str(zpath)] if dropped
                        else path)


class _Built(Exception):
    pass


def _built_conf(monkeypatch, **kw) -> dict:
    """The options build_session hands to getOrCreate(), without
    starting a session."""
    def capture(builder):
        raise _Built(dict(builder._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(_Built) as built:
        ps.build_session(**kw)
    return built.value.args[0]


@pytest.mark.parametrize("kw", [{"cores": 2},
                                {"master": "local[3]"},
                                {"master": "local-cluster[2,1,1024]"}])
def test_local_masters_select_the_daemon(monkeypatch, kw):
    """Fails under the stock daemon."""
    conf = _built_conf(monkeypatch, **kw)
    assert conf["spark.python.daemon.module"] == DAEMON
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO


@pytest.mark.parametrize("kw", [{"master": "spark://10.0.0.1:7077"},
                                {"master": "yarn"}, {}])
def test_other_masters_keep_the_stock_daemon(monkeypatch, kw):
    """A cluster master (or none, left to spark-submit) keeps
    pyspark.daemon and the executors' own PYTHONPATH.  Passes under the
    stock daemon too."""
    conf = _built_conf(monkeypatch, **kw)
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf


def test_session_built_outside_the_repo_starts_the_daemon(tmp_path):
    """A driver whose cwd is not the package's parent still starts the
    daemon: the executor PYTHONPATH, not the cwd, makes it importable.
    Fails under the stock daemon."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pbf2json_spark.plans.session import build_session

        def main_module(batches):
            import pandas as pd
            for _ in batches:
                yield pd.DataFrame(
                    {{"m": [sys.modules["__main__"].__spec__.name]}})

        spark = build_session(cores=1)
        rows = spark.range(2, numPartitions=2).mapInPandas(
            main_module, "m string").collect()
        print("MAIN", sorted({{r.m for r in rows}}))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY")}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert f"MAIN ['{DAEMON}']" in out.stdout, out.stderr[-3000:]


def test_engine_udfs_survive_a_session_restart(tmp_path):
    """The engine's module-level pandas UDFs (relation truncation,
    fused shingles, simhash votes) bind no SparkContext: a second
    session in the same process runs them without the driver logging
    `Failed to update accumulator ... Broken pipe`, the merge into the
    stopped session's accumulator server.  Fails while these UDFs are
    module-level pandas_udf objects, which keep the first session's
    accumulator."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from pbf2json_spark.operators import dedup, denormalize
        from pbf2json_spark.plans.session import build_session

        for _ in range(2):
            spark = build_session(cores=2)
            spark.sparkContext.setLogLevel("ERROR")
            docs = spark.createDataFrame(pd.DataFrame(
                {{"doc_id": [0, 1], "text": ["a b c d", "a b c e"],
                  "x": [1.123456789, -2.5]}}))
            got = docs.select(
                denormalize._truncate_array_udf(F.array("x")),
                dedup._shingle_mh(dedup._tokens())).collect()
            print("ROWS", got,
                  dedup.simhash_signatures(docs).collect(), flush=True)
            spark.stop()
    """)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY")}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    rows = [line for line in out.stdout.splitlines() if line.startswith("ROWS")]
    assert len(rows) == 2 and rows[0] == rows[1], out.stderr[-3000:]
    assert "Failed to update accumulator" not in out.stderr
