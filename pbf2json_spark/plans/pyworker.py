"""Python worker daemon for local sessions: PySpark's stock daemon,
started warm.

`build_session` selects this module (``spark.python.daemon.module``)
for ``local[...]`` and ``local-cluster[...]`` masters only; every other
master keeps ``pyspark.daemon``.  Before it imports PySpark it changes
two things, then hands over to ``pyspark.daemon.manager()``:

1. **PySpark from bytecode.**  Spark puts ``$SPARK_HOME/python/lib/
   pyspark.zip`` first on the worker's path.  The zip holds no ``.pyc``
   files, so every daemon compiles PySpark afresh: ``import
   pyspark.daemon`` took 1.29 s from the zip and 0.34 s from the
   installed package (PySpark 4.1.2, 4-core host).  When an installed
   ``pyspark`` further down the path has the same ``version.py`` as the
   zip, the zip is dropped from the path; any difference keeps it.
2. **Zip directories stay cached.**  Each task calls
   ``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``),
   and each zipimporter then re-reads its whole archive directory
   (pyspark.zip's, py4j's, the spark-core jar's): 0.15-0.25 s per task.
   The replacement below is the stdlib routine minus the zipimporter
   call; with it a task's whole dispatch cost is ~0.06 s.  The archives
   do not change during a session, and a zip shipped later with
   ``addPyFile`` is a new path entry with no cached importer.  Relative
   and ``None`` entries are still dropped, the namespace-path epoch
   still moves and every other finder is still invalidated.

Re-verify this module on any PySpark or Python upgrade: what
``zipimporter.invalidate_caches`` does (in Python 3.11, an eager
re-read into ``_files``) differs across Python versions, and the
daemon's argv (the worker module name) and the ``manager()`` entry
point are PySpark internals."""

import importlib
import os
import sys
import zipimport
from importlib import _bootstrap_external
from importlib.machinery import PathFinder


def _drop_pyspark_zip() -> None:
    zips = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return
    below = sys.path[sys.path.index(zips[0]):]
    spec = PathFinder.find_spec("pyspark", [p for p in below if p not in zips])
    if spec is None or not spec.origin:
        return
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"),
                  "rb") as f:
            same = f.read() == zipimport.zipimporter(zips[0]).get_data(
                "pyspark/version.py")
    except OSError:  # no version.py on one side: keep the zip
        return
    if same:
        sys.path[:] = [p for p in sys.path if p not in zips]


def _invalidate_caches() -> None:
    for finder in sys.meta_path:
        if finder is not PathFinder:
            if hasattr(finder, "invalidate_caches"):
                finder.invalidate_caches()
            continue
        for name, entry in list(sys.path_importer_cache.items()):
            if entry is None or not os.path.isabs(name):
                del sys.path_importer_cache[name]
            elif (not isinstance(entry, zipimport.zipimporter)
                  and hasattr(entry, "invalidate_caches")):
                entry.invalidate_caches()
        _bootstrap_external._NamespacePath._epoch += 1


if __name__ == "__main__":
    _drop_pyspark_zip()
    importlib.invalidate_caches = _invalidate_caches
    from pyspark import daemon
    daemon.manager()
