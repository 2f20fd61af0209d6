"""TableIO — the storage seam (SURVEY.md §7).

The north rule stores tables in Iceberg; this container has no Iceberg
runtime jar, so TableIO abstracts the two backends behind one surface:

- ``iceberg`` backend when a Spark catalog with Iceberg support is
  configured (probed at runtime, used transparently on a real cluster);
- ``parquet-dir`` fallback with an identical logical layout plus a
  ``_manifest.json`` carrying what Iceberg's snapshot metadata would:
  schema, row count, per-partition lineage (written file -> row count)
  and the content key used for idempotent stage resume.

Every write records per-partition row counts — the "per-partition
lineage + metrics" the north rule requires each stage to checkpoint.
The parquet-dir backend reads them from the written files' parquet
footers, keyed by path relative to the table directory (the file name
when unpartitioned): no internal column, no re-scan job.  Its manifest
records the schema a reader sees, and ``read`` applies it, so neither
the write nor the read-back infers a schema from the files.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class TableIO:
    def __init__(self, root: str, catalog: str | None = None):
        self.root = root
        self.catalog = catalog  # Iceberg catalog name when available
        os.makedirs(root, exist_ok=True)

    # -- backend probe ----------------------------------------------------
    def _iceberg_available(self, spark: SparkSession) -> bool:
        if not self.catalog:
            return False
        try:
            spark.sql(f"SHOW NAMESPACES IN {self.catalog}")
            return True
        except AnalysisException:  # e.g. [SCHEMA_NOT_FOUND]: no such catalog
            return False

    # -- paths ------------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._path(name), "_manifest.json")

    def _sidecar_path(self, name: str) -> str:
        """Manifest location for the Iceberg backend: a sidecar JSON
        keyed by table name (the same content also lands in the table's
        TBLPROPERTIES so cluster-side readers without this filesystem
        can recover it)."""
        return os.path.join(self.root, f"{name}.__iceberg_manifest__.json")

    # -- public API ---------------------------------------------------------
    def exists(self, name: str) -> bool:
        return (os.path.exists(self._manifest_path(name))
                or os.path.exists(self._sidecar_path(name)))

    def manifest(self, name: str) -> dict:
        for p in (self._manifest_path(name), self._sidecar_path(name)):
            if os.path.exists(p):
                with open(p) as f:
                    return json.load(f)
        raise FileNotFoundError(f"no manifest for table {name!r}")

    def _lineage(self, out: DataFrame) -> dict:
        """Iceberg: per-file row counts of the materialized table, keyed
        by file basename, from input_file_name() at read time."""
        fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
        rows = (out.groupBy(fname.alias("_file")).count().collect())
        lineage = {str(r["_file"]): r["count"] for r in rows}
        if list(lineage) == [""]:   # reader exposes no file names
            rows = (out.groupBy(F.spark_partition_id().alias("_p"))
                    .count().collect())
            lineage = {str(r["_p"]): r["count"] for r in rows}
        return lineage

    @staticmethod
    def _footer_lineage(path: str) -> dict:
        """parquet-dir: rows per non-empty written file, from its footer,
        keyed by its path relative to the table directory."""
        import pyarrow.parquet as pq
        files = glob.glob(os.path.join(path, "**", "*.parquet"),
                          recursive=True)
        rows = {os.path.relpath(f, path): pq.read_metadata(f).num_rows
                for f in sorted(files)}
        return {f: n for f, n in rows.items() if n}

    def write(self, df: DataFrame, name: str, content_key: str = "",
              partition_by: list[str] | None = None) -> dict:
        """Write a table + manifest (atomic via tmp-dir rename).  Returns
        the manifest (incl. per-partition lineage).  Both backends
        persist content_key + per-partition lineage, so CheckpointRunner
        resumes identically whichever storage is active."""
        spark = df.sparkSession
        iceberg = self._iceberg_available(spark)
        if iceberg:
            full = f"{self.catalog}.{name}"
            w = df.writeTo(full)
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            out = spark.read.table(full)
            lineage, schema = self._lineage(out), out.schema
        else:
            path = self._path(name)
            tmp = path + ".__tmp__"
            shutil.rmtree(tmp, ignore_errors=True)
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(tmp)
            lineage = self._footer_lineage(tmp)
            # the read-back schema (data columns nullable, partition
            # columns typed from the directory names): given the data
            # columns, Spark lists the files but runs no inference job
            data = T.StructType([f for f in df.schema.fields
                                 if f.name not in (partition_by or ())])
            schema = spark.read.schema(data).parquet(tmp).schema
        manifest = {
            "backend": "iceberg" if iceberg else "parquet-dir",
            "name": name,
            "content_key": content_key,
            "rows": sum(lineage.values()),
            "partitions": len(lineage),
            "partition_rows": lineage,
            "schema": schema.jsonValue(),
            "written_at": time.time(),
        }
        if iceberg:
            manifest["table"] = full
            blob = json.dumps(manifest).replace("'", "''")
            try:
                spark.sql(f"ALTER TABLE {full} SET TBLPROPERTIES "
                          f"('pbf2json.manifest' = '{blob}')")
            except AnalysisException:
                pass  # property support varies by catalog; sidecar rules
            tmp = self._sidecar_path(name) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.rename(tmp, self._sidecar_path(name))
        else:
            with open(os.path.join(tmp, "_manifest.json"), "w") as f:
                json.dump(manifest, f)
            shutil.rmtree(path, ignore_errors=True)
            os.rename(tmp, path)
        return manifest

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if self._iceberg_available(spark):
            return spark.read.table(f"{self.catalog}.{name}")
        schema = T.StructType.fromJson(self.manifest(name)["schema"])
        return spark.read.schema(schema).parquet(self._path(name))
