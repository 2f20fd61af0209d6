"""TableIO manifests, idempotent stage resume, and streaming ingest."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from pbf2json_spark.plans.checkpoint import CheckpointRunner, content_key
from pbf2json_spark.sources.tableio import TableIO


def test_tableio_roundtrip_and_lineage(spark, tmp_path):
    io = TableIO(str(tmp_path / "tables"))
    df = spark.range(1000).withColumn("x", F.col("id") * 2).repartition(4)
    m = io.write(df, "t1", content_key="k1")
    assert m["rows"] == 1000
    assert m["partitions"] == 4
    assert sum(m["partition_rows"].values()) == 1000
    back = io.read(spark, "t1")
    assert back.count() == 1000
    assert set(back.columns) == {"id", "x"}
    assert io.manifest("t1")["content_key"] == "k1"


def test_tableio_iceberg_probe_narrow(spark, tmp_path, monkeypatch):
    """A catalog that does not exist probes False (an AnalysisException);
    any other failure of the probe propagates instead of silently
    selecting the parquet backend."""
    io = TableIO(str(tmp_path / "tables"), catalog="nocat")
    assert io._iceberg_available(spark) is False

    def broken_sql(*_a, **_kw):
        raise RuntimeError("gateway down")
    monkeypatch.setattr(spark, "sql", broken_sql)
    with pytest.raises(RuntimeError, match="gateway down"):
        io._iceberg_available(spark)


def test_checkpoint_resume_skips_unchanged_stage(spark, tmp_path):
    io = TableIO(str(tmp_path / "ck"))
    runner = CheckpointRunner(spark, io)
    calls = []

    def compute():
        calls.append(1)
        return spark.range(100).withColumn("y", F.col("id") + 1)

    df1, k1 = runner.stage("s1", {"p": 1}, [], compute)
    assert df1.count() == 100 and calls == [1]
    assert runner.metrics["s1"]["resumed"] is False

    runner2 = CheckpointRunner(spark, io)
    df2, k2 = runner2.stage("s1", {"p": 1}, [], compute)
    assert df2.count() == 100 and calls == [1]  # NOT recomputed
    assert k1 == k2
    assert runner2.metrics["s1"]["resumed"] is True

    # config change -> recompute
    df3, k3 = runner2.stage("s1", {"p": 2}, [], compute)
    assert calls == [1, 1] and k3 != k1


def test_content_key_sensitivity():
    a = content_key("s", {"x": 1}, ["u1"])
    assert a == content_key("s", {"x": 1}, ["u1"])
    assert a != content_key("s", {"x": 2}, ["u1"])
    assert a != content_key("s", {"x": 1}, ["u2"])
    assert a != content_key("t", {"x": 1}, ["u1"])


def test_streaming_ingest_available_now(spark, tmp_path):
    from pbf2json_spark.sources.synth import spark_schemas
    from pbf2json_spark.streaming.ingest import (images_from_seq_stream,
                                                 ingest_images)
    # deterministic bounded stream: a parquet dir of seq values read as
    # a file stream (one micro-batch per file with maxFilesPerTrigger)
    seq_dir = str(tmp_path / "seqs")
    spark.range(0, 96).coalesce(2).write.parquet(seq_dir)
    seq_stream = (spark.readStream.schema("id long")
                  .option("maxFilesPerTrigger", 1).parquet(seq_dir))
    stream = images_from_seq_stream(seq_stream)
    assert stream.isStreaming
    assert stream.schema == spark_schemas()["images"]

    out = str(tmp_path / "ingest")
    ck = str(tmp_path / "ck_stream")
    q = ingest_images(stream, out, ck)
    q.awaitTermination(180)
    metrics = [json.loads(l) for l in
               open(os.path.join(out, "_stream_metrics.jsonl"))]
    total = sum(m["rows"] for m in metrics)
    assert total == 96
    assert len(metrics) >= 2  # multiple micro-batches
    epochs = [d for d in os.listdir(out) if d.startswith("epoch=")]
    df = spark.read.parquet(*[os.path.join(out, e) for e in epochs])
    assert df.count() == 96
    assert {"image_id", "bytes", "lat", "lon", "cell_r9", "cell_r12"} <= set(df.columns)

    # exactly-once on restart: re-running with the same checkpoint adds
    # nothing (all offsets consumed)
    q2 = ingest_images(images_from_seq_stream(
        spark.readStream.schema("id long")
             .option("maxFilesPerTrigger", 1).parquet(seq_dir)), out, ck)
    q2.awaitTermination(120)
    metrics2 = [json.loads(l) for l in
                open(os.path.join(out, "_stream_metrics.jsonl"))]
    assert sum(m["rows"] for m in metrics2) == 96


def test_windowed_cell_counts_batch_semantics(spark):
    """Check the windowed agg logic on a bounded frame (streaming-
    compatible expression)."""
    from pbf2json_spark.streaming.ingest import windowed_cell_counts
    rows = [("2026-01-01 00:00:10", 1), ("2026-01-01 00:00:50", 1),
            ("2026-01-01 00:01:10", 2)]
    df = spark.createDataFrame(rows, "ts_s string, cell long") \
              .select(F.to_timestamp("ts_s").alias("ts"), "cell")
    out = {(r.win_start.minute, r.cell): r.n
           for r in windowed_cell_counts(df).collect()}
    assert out == {(0, 1): 2, (1, 2): 1}


def test_tableio_partitioned_write_prunes_at_scan(spark, tmp_path):
    """Cell-locality layout (north rule: 'Iceberg table partitioned for
    cell locality'): a TableIO write partitioned by a coarse cell column
    must let a cell-filtered read prune partitions AT THE SCAN (the plan
    carries the predicate as a PartitionFilter, not a post-scan filter),
    and lineage/manifest survive the partitioned layout."""
    import io as _io
    import re
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    tio = TableIO(str(tmp_path / "tables"))
    df = spark.range(0, 2000).select(
        F.col("id"),
        (F.col("id") % 8).alias("coarse_cell"),
        (F.col("id") * 2.0).alias("v"))
    man = tio.write(df, "pts", content_key="k1",
                    partition_by=["coarse_cell"])
    assert man["rows"] == 2000 and man["partition_rows"]

    rd = tio.read(spark, "pts").filter(F.col("coarse_cell") == 3)
    buf = _io.StringIO()
    with redirect_stdout(buf):
        rd.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "coarse_cell" in m.group(1), plan[:2000]
    assert rd.count() == 250


def test_tableio_partitioned_lineage_counts_every_file(spark, tmp_path):
    """Partitioned lineage keys each written file by its path relative
    to the table directory: same-named part files of different partition
    directories stay apart, so `partitions` equals the parquet files on
    disk and `rows` still sums."""
    tio = TableIO(str(tmp_path / "tables"))
    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 8).alias("coarse_cell"))
    man = tio.write(df, "pts", content_key="k1",
                    partition_by=["coarse_cell"])
    root = tmp_path / "tables" / "pts"
    files = {str(p.relative_to(root)) for p in root.rglob("*.parquet")}
    assert man["partitions"] == len(files) == len(man["partition_rows"])
    assert set(man["partition_rows"]) == files
    assert man["rows"] == sum(man["partition_rows"].values()) == 2000


def test_tableio_write_and_resume_run_no_extra_jobs(spark, tmp_path):
    """The parquet-dir write runs only the data write's own jobs (lineage
    comes from the parquet footers, the schema from the writer), and a
    stage's read-back applies the manifest schema: no schema-inference
    job before the caller's own action."""
    tracker = spark.sparkContext.statusTracker()

    def jobs(group, fn):
        spark.sparkContext.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(group))

    df = spark.range(1000).withColumn("x", F.col("id") * 2)
    _, plain = jobs("plain", lambda: df.write.parquet(str(tmp_path / "p")))
    io = TableIO(str(tmp_path / "ck"))
    runner = CheckpointRunner(spark, io)
    (back, _), staged = jobs("stage", lambda: runner.stage(
        "s", {}, [], lambda: df))
    assert staged == plain
    (back2, _), resumed = jobs("resume", lambda: CheckpointRunner(
        spark, io).stage("s", {}, [], lambda: df))
    assert resumed == 0 and runner.metrics["s"]["resumed"] is False
    assert back.schema == back2.schema
    assert back.schema.jsonValue() == io.manifest("s")["schema"]
    assert back2.count() == 1000


def test_streaming_first_seen_dedup_across_batches(spark, tmp_path):
    """Stateful streaming dedup: keys first seen in batch 1 are
    suppressed in batch 2 (state survives via the streaming
    checkpoint), new keys still emit."""
    import json as _json

    from pbf2json_spark.streaming.ingest import streaming_first_seen

    src = tmp_path / "src"
    out = tmp_path / "out"
    ck = str(tmp_path / "ck")
    src.mkdir()
    out.mkdir()

    def run_batch(filename, rows):
        with open(src / filename, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        stream = (spark.readStream
                  .schema("doc_id string, text_md5 string")
                  .json(str(src)))
        dedup = streaming_first_seen(stream, "text_md5", "doc_id")

        def sink(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(str(out / "data"))

        q = (dedup.writeStream.foreachBatch(sink)
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_batch("b1.json", [
        {"doc_id": "d1", "text_md5": "A"},
        {"doc_id": "d2", "text_md5": "B"},
        {"doc_id": "d3", "text_md5": "A"},   # in-batch dup
    ])
    rows1 = {r.text_md5: (r.rep_doc_id, r.n_in_batch)
             for r in spark.read.parquet(str(out / "data")).collect()}
    assert set(rows1) == {"A", "B"}
    assert rows1["A"][1] == 2               # both A rows counted

    run_batch("b2.json", [
        {"doc_id": "d4", "text_md5": "A"},   # cross-batch dup: suppressed
        {"doc_id": "d5", "text_md5": "C"},   # new key: emitted
    ])
    rows2 = {r.text_md5 for r in
             spark.read.parquet(str(out / "data")).collect()}
    assert rows2 == {"A", "B", "C"}
    n_rows = spark.read.parquet(str(out / "data")).count()
    assert n_rows == 3                       # A was NOT re-emitted
