#!/usr/bin/env python3
"""Round-7 phase profiler: isolate where tile_assignment and
q_minhash_lsh spend their time (guide §1.1/§1.4 — noop-sink isolation,
labelled jobs).  Not part of the frozen bench surface.

Usage:
    python BENCH/profile_r7.py tile      # tile_assignment phase split
    python BENCH/profile_r7.py minhash   # q_minhash_lsh phase split
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pbf2json_spark.plans.session import build_session, warm_python_workers

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
IMG_PATH = os.environ.get(
    "SPARK_GRAFT_IMG_PATH", "/tmp/bench_images_300000_64x128x256")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, reps=2):
    best = float("inf")
    for _ in range(reps):
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    print(f"{name:40s} {best:8.3f} s", flush=True)
    spark.sparkContext.setJobDescription(None)
    return best


def profile_tile(spark):
    from pbf2json_spark.operators.spatial import (
        _list_parquet_files, tile_assignment_direct)
    from pbf2json_spark.functions import imagecodec as ic
    from pbf2json_spark.functions import cellindex as cx

    files = [path for path, _ in _list_parquet_files(IMG_PATH)]
    n_parts = min(len(files), 2 * spark.sparkContext.defaultParallelism)
    files_df = spark.createDataFrame([(f,) for f in files], "path string") \
                    .repartition(n_parts)

    def mk(phase):
        def gen(batches):
            import pyarrow.parquet as pq
            for pdf in batches:
                for path in pdf["path"]:
                    pf = pq.ParquetFile(path)
                    for rb in pf.iter_batches(
                            columns=["image_id", "bytes", "phash"],
                            batch_size=4096):
                        if phase == "read":
                            import pyarrow.compute as pc
                            yield pd.DataFrame(
                                {"n": [int(pc.sum(
                                    pc.binary_length(rb["bytes"])).as_py())]})
                            continue
                        sub = rb.to_pandas()
                        if phase == "topandas":
                            yield pd.DataFrame(
                                {"n": [int(sub["bytes"].str.len().sum())]})
                            continue
                        tot = 0
                        for b in sub["bytes"]:
                            px = ic.decode_image(bytes(b))
                            if phase == "decode":
                                tot += int(px[0, 0, 0])
                                continue
                            vals, bh, bw = ic.block_means(px, 4)
                            tot += int(vals[0])
                        yield pd.DataFrame({"n": [tot]})
        return gen

    for phase in ("read", "topandas", "decode", "blockmeans"):
        timed(spark, f"tile/{phase}",
              lambda p=phase: noop(files_df.mapInPandas(mk(p), "n long")))
    timed(spark, "tile/full", lambda: noop(
        tile_assignment_direct(spark, IMG_PATH, grid=4, res=12)))
    timed(spark, "tile/full_count", lambda: tile_assignment_direct(
        spark, IMG_PATH, grid=4, res=12).count())


def profile_minhash(spark):
    from pbf2json_spark.operators import dedup as dd

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs = docs.localCheckpoint(eager=True)  # isolate from scan

    timed(spark, "mh/scan_only", lambda: noop(docs.select("doc_id", "text")))
    timed(spark, "mh/tokens", lambda: noop(
        docs.select(dd._tokens().alias("t"))))
    timed(spark, "mh/shingles", lambda: noop(
        docs.select(dd._shingles().alias("sh"))))
    timed(spark, "mh/shingle_hashes", lambda: noop(
        docs.select(dd._shingle_hashes().alias("shh"))))
    timed(spark, "mh/signatures(16 transforms)", lambda: noop(
        dd.minhash_signatures(docs)))

    # full operator with phase counters
    def full():
        out = dd.minhash_lsh_pairs(docs, tau=0.2)
        n = out.count()
        return n
    timed(spark, "mh/full", full, reps=2)

    # phase split inside the operator (replicated pipeline)
    keyed = docs.select(F.md5("text").alias("tkey"), "doc_id")
    reps = keyed.groupBy("tkey").agg(F.min("doc_id").alias("rep_id"))
    rep_docs = docs.join(
        reps.select(F.col("rep_id").alias("doc_id")), "doc_id", "leftsemi")
    base = rep_docs.select("doc_id", dd._shingles().alias("sh")).persist()
    timed(spark, "mh/base_persist_count", lambda: base.count(), reps=1)
    sig = base.select(
        "doc_id", dd._shingle_hashes_from(F.col("sh")).alias("shh")
    ).select("doc_id", *dd._minhash_cols("shh"))
    timed(spark, "mh/sig_from_persisted_base", lambda: noop(sig))
    banded = dd._band_rows(sig)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    timed(spark, "mh/cand_join", lambda: noop(cand))
    cand_m = cand.persist()
    print("cand rows:", cand_m.count(), flush=True)
    j = (cand_m
         .join(base.select(F.col("doc_id").alias("doc_a"),
                           F.col("sh").alias("sh_a")), "doc_a")
         .join(base.select(F.col("doc_id").alias("doc_b"),
                           F.col("sh").alias("sh_b")), "doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    rep_pairs = (j.select("doc_a", "doc_b",
                          F.round(inter / union, 9).alias("jaccard"))
                  .filter(F.col("jaccard") >= 0.2))
    timed(spark, "mh/verify_join", lambda: noop(rep_pairs))
    base.unpersist(); cand_m.unpersist()


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "tile"
    spark = build_session(app_name=f"profile-r7-{which}", cores=CPUS,
                          shuffle_partitions=max(2 * CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    if which == "tile":
        profile_tile(spark)
    elif which == "minhash":
        profile_minhash(spark)
    spark.stop()


if __name__ == "__main__":
    main()
