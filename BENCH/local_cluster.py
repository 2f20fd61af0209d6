#!/usr/bin/env python3
"""Multi-JVM scaling legs via local-cluster[N,cores,mem] (VERDICT r3
item 5) — the one rung of cluster realism this sandbox permits:
SEPARATE executor JVMs, real serialized shuffle over sockets, no
shared heap/allocator.  The single-JVM calibration
(BENCH/jvm_ceiling.py: a pure-codegen agg reaches only 1.86x going
8->32 threads in ONE JVM on this host) predicts multi-JVM should
scale better per core-count; this script measures it.

Usage:
  python3 BENCH/local_cluster.py knn     '<master>' [n_images] [n_queries]
  python3 BENCH/local_cluster.py minhash '<master>' [mult] [lenx]
  python3 BENCH/local_cluster.py agg     '<master>'   # jvm_ceiling twin

<master> examples: local[8], local-cluster[1,8,6144],
local-cluster[4,8,6144].  Fresh JVM per invocation; interleave trials
from the shell.  Prints one JSON line.

Corpus parquet is cached under /tmp (written once by the same
deterministic builders the single-JVM benches use), so every master
reads identical input files.
"""

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cores_of(master: str) -> int:
    m = re.match(r"local-cluster\[(\d+),(\d+),\d+\]", master)
    if m:
        return int(m.group(1)) * int(m.group(2))
    m = re.match(r"local\[(\d+)\]", master)
    return int(m.group(1)) if m else 8


def _session(master: str, label: str):
    from pbf2json_spark.plans.session import build_session, ship_package
    cores = _cores_of(master)
    spark = build_session(app_name=f"lc-{label}", cores=cores,
                          master=master,
                          shuffle_partitions=max(2 * cores, 16))
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)  # executors are separate JVMs: ship the package
    return spark, cores


def run_knn(master, n_images=120_000, n_queries=20_000):
    from pbf2json_spark.operators.spatial import attach_geo, knn
    from pbf2json_spark.sources.synth import images_df, knn_queries_df
    spark, cores = _session(master, "knn")
    img_path = f"/tmp/bench_images_{n_images}_64x128x256"
    if not os.path.exists(img_path):
        images_df(spark, n_images, partitions=128,
                  dims=(64, 128, 256)).write.parquet(img_path)
    images = spark.read.parquet(img_path)
    geo = attach_geo(images.select("image_id", "phash"),
                     res_list=(9, 12)).persist()
    geo.count()
    queries = knn_queries_df(spark, n_queries, k=10)
    reps = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        n = knn(geo, queries, k=10, initial_ring=2).count()
        best = min(best, time.perf_counter() - t0)
    return spark, {"workload": "knn", "master": master, "cores": cores,
                   "n_images": n_images, "n_queries": n_queries,
                   "rows": n, "wall": round(best, 3)}


def run_minhash(master, mult=10, lenx=16):
    from pyspark.sql import functions as F

    from pbf2json_spark.operators.dedup import minhash_lsh_pairs
    spark, cores = _session(master, "minhash")
    path = f"/tmp/bench_docs_{mult}x_{lenx}L.parquet"
    if not os.path.exists(path):
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        variants = spark.range(mult).select(
            F.col("id").cast("int").alias("variant"))
        long_text = F.concat_ws(" ", *([F.col("text")] * lenx)) \
            if lenx > 1 else F.col("text")
        big = (docs.crossJoin(variants).select(
            F.concat_ws("_", "doc_id", "variant").alias("doc_id"),
            F.when(F.col("variant") == 0, long_text).otherwise(
                F.concat(long_text, F.lit(" variant token "),
                         F.sha2(F.concat_ws("_", "doc_id", "variant"),
                                256))).alias("text")))
        big.repartition(64).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    n_docs = docs.count()
    reps = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))
    best, pairs = float("inf"), -1
    for _ in range(reps):
        t0 = time.perf_counter()
        pairs = minhash_lsh_pairs(docs, tau=0.5).count()
        best = min(best, time.perf_counter() - t0)
    return spark, {"workload": "minhash", "master": master,
                   "cores": cores, "docs": n_docs, "pairs": pairs,
                   "wall": round(best, 3)}


def run_agg(master, n=1_500_000_000):
    """EXACT twin of BENCH/jvm_ceiling.py's probe (sum of
    xxhash64(id) % 1000 over spark.range, shuffle-free, zero Python)
    so the multi-JVM ratio is directly comparable to the single-JVM
    1.86x ceiling that probe measured at 8->32 threads."""
    from pyspark.sql import functions as F
    spark, cores = _session(master, "agg")
    reps = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, n, 1, 2 * cores).select(
            F.sum(F.xxhash64("id") % 1000).alias("s")).collect()
        best = min(best, time.perf_counter() - t0)
    return spark, {"workload": "agg", "master": master, "cores": cores,
                   "n": n, "wall": round(best, 3)}


def main():
    wl = sys.argv[1]
    master = sys.argv[2]
    args = sys.argv[3:]
    if wl == "knn":
        spark, out = run_knn(master, *[int(a) for a in args])
    elif wl == "minhash":
        spark, out = run_minhash(master, *[int(a) for a in args])
    elif wl == "agg":
        spark, out = run_agg(master, *[int(a) for a in args])
    else:
        raise SystemExit(f"unknown workload {wl}")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
