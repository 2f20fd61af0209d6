"""The benchmark's workloads.  A workload is a list of parts; each part
generates its inputs from the seed (cached on disk), builds its warm
state in a fresh session, contributes ops to the timed job, and checks
those ops' outputs against the oracles.

An op that raises, times out or returns a wrong answer counts as failed;
the ops after a raising one in the same job count as failed too (they
never ran)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import harness
import oracles
from pbf2json_spark.functions import imagecodec as ic
from pbf2json_spark.sources import synth


# ---------------------------------------------------------------------------
# cached, content-hashed inputs
# ---------------------------------------------------------------------------

# parquet files per input table, so that a scan has several tasks per core
PARTS = 2 * harness.CORES


class InputCache:
    """Inputs keyed by (workload part, seed, size, PARTS) under `root`.  Each
    entry records the sha256 of its files; an entry whose files no longer
    hash to the recorded value is regenerated, never reused."""

    def __init__(self, root: str):
        self.root = root
        self.gen_s = 0.0

    def get(self, key: str, build) -> str:
        """Path of entry `key`, calling build(tmp_path) if it is missing
        or stale.  Time spent here accumulates in gen_s."""
        t0 = time.perf_counter()
        key = f"{key}-p{PARTS}"
        path = os.path.join(self.root, key)
        meta = path + ".json"
        try:
            with open(meta) as f:
                fresh = json.load(f)["sha256"] == _tree_sha256(path)
        except (FileNotFoundError, KeyError, ValueError):
            fresh = False
        if not fresh:
            shutil.rmtree(path, ignore_errors=True)
            tmp = path + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            build(tmp)
            os.rename(tmp, path)
            with open(meta, "w") as f:
                json.dump({"key": key, "sha256": _tree_sha256(path)}, f)
        self.gen_s += time.perf_counter() - t0
        return path


def _tree_sha256(path: str) -> str:
    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def write_parts(table: pa.Table, path: str) -> None:
    """Write `table` as PARTS parquet files under `path`."""
    os.makedirs(path, exist_ok=True)
    for p, idx in enumerate(np.array_split(np.arange(table.num_rows), PARTS)):
        pq.write_table(table.take(idx), f"{path}/part-{p:03d}.parquet")


def seq_offset(seed: int) -> int:
    """First synthetic image sequence number for a seed (images_df and
    the geo view have no seed parameter of their own)."""
    return (seed * 1_000_003) % 10**11


def balanced_seqs(off: int, n: int) -> list[int]:
    """About n image sequence numbers from `off` on whose mix of (width,
    height, format) classes is the same for every offset, so that the
    inputs of different seeds cost the same to decode.  The class of a
    sequence number follows synth.gen_image_row: width index from bits
    0-1 of its hash (3 -> 0), height index from bits 2-3 (3 -> 1),
    format from (hash >> 4) % 3."""
    seqs = np.arange(off, off + 64 * n, dtype=np.uint64)
    h = ic.splitmix64(seqs)
    wi, hi = h & np.uint64(3), (h >> np.uint64(2)) & np.uint64(3)
    wi[wi == 3], hi[hi == 3] = 0, 1
    cls = (wi * np.uint64(3) + hi) * np.uint64(3) + (h >> np.uint64(4)) % np.uint64(3)
    p_w, p_h = (0.5, 0.25, 0.25), (0.25, 0.5, 0.25)
    picked = []
    for c in range(27):
        quota = round(n * p_w[c // 9] * p_h[c // 3 % 3] / 3)
        picked += seqs[cls == c][:quota].tolist()
    return sorted(picked)


# ---------------------------------------------------------------------------
# jobs
# ---------------------------------------------------------------------------

class Job:
    """One timed job: runs the ops in order, each in its own span, and
    records wall time, outputs and failures."""

    def __init__(self, tracer, op_names):
        self.tracer = tracer
        self.op_names = list(op_names)
        self.out: dict = {}
        self.op_seconds: dict[str, float] = {}
        self.failed: dict[str, str] = {}
        self.seconds = 0.0
        self.t0 = 0.0

    def run(self, steps) -> "Job":
        t0 = self.t0 = time.perf_counter()
        for name, fn in steps:
            t_op = time.perf_counter()
            try:
                with self.tracer.span(name):
                    self.out[name] = fn()
                self.op_seconds[name] = time.perf_counter() - t_op
            except Exception:  # an op failure is a result, not a crash
                traceback.print_exc()
                broke = self.op_names.index(name)
                for later in self.op_names[broke:]:
                    self.failed[later] = "raised" if later == name else "not run"
                break
        self.seconds = time.perf_counter() - t0
        return self

    def check(self, name, problem) -> None:
        if name not in self.failed and problem:
            self.failed[name] = problem


class Part:
    """prepare() makes the inputs (untimed), warm() the session state
    (timed into setup_s), steps() the ops of one job, check() their
    outputs."""

    ops: tuple = ()

    def release(self) -> None:
        """Drop what steps() cached, after the job."""

    def extras(self, jobs) -> dict:
        """Figures for the report: name -> (value, unit)."""
        return {}


class Workload:
    def __init__(self, name, parts):
        self.name, self.parts = name, parts
        self.ops = tuple(op for p in parts for op in p.ops)
        self.rows_in = sum(p.rows_in for p in parts)

    def prepare(self, cache) -> None:
        for p in self.parts:
            p.prepare(cache)

    def warm(self, spark) -> list:
        return [p.warm(spark) for p in self.parts]

    def job(self, spark, states, tracer) -> Job:
        job = Job(tracer, self.ops)
        try:
            job.run([s for p, st in zip(self.parts, states)
                     for s in p.steps(spark, st, tracer, job)])
        finally:
            for p in self.parts:
                p.release()
        return job

    def check(self, job) -> None:
        for p in self.parts:
            p.check(job)

    def extras(self, jobs) -> dict:
        return {k: v for p in self.parts for k, v in p.extras(jobs).items()}


# ---------------------------------------------------------------------------
# spatial: attach_geo -> point_in_polygon -> knn -> knn_join
# ---------------------------------------------------------------------------

class GeoBatch(Part):
    """Batch spatial job over a slim seeded geo view (image_id, phash)
    whose points cluster in zipfian hotspots.

    knn_join's left side is every id ending in 0 or 5 (a fifth of the
    points), which is above the operator's early-fold threshold of 1,024
    rows, so its distributed ladder rounds run."""

    ops = ("spatial.attach_geo", "spatial.point_in_polygon", "spatial.knn",
           "spatial.knn_join")
    left_suffixes = ("0", "5")

    def __init__(self, seed, n_points=10_000, n_polys=64, n_queries=128,
                 knn_k=10, join_k=8, sample=64):
        self.seed = seed
        self.n, self.n_polys, self.n_queries = n_points, n_polys, n_queries
        self.knn_k, self.join_k, self.sample = knn_k, join_k, sample
        seqs = np.arange(n_points, dtype=np.uint64) + np.uint64(seq_offset(seed))
        self.phash = ic.splitmix64(seqs).astype(np.int64)
        self.ids = np.array([f"img{int(s):012d}" for s in seqs])
        self.lat, self.lon = ic.geotag_from_phash(self.phash)
        self.rows_in = n_points
        self._geo = None

    def prepare(self, cache: InputCache) -> None:
        def build(tmp):
            write_parts(pa.table({"image_id": self.ids, "phash": self.phash}),
                        tmp)
        self.path = cache.get(f"geo-s{self.seed}-n{self.n}", build)
        self.polys_pdf = synth.gen_polygons_pdf(self.n_polys, self.seed)
        self.queries_pdf = synth.gen_knn_queries_pdf(self.n_queries,
                                                     self.knn_k, self.seed)

    def warm(self, spark) -> dict:
        return {"pts": spark.read.parquet(self.path),
                "polys": synth.polygons_df(spark, self.n_polys, self.seed),
                "queries": synth.knn_queries_df(spark, self.n_queries,
                                                self.knn_k, self.seed)}

    def steps(self, spark, st, tracer, job):
        from pyspark.sql import functions as F

        from pbf2json_spark.operators.spatial import (attach_geo, knn,
                                                      knn_join,
                                                      point_in_polygon)
        job.knn_join_trace = {}

        def attach():
            self._geo = attach_geo(st["pts"], res_list=(9, 12)).persist()
            return self._geo.count()

        def join():
            left = self._geo.filter(F.substring("image_id", -1, 1)
                                    .isin(*self.left_suffixes)) \
                .selectExpr("image_id as left_id", "lat", "lon")
            right = self._geo.selectExpr("image_id as right_id", "lat", "lon")
            return knn_join(left, right, k=self.join_k, exclude_self=True,
                            trace=job.knn_join_trace).toPandas()

        return [
            ("spatial.attach_geo", attach),
            ("spatial.point_in_polygon", lambda: point_in_polygon(
                self._geo, st["polys"], res=9)
                .select("poly_id", "image_id").toPandas()),
            ("spatial.knn", lambda: knn(self._geo, st["queries"],
                                        k=self.knn_k, res=12).toPandas()),
            ("spatial.knn_join", join),
        ]

    def release(self) -> None:
        if self._geo is not None:
            self._geo.unpersist()
            self._geo = None

    def check(self, job: Job) -> None:
        out = job.out
        if "spatial.attach_geo" in out:
            job.check("spatial.attach_geo", out["spatial.attach_geo"] != self.n
                      and f"{out['spatial.attach_geo']} rows, want {self.n}")
        if "spatial.point_in_polygon" in out:
            if not hasattr(self, "_pip"):
                self._pip = oracles.pip_pairs(self.polys_pdf, self.ids,
                                              self.lat, self.lon)
            got = out["spatial.point_in_polygon"]
            got = set(zip(got["poly_id"], got["image_id"]))
            job.check("spatial.point_in_polygon", got != self._pip and
                      f"{len(got ^ self._pip)} pairs differ of {len(self._pip)}")
        if "spatial.knn" in out:
            got = out["spatial.knn"]
            q = self.queries_pdf
            if len(got) != len(q) * self.knn_k:
                job.check("spatial.knn",
                          f"{len(got)} rows, want {len(q) * self.knn_k}")
            by_query = dict(tuple(got.groupby("query_id")))
            for r in q.itertuples():
                want = oracles.knn_topk(r.lat, r.lon, self.ids, self.lat,
                                        self.lon, self.knn_k)
                bad = oracles.knn_mismatch(
                    by_query.get(r.query_id, got.iloc[:0]), "image_id", *want)
                if bad:
                    job.check("spatial.knn", f"{r.query_id}: {bad}")
                    break
        if "spatial.knn_join" in out:
            got = out["spatial.knn_join"]
            left = np.nonzero(np.isin([s[-1] for s in self.ids],
                                      self.left_suffixes))[0]
            if len(got) != len(left) * self.join_k:
                job.check("spatial.knn_join",
                          f"{len(got)} rows, want {len(left) * self.join_k}")
            by_left = dict(tuple(got.groupby("left_id")))
            rng = np.random.default_rng(self.seed)
            for i in rng.choice(left, min(self.sample, len(left)), replace=False):
                want = oracles.knn_topk(self.lat[i], self.lon[i], self.ids,
                                        self.lat, self.lon, self.join_k,
                                        exclude=self.ids[i])
                bad = oracles.knn_mismatch(
                    by_left.get(self.ids[i], got.iloc[:0]), "right_id", *want)
                if bad:
                    job.check("spatial.knn_join", f"{self.ids[i]}: {bad}")
                    break


# ---------------------------------------------------------------------------
# raster: tile_assignment_direct, phash_images -> hash_near_pairs
# ---------------------------------------------------------------------------

class RasterCurate(Part):
    """Tile assignment and perceptual near-duplicate detection over
    seeded images at 64-256 px, with planted near-duplicates."""

    ops = ("spatial.tile_assignment_direct", "multimodal.phash_images",
           "dedup.hash_near_pairs")
    dims = (64, 128, 256)
    dup_every = 7   # a perturbed copy of every 7th image: planted near-dups

    def __init__(self, seed, n_images=100, grid=4, res=12, max_hamming=6):
        self.seed = seed
        self.grid, self.res, self.max_hamming = grid, res, max_hamming
        self.seqs = balanced_seqs(seq_offset(seed), n_images)
        self.rows_in = len(self.seqs) + len(self.seqs[::self.dup_every])
        self._ph = None

    def prepare(self, cache: InputCache) -> None:
        cols = synth.spark_schemas()["images"].fieldNames()

        def build(tmp):
            rows = []
            for i, seq in enumerate(self.seqs):
                row = synth.gen_image_row(seq, self.dims)
                rows.append(row)
                if i % self.dup_every == 0:
                    px = synth.perturb_pixels(ic.decode_image(row[1]), seq)
                    rows.append((f"dup{seq:012d}", ic.encode_image(px, row[4]),
                                 *row[2:6], ic.phash64(px)))
            write_parts(pa.Table.from_pandas(pd.DataFrame(rows, columns=cols),
                                             preserve_index=False),
                        tmp)
        self.path = cache.get(f"raster-s{self.seed}-n{len(self.seqs)}", build)
        self.images = pd.read_parquet(self.path, columns=["image_id", "bytes",
                                                          "phash"])

    def warm(self, spark) -> dict:
        return {"images": spark.read.parquet(self.path)}

    def steps(self, spark, st, tracer, job):
        from pbf2json_spark.operators.dedup import hash_near_pairs
        from pbf2json_spark.operators.multimodal import phash_images
        from pbf2json_spark.operators.spatial import tile_assignment_direct

        def phash():
            self._ph = phash_images(st["images"]).persist()
            return self._ph.toPandas()

        return [
            ("spatial.tile_assignment_direct", lambda: tile_assignment_direct(
                spark, self.path, grid=self.grid, res=self.res).toPandas()),
            ("multimodal.phash_images", phash),
            ("dedup.hash_near_pairs", lambda: hash_near_pairs(
                self._ph, "phash", self.max_hamming, id_col="image_id")
                .toPandas()),
        ]

    def release(self) -> None:
        if self._ph is not None:
            self._ph.unpersist()
            self._ph = None

    def check(self, job: Job) -> None:
        if not hasattr(self, "_tiles"):
            rows = list(self.images.itertuples(index=False))
            self._tiles = oracles.tile_cells(rows, self.grid, self.res)
            self._phash = {r.image_id: oracles.phash_of(r.bytes) for r in rows}
        out = job.out
        if "spatial.tile_assignment_direct" in out:
            m = out["spatial.tile_assignment_direct"].merge(
                self._tiles, on="cell", how="outer", suffixes=("", "_w"))
            job.check("spatial.tile_assignment_direct", not (
                len(m) == len(self._tiles)
                and (m.n_blocks == m.n_blocks_w).all()
                and (m.n_images == m.n_images_w).all()
                and np.allclose(m.avg_intensity, m.avg_intensity_w,
                                rtol=1e-12, atol=1e-9))
                and "per-cell aggregates differ")
        if "multimodal.phash_images" in out:
            ph = out["multimodal.phash_images"]
            got = dict(zip(ph.image_id, ph.phash))
            job.check("multimodal.phash_images", got != self._phash and
                      f"{sum(got.get(k) != v for k, v in self._phash.items())}"
                      f" of {len(self._phash)} phashes differ")
            if "dedup.hash_near_pairs" in out:
                p = out["dedup.hash_near_pairs"]
                want = oracles.near_pairs(ph.image_id.to_numpy(),
                                          ph.phash.to_numpy(),
                                          self.max_hamming)
                got = set(zip(p.id_a, p.id_b, p.hamming.astype(int)))
                job.check("dedup.hash_near_pairs", got != want and
                          f"{len(got ^ want)} pairs differ of {len(want)}")


# ---------------------------------------------------------------------------
# osm: run_pipeline through CheckpointRunner -> TableIO.write, then resume
# ---------------------------------------------------------------------------

class OsmDenorm(Part):
    """The production denormalization (scripts/pipeline_job.py's
    run_pipeline) over seeded OSM-analog tables, written through the
    checkpoint layer and then resumed under the same content key."""

    ops = ("checkpoint.stage", "checkpoint.stage.resume")
    spec = "building,shop"

    def __init__(self, seed, n_nodes=2_000, n_ways=500, n_rels=50):
        self.seed = seed
        self.sizes = (n_nodes, n_ways, n_rels)
        self.rows_in = sum(self.sizes)
        self.jobs_run = 0

    def prepare(self, cache: InputCache) -> None:
        from tests.oracle import oracle_pipeline
        n, w, r = self.sizes

        def build(tmp):
            tables = synth.gen_osm_tables(n, w, r, self.seed)
            for name, table in zip(("nodes", "ways", "relations"),
                                   _osm_arrow(*tables)):
                write_parts(table, f"{tmp}/{name}")
            with open(f"{tmp}/oracle.json", "w") as f:
                json.dump(oracle_pipeline(*tables, self.spec), f, sort_keys=True)
        self.path = cache.get(f"osm-s{self.seed}-n{n}-{w}-{r}", build)
        with open(f"{self.path}/oracle.json") as f:
            self.want = json.load(f)
        self.out_root = os.path.join(os.path.dirname(cache.root), "tables")

    def warm(self, spark) -> dict:
        return {name: spark.read.parquet(f"{self.path}/{name}")
                for name in ("nodes", "ways", "relations")}

    def steps(self, spark, st, tracer, job):
        from pbf2json_spark.operators.denormalize import run_pipeline
        from pbf2json_spark.plans.checkpoint import CheckpointRunner
        from pbf2json_spark.sources.tableio import TableIO
        self.jobs_run += 1
        io = TableIO(os.path.join(self.out_root, f"job{self.jobs_run}"))
        write = io.write

        def traced_write(*a, **kw):
            with tracer.span("tableio.write"):
                return write(*a, **kw)
        io.write = traced_write
        ck = CheckpointRunner(spark, io)
        job.table_dir = io._path("osm")

        def compute():
            with tracer.span("denormalize.run_pipeline"):
                return run_pipeline(st["nodes"], st["ways"], st["relations"],
                                    self.spec)

        def stage():
            df, _ = ck.stage("osm", {"tags": self.spec}, [], compute)
            return df.toPandas(), dict(ck.metrics["osm"])

        return [("checkpoint.stage", stage), ("checkpoint.stage.resume", stage)]

    def check(self, job: Job) -> None:
        first = job.out.get("checkpoint.stage")
        if first is not None:
            pdf, meta = first
            job.stored_bytes = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(job.table_dir) for f in fs
                if f.endswith(".parquet"))
            job.stored_rows = meta["rows"]
            got = {gid: json.loads(js) for gid, js in zip(pdf.gid, pdf.json)}
            job.check("checkpoint.stage",
                      (meta["resumed"] or got != self.want) and
                      f"{len(set(got) ^ set(self.want))} gids differ")
        again = job.out.get("checkpoint.stage.resume")
        if again is not None and first is not None:
            same = (again[1]["resumed"] and again[0].sort_values("gid")
                    .reset_index(drop=True)
                    .equals(first[0].sort_values("gid").reset_index(drop=True)))
            job.check("checkpoint.stage.resume", not same and
                      "resumed output differs from the computed output")
        if hasattr(job, "table_dir"):
            shutil.rmtree(os.path.dirname(job.table_dir), ignore_errors=True)

    def extras(self, jobs) -> dict:
        stored = [j for j in jobs if hasattr(j, "stored_bytes")]
        if not stored:
            return {}
        return {"stored_bytes_per_row": (statistics.median(
            j.stored_bytes / j.stored_rows for j in stored), "B/row")}


def _osm_arrow(nodes, ways, rels):
    """synth.gen_osm_tables frames as Arrow tables with the
    synth.spark_schemas() column types."""
    tags = pa.map_(pa.string(), pa.string())
    member = pa.struct([("type", pa.int8()), ("ref", pa.int64()),
                        ("role", pa.string())])

    def tag_col(col):
        return pa.array([list(t.items()) for t in col], type=tags)
    return (
        pa.table({"id": pa.array(nodes.id, pa.int64()),
                  "lat": pa.array(nodes.lat, pa.float64()),
                  "lon": pa.array(nodes.lon, pa.float64()),
                  "tags": tag_col(nodes.tags)}),
        pa.table({"id": pa.array(ways.id, pa.int64()),
                  "refs": pa.array(list(ways.refs), pa.list_(pa.int64())),
                  "tags": tag_col(ways.tags)}),
        pa.table({"id": pa.array(rels.id, pa.int64()),
                  "members": pa.array(list(rels.members), pa.list_(member)),
                  "tags": tag_col(rels.tags)}),
    )


def make(name: str, seed: int) -> Workload:
    parts = {"geo_batch": (GeoBatch,),
             "raster_osm": (RasterCurate, OsmDenorm)}[name]
    return Workload(name, [p(seed) for p in parts])

