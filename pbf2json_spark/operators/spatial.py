"""Spatial operators over the images table: cell attachment, point-in-
polygon, kNN, and raster tile assignment (the north-rule additions the
reference lacks — repo BASELINE.json:6; SURVEY.md §2.3 J5, §2.4 A8).

Design per operator (all range-like joins reduced to cell equi joins):

- attach_geo: derive (lat, lon) from phash (the documented pure function
  — the base table keeps exactly the hinted shape) + cell ids at chosen
  resolutions, one vectorized Arrow pass, no shuffle.
- point_in_polygon: ONE operator, two plans picked by the polygon
  side's exact vertex count.  A dim-sized side has its covering cells
  computed driver-side (vectorized numpy) and BROADCAST as a
  (cell -> poly) table; points equi-join on their cell id; exact
  ray-cast refine is a shuffle-free mapInPandas that follows the
  candidate partitioning, so one city-center polygon cannot pin a
  single task.  A side above PIP_MAX_DIM_VERTICES runs the shuffle
  plan (point_in_polygon_bucketed: executor-side coverings, cell
  shuffle join, rings joined back by poly_id).  Both plans share the
  ring split, the covering and the stacked-edge refine kernel.
  Explicit hot-key salting lives in plans/salting.py and applies where
  a SHUFFLE hash join exists (the denormalize node join); AQE's skew
  join splitting covers the PIP shuffle plan.
- knn_join: the one kNN operator; knn() is knn_join with its queries
  as the left side.  ONE priced route rule (_brute_fits), decided from
  one bounded collect of the left side: a call whose n_left x n_right
  fits BRUTE_OPS_BUDGET (2e9 pair-ops) is one vectorized brute scan
  over the collected frame, with no ladder job at all.  Measured on a
  4-core host (warm knn_join, zipfian, k=8, exclude_self; identical
  ids and ranks on both routes), brute vs ladder:
      2e7 pair-ops  (2k x 10k)     1.3 s  vs   8.8 s
      5e8 pair-ops  (5k x 100k)    3.8 s  vs  12.9 s
      2e9 pair-ops  (20k x 100k)  11.7 s  vs  14.6 s
  so the budget sits near the crossover.  Above it runs the cell
  ladder: a distributed exact window-occupancy table starts
  every row at the finest level whose cell disk holds ~margin*k points
  (fine in zipfian hotspots, coarse in sparse regions); rounds are
  cell-equi joins re-ranked by a JVM-side haversine under one rank<=k
  window (WindowGroupLimit partial top-k); a row is done when k
  candidates lie within its conservative disk-exit bound, unsatisfied
  rows coarsen one level, and the rest fold into the same brute scan.
  This is the reference-free operator the survey maps from 'H3 k-ring
  expansion + distance re-rank'.
- tile_assignment: ONE operator, two input routes — raster->vector,
  'assign decoded image rasters to vector cells'.  A DataFrame is one
  mapInArrow over its (id, bytes, geotag) columns; a parquet path is
  decoded file-parallel, tasks reading their files with pyarrow.  Both
  run one kernel (Arrow buffers -> gxg block means -> the cell under
  each block, either family) and pre-aggregate per (row, cell) in the
  task; the final per-cell aggregate counts distinct image ids, so
  n_images stays exact when ids repeat.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cellindex as cx
from ..functions import geokernels as gk
from ..functions import imagecodec as ic
from ..plans.session import Intermediates, plan_bytes

DEFAULT_RES = 9
KNN_RES = 12

# PIP dim-side geometry bound (vertices): beyond this the collected
# rings stop being a broadcastable dim table and point_in_polygon runs
# its shuffle plan
PIP_MAX_DIM_VERTICES = 5_000_000
# session-scoped polygon-covering memo (FIFO-bounded): an interactive
# caller re-querying the same dim polygons pays the driver-side numpy
# covering (s2 edge-exact boxes are ~0.25 s per 50k cells) once, not
# per query.  Coverings are pure functions of (family, res, ring), so
# staleness cannot arise.
_COVER_CACHE: dict = {}
_COVER_CACHE_MAX = 256
# most query rows one brute scan collects to the driver: a larger query
# side takes the distributed ladder, and a larger ladder fold runs as
# several brute scans of at most this many rows
KNN_MAX_QUERIES = 1_000_000


# ---------------------------------------------------------------------------
# geo attachment
# ---------------------------------------------------------------------------

def _python_stage_parts(spark, nbytes: int,
                        target_bytes: int = 8 << 20) -> int:
    """Task count for a Python (Arrow) stage over `nbytes` of input:
    ceil(nbytes / target), floored at one task per core (guide §2 —
    derive partitioning from input size).

    Every Python task pays a fixed dispatch cost before the first line
    of the UDF runs: ~0.06 s per task on a 4-core host under
    plans.pyworker, the daemon build_session selects for local masters,
    and 0.24 s under the stock daemon, whose per-task
    importlib.invalidate_caches() re-reads the zip directories on
    sys.path.  So tiny partitions are pure overhead.  A Python-list
    createDataFrame is a Python RDD whose scan pays the same cost;
    driver-side tables are built from pandas through Arrow instead,
    which analyzes to a JVM LocalRelation."""
    par = spark.sparkContext.defaultParallelism
    return int(max(par, -(-nbytes // target_bytes)))


def make_geo_udf(res_list=(DEFAULT_RES,), s2_levels=()):
    fields = [T.StructField("lat", T.DoubleType()),
              T.StructField("lon", T.DoubleType())]
    fields += [T.StructField(f"cell_r{r}", T.LongType()) for r in res_list]
    fields += [T.StructField(f"s2_l{v}", T.LongType()) for v in s2_levels]

    @F.pandas_udf(T.StructType(fields))
    def geo(phash: pd.Series) -> pd.DataFrame:
        lat, lon = ic.geotag_from_phash(phash.to_numpy(dtype=np.int64))
        out = {"lat": lat, "lon": lon}
        for r in res_list:
            out[f"cell_r{r}"] = cx.cell_id(lat, lon, r)
        for v in s2_levels:
            out[f"s2_l{v}"] = cx.s2_cell_id(lat, lon, v)
        return pd.DataFrame(out)

    return geo


def attach_geo(images: DataFrame, res_list=(DEFAULT_RES,),
               s2_levels=()) -> DataFrame:
    """images + (lat, lon, cell_r{res}..., s2_l{level}...) derived from
    phash — BOTH index families in one Arrow pass (equirect-Morton for
    disk/covering math, quad-sphere for near-uniform-area partition
    keys).  Reads only the columns it needs; zero shuffle."""
    geo = make_geo_udf(res_list, s2_levels)
    g = images.withColumn("_g", geo("phash"))
    cols = [images[c] for c in images.columns]
    cols += [F.col("_g.lat").alias("lat"), F.col("_g.lon").alias("lon")]
    cols += [F.col(f"_g.cell_r{r}").alias(f"cell_r{r}") for r in res_list]
    cols += [F.col(f"_g.s2_l{v}").alias(f"s2_l{v}") for v in s2_levels]
    return g.select(*cols)


# ---------------------------------------------------------------------------
# point-in-polygon
# ---------------------------------------------------------------------------

def _ring_pieces(ring_lats, ring_lons) -> list:
    """Canonical plane pieces of one ring: the ring itself, or its
    geokernels.split_antimeridian pieces when it wraps +-180 (e.g. a
    Fiji polygon).  So the operator's contract is "any simple ring,
    edges short-way in longitude" while the low-level coverings keep
    their loud canonical-only precondition."""
    rla = np.asarray(ring_lats, dtype=np.float64)
    rlo = np.asarray(ring_lons, dtype=np.float64)
    if gk.ring_is_canonical(rla, rlo):
        return [(rla, rlo)]
    return gk.split_antimeridian(rla, rlo)


def _cover_cells(pieces, family: str, res: int, cache=None) -> set:
    """Covering cells of one polygon's pieces, set-deduped: cells
    straddling the +-180 cut are covered by both pieces, and a duplicate
    (cell, poly_id) row would double-emit candidates and duplicate
    refine output rows.  `cache` memoizes per piece (the driver's
    _COVER_CACHE; executors pass none)."""
    cover_fn = cx.cover_polygon if family == "equirect" \
        else cx.s2_cover_polygon
    cells = set()
    for pla, plo in pieces:
        key = (family, res, pla.tobytes(), plo.tobytes())
        cov = None if cache is None else cache.get(key)
        if cov is None:
            cov = cover_fn(pla, plo, res).tolist()
            if cache is not None:
                if len(cache) >= _COVER_CACHE_MAX:
                    cache.pop(next(iter(cache)))
                cache[key] = cov
        cells.update(cov)
    return cells


def _refine_candidates(pdf: pd.DataFrame, pieces_by_id: dict, tables,
                       point_id: str) -> pd.DataFrame:
    """The exact ray-cast refine of one Arrow batch of (poly_id,
    point_id, lat, lon) candidates, shared by both PIP plans: one
    vectorized parity pass over `tables` (gk.build_stacked_edges of
    `pieces_by_id`), or — when the padded table would blow up memory and
    came back None — the per-polygon loop, OR-ing the per-piece
    ray-casts."""
    lats = pdf["lat"].to_numpy()
    lons = pdf["lon"].to_numpy()
    if tables is not None:
        codes = pdf["poly_id"].map(tables[0]).to_numpy(np.int64)
        keep = gk.raycast_contains_stacked(tables, codes, lats, lons)
    else:
        keep = np.zeros(len(pdf), dtype=bool)
        codes, uniq = pd.factorize(pdf["poly_id"])
        for gi, pid in enumerate(uniq):
            idx = np.nonzero(codes == gi)[0]
            hit = np.zeros(len(idx), dtype=bool)
            for rla, rlo in pieces_by_id[pid]:
                hit |= gk.raycast_contains(rla, rlo, lats[idx], lons[idx])
            keep[idx] = hit
    return pdf.loc[keep, ["poly_id", point_id, "lat", "lon"]]


def _pip_cell_col(family: str, res: int) -> str:
    if family not in ("equirect", "s2"):
        raise ValueError(f"unknown cell family {family!r}")
    return f"cell_r{res}" if family == "equirect" else f"s2_l{res}"


def _pip_schema(points: DataFrame, point_id: str) -> T.StructType:
    return T.StructType([
        T.StructField("poly_id", T.StringType()),
        T.StructField(point_id, points.schema[point_id].dataType),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
    ])


def point_in_polygon(points: DataFrame, polygons: DataFrame,
                     res: int = DEFAULT_RES,
                     point_id: str = "image_id",
                     family: str = "equirect") -> DataFrame:
    """(poly_id, <point_id>, lat, lon) for every point inside a polygon.

    points must carry (point_id, lat, lon, cell_r{res}); polygons is
    (poly_id, ring_lats, ring_lons, ...).

    Rings may wrap the antimeridian (r5): a ring whose lons flip sign
    across +-180 (each edge taking the short way in longitude) is split
    into canonical plane pieces (geokernels.split_antimeridian); the
    covering is the union over pieces and containment is the OR of the
    per-piece ray-casts, so a Fiji/Chukotka polygon returns the same
    rows as the equivalent two-rect union.  Pole-encircling rings
    raise (no plane-polygon equivalent).

    family='s2' runs the same plan over the quad-sphere index instead
    (points carry s2_l{res}; covering via cellindex.s2_cover_polygon).
    Near-uniform cell ground area means a polar-latitude polygon costs
    the same candidate volume as an equatorial one — the equirect grid
    over-expands coverings toward the poles because its cells shrink.
    The s2 covering is edge-exact since r4 (per-cell exact lat/lon
    boxes vs the ring segments — cellindex.s2_cover_polygon), and the
    exact ray-cast refine is identical, so results match the equirect
    family row-for-row (pinned in tests).

    Plan choice: the polygon side is collected once and its exact
    vertex count picks the plan.  Up to PIP_MAX_DIM_VERTICES it is a
    dim table: the polygon coverings are a broadcast (cell -> poly_id)
    table, the candidate join is a cell-equi BroadcastHashJoin, and the
    ring geometry is sc.broadcast to the refine workers (shipped once
    per executor, not per task).  The exact ray-cast refine is a
    SHUFFLE-FREE mapInPandas over the join output, one stacked-edge
    parity pass per Arrow batch; the refine parallelism follows the
    candidate partitioning, so a hot polygon never pins a single task.
    Above the bound the broadcast would be a driver/executor memory
    bomb, so the call runs point_in_polygon_bucketed's shuffle plan.
    The count needs the collect, so a side too large even to collect
    once should call point_in_polygon_bucketed directly."""
    cell_col = _pip_cell_col(family, res)
    # one driver job: the vertex count comes from the same collected
    # frame the covering pass needs anyway (a separate sum(size())
    # aggregate was a whole extra scan before the real query — the
    # round-2 headline regression on pip)
    polys = polygons.select("poly_id", "ring_lats", "ring_lons").toPandas()
    n_vertices = int(polys["ring_lats"].map(len).sum()) if len(polys) else 0
    if n_vertices > PIP_MAX_DIM_VERTICES:
        return point_in_polygon_bucketed(points, polygons, res=res,
                                         point_id=point_id, family=family)

    cover_rows = []
    rings = {}
    for p in polys.itertuples():
        pieces = _ring_pieces(p.ring_lats, p.ring_lons)
        rings[p.poly_id] = pieces
        for c in _cover_cells(pieces, family, res, _COVER_CACHE):
            cover_rows.append((c, p.poly_id))
    spark = points.sparkSession
    cover = spark.createDataFrame(
        pd.DataFrame(cover_rows, columns=["cell", "poly_id"]),
        schema="cell long, poly_id string")
    # ship the ring geometry once per executor, not once per task
    rings_bc = spark.sparkContext.broadcast(rings)

    pts_slim = points.select(
        F.col(point_id), "lat", "lon",
        F.col(cell_col).alias("cell"))
    # right-size the refine's Arrow stage from the slim point view's
    # estimated bytes (not the byte-heavy parent's partitioning — a slim
    # projection inherits it: 70 KB partitions at a 300k-point geo view);
    # coalesce only reduces, so a corpus-scale input is untouched
    pts_slim = pts_slim.coalesce(
        _python_stage_parts(spark, plan_bytes(pts_slim)))
    cand = pts_slim.join(F.broadcast(cover), "cell").drop("cell")

    def refine(batches):
        ring_map = rings_bc.value
        # one stacked-edge table per task (r7): the per-batch
        # per-polygon loop paid ~20 numpy calls per (batch, polygon)
        # group — with 64 dim polygons over a couple hundred cached
        # partitions that call overhead dominated the exact math
        tables = gk.build_stacked_edges(ring_map)
        for pdf in batches:
            if not pdf.empty:
                yield _refine_candidates(pdf, ring_map, tables, point_id)

    return cand.mapInPandas(refine, _pip_schema(points, point_id))


def point_in_polygon_bucketed(points: DataFrame, polygons: DataFrame,
                              res: int = DEFAULT_RES,
                              point_id: str = "image_id",
                              family: str = "equirect") -> DataFrame:
    """point_in_polygon's shuffle plan, the one it runs when the polygon
    side exceeds PIP_MAX_DIM_VERTICES.  Same output, fully distributed:

    - coverings are computed executor-side (one mapInPandas over the
      polygon table, the same ring split and covering helpers as the
      broadcast plan), emitting the (cell, poly_id) pair table — no
      driver collect, no vertex ceiling;
    - candidates come from a SHUFFLE hash join on the cell key (AQE
      handles hot-cell skew; both sides are partitioned by cell, the
      distributed-geo equi-join shape);
    - each candidate joins back to its ring geometry by poly_id, and
      the refine builds one stacked-edge table per Arrow batch from the
      rings its candidates carry — the broadcast plan's kernel.

    Cost model vs the broadcast plan: ring coordinates travel once per
    (polygon, candidate-batch-partition) through the poly_id join
    instead of once per executor via broadcast — the standard
    amplification of non-broadcast spatial joins."""
    cell_col = _pip_cell_col(family, res)
    poly_geo = polygons.select("poly_id", "ring_lats", "ring_lons")

    def gen_cover(batches):
        for pdf in batches:
            for p in pdf.itertuples():
                cells = _cover_cells(_ring_pieces(p.ring_lats, p.ring_lons),
                                     family, res)
                if cells:
                    yield pd.DataFrame({
                        "cell": np.fromiter(cells, dtype=np.int64,
                                            count=len(cells)),
                        "poly_id": p.poly_id})

    cover = poly_geo.mapInPandas(gen_cover, "cell long, poly_id string")

    cand = points.select(
        F.col(point_id), "lat", "lon",
        F.col(cell_col).alias("cell"),
    ).join(cover, "cell").drop("cell")

    withrings = cand.join(poly_geo, "poly_id")

    def refine(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            first = pdf.drop_duplicates("poly_id")
            pieces_by_id = {
                p.poly_id: _ring_pieces(p.ring_lats, p.ring_lons)
                for p in first.itertuples()}
            tables = gk.build_stacked_edges(pieces_by_id)
            yield _refine_candidates(pdf, pieces_by_id, tables, point_id)

    return withrings.mapInPandas(refine, _pip_schema(points, point_id))


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------

def _haversine_col(lat1, lon1, lat2, lon2):
    """JVM-side haversine (same sphere as geokernels) — whole-stage
    codegen, no Python in the hot re-rank path."""
    dla = F.radians(lat2 - lat1)
    dlo = F.radians(lon2 - lon1)
    a = (F.sin(dla / 2) ** 2
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlo / 2) ** 2)
    return 2.0 * gk.EARTH_RADIUS_M * F.atan2(F.sqrt(a), F.sqrt(1.0 - a))


# pairwise haversine ops up to which kNN is ONE vectorized brute scan
# instead of the cell ladder: the ladder's cost is Spark job floors,
# the scan's is numpy work, so the crossover is an op count, not a row
# count (measured crossover table: module docstring)
BRUTE_OPS_BUDGET = 2_000_000_000

# knn_join's ladder also folds early once its unsatisfied rows are at
# most this fraction of the left side: another round costs fixed job
# floors that the exact brute fold does not
KNN_TAIL_FOLD_FRAC = 0.01


def _brute_fits(n_queries: int, n_points: int) -> bool:
    """The single kNN route rule (knn_join's entry, and the ladder's
    small-tail fold): brute scan iff the pair-op count fits
    BRUTE_OPS_BUDGET.  The scan collects the query side to the driver,
    so it also requires n_queries <= KNN_MAX_QUERIES — a larger side
    stays on the distributed ladder.  An empty corpus is priced as one
    point, so knn_join's collect bound is exactly the largest
    n_queries this admits."""
    return (n_queries <= KNN_MAX_QUERIES
            and n_queries * max(n_points, 1) <= BRUTE_OPS_BUDGET)


# packed brute-scan point store (ids + unit xyz + its broadcast) of the
# LAST corpus scanned, as [(corpus DataFrame, id column, Broadcast)]:
# an interactive caller issuing repeated knn()/knn_join() calls over
# the same corpus re-collected and re-broadcast ~20 MB per call (r7:
# ~0.5 s/call at 300k points).  The store is a pure function of the
# DataFrame object and its id column.  ONE slot: a scan over another
# corpus unpersists the previous broadcast and drops the last reference
# to it, so a session never pins more than one store (the per-corpus
# memo pinned one for every corpus the caller kept).  unpersist, not
# destroy: a call still running in another thread re-fetches an
# evicted store instead of failing.
_BRUTE_STORE: list = []


# above this point count, the brute scan partitions the POINTS (the
# corpus no longer fits an executor broadcast); below it, the QUERIES
# are partitioned and the packed point store (ids + unit xyz, ~40 B/pt)
# ships once per executor — output is exactly Q x k rows with no
# window/shuffle at all (the partitions x Q x k Arrow emission + final
# window was the measured 3-6 s dominating the tail at 8.5k queries)
BRUTE_BCAST_MAX_POINTS = 2_000_000


def _unit_xyz(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """(n, 3) unit sphere vectors.  -q.p orders candidates identically
    to haversine distance (both monotonic in the central angle), so the
    candidate SELECTION runs as one BLAS matmul and the trig runs only
    on the k kept per query."""
    lar, lor = np.radians(lat), np.radians(lon)
    cl = np.cos(lar)
    return np.stack([cl * np.cos(lor), cl * np.sin(lor), np.sin(lar)],
                    axis=1)


def _topk_merge(best_d, best_i, qla, qlo, qxyz, pla, plo, ids, pxyz, k):
    """Fold one point block into the running per-query top-k, fully
    vectorized over queries (in place)."""
    nq = len(qla)
    npts = len(pla)
    take = min(k, npts)
    id_rank = None  # lazily built once, only if boundary ties appear
    # ~8 MB distance matrix per chunk: 32 concurrent workers x the
    # matrix + argpartition copy must stay inside the shared LLC, or
    # the scan turns memory-bandwidth-bound and stops scaling past 8
    # cores (measured: 4M-element chunks ran FASTER on 8 workers than
    # on 32)
    qchunk = max(1, 1_000_000 // npts)
    # running-kth THRESHOLD SKIP (r7): once a query's k slots are full,
    # a point block can only change its top-k if some candidate's
    # order-key beats (or ties, for the id tiebreak) the current kth —
    # one GEMM + one min-reduce decides that per row, and the
    # argpartition/tie/merge machinery (3-4 more full-width passes)
    # runs ONLY for rows that can change.  At the 9.6M fold (60.7k
    # queries x 75k-point partitions) the selection passes dominated
    # the scan: every task spent ~113 s at ~0.7% JVM CPU (pure
    # Python/numpy) in stage-87 of the event-log profile.  EPS covers
    # the float-path discrepancy between the dot-product key (-q.p)
    # and -cos(haversine/R) of the same pair (a few ulp of 1.0,
    # ~5e-16; 1e-14 gives 20x margin) so boundary ties are always
    # admitted — over-captured rows are simply reprocessed by the
    # exact path.  Results are bit-identical (tie tests + fold
    # equivalence pins).
    EPS = 1e-14
    inv_r = 1.0 / gk.EARTH_RADIUS_M
    for q0 in range(0, nq, qchunk):
        q1 = min(q0 + qchunk, nq)
        d2 = -(qxyz[q0:q1] @ pxyz.T)                 # order-equiv to dist
        kth = best_d[q0:q1, k - 1]
        fin = np.isfinite(kth)
        qrows = None
        if fin.any():
            thresh = np.where(fin, -np.cos(kth * inv_r) + EPS, np.inf)
            rows = np.nonzero(d2.min(axis=1) <= thresh)[0]
            if rows.size == 0:
                continue
            if rows.size < (q1 - q0):
                d2 = d2[rows]
                qrows = q0 + rows
        if qrows is None:
            qrows = np.arange(q0, q1)
        part = np.argpartition(d2, take - 1, axis=1)[:, :take]
        # boundary-tie widening (ADVICE r3): argpartition discards
        # equal-valued candidates arbitrarily BEFORE the id tiebreak —
        # with > take candidates tied at the kth value (duplicate
        # coordinates from phash-identical images), it could keep
        # different ids than the rank<=k window.  Rows whose boundary
        # value has surplus ties re-select id-aware; identical coords
        # produce bit-identical d2 (one 3-term dot per column), so the
        # equality test is exact.
        bv = np.take_along_axis(d2, part, axis=1).max(axis=1)
        n_le = (d2 <= bv[:, None]).sum(axis=1)
        tied_rows = np.nonzero(n_le > take)[0]
        if len(tied_rows):
            if id_rank is None:
                # ids -> NUMERIC lexicographic ranks, once per merge:
                # lexsorting with the string array itself cost ~1 s per
                # 1M-element chunk (measured in the r5 bench) — the
                # int64 rank orders identically and sorts ~10x faster
                order_ids = np.argsort(ids.astype(str), kind="stable")
                id_rank = np.empty(npts, dtype=np.int64)
                id_rank[order_ids] = np.arange(npts)
            # one vectorized (d2, id_rank) lexsort over the tied
            # submatrix — the per-row rescan loop degraded to
            # row-at-a-time Python exactly on duplicate-coordinate
            # corpora, where MOST rows tie (ADVICE r4).  Full-row
            # sort-take-first is equivalent to the old candidate-
            # restricted re-select: both produce the top-take in
            # (d2, id) order.  sub is bounded by the qchunk sizing
            # (T*npts <= ~1M elements).
            sub = d2[tied_rows]                       # (T, npts)
            ranks2d = np.broadcast_to(id_rank, sub.shape)
            order = np.lexsort((ranks2d, sub), axis=-1)[:, :take]
            part[tied_rows] = order
        dh = gk.haversine_m(qla[qrows, None], qlo[qrows, None],
                            pla[part], plo[part])    # trig on k only
        cd = np.concatenate([best_d[qrows], dh], axis=1)
        ci = np.concatenate([best_i[qrows], ids[part]], axis=1)
        # (dist, id) selection order — the same tiebreak the rank<=k
        # window applies, so equal-distance ties (duplicate coords from
        # phash-identical images are real) keep the smaller id
        ckey = np.where(np.isfinite(cd), ci, "~").astype(str)
        order = np.lexsort((ckey, cd), axis=1)[:, :k]
        best_d[qrows] = np.take_along_axis(cd, order, axis=1)
        best_i[qrows] = np.take_along_axis(ci, order, axis=1)


def _brute_force_knn(pts: DataFrame, remaining: pd.DataFrame, k: int,
                     point_id: str, n_points: int, corpus: tuple,
                     exclude_self: bool = False) -> DataFrame:
    """Exact kNN by one vectorized scan: the whole call below the route
    budget, and the ladder's fold of rows the cell index can't help.

    Two shapes by corpus size:

    - points fit a broadcast (<= BRUTE_BCAST_MAX_POINTS): partition the
      QUERIES, ship the packed point store once per executor, each task
      emits its queries' EXACT top-k with ranks — Q x k output rows,
      zero shuffle, no window.
    - larger corpus: partition the POINTS; each partition keeps a
      running top-k per query (only partitions x Q x k rows leave the
      stage — never the points x queries matrix) and one rank<=k
      window merges.  This is the 10^12-row shape; it only runs for
      small Q there because the op-count budget gates the tail.

    `pts` is exactly (point_id, p_lat, p_lon); `remaining` holds the
    collected (query_id, lat, lon) queries.
    `corpus` is (caller DataFrame, its id column), the key of the
    one-slot _BRUTE_STORE memo.  exclude_self drops query_id ==
    point_id pairs before ranking: the scan keeps k+1 per query, so
    the k nearest OTHER points survive."""
    spark = pts.sparkSession
    kk = k + 1 if exclude_self else k
    qla = remaining["lat"].to_numpy(np.float64)
    qlo = remaining["lon"].to_numpy(np.float64)
    qids = remaining["query_id"].to_numpy()
    nq = len(qids)
    qxyz = _unit_xyz(qla, qlo)

    if n_points <= BRUTE_BCAST_MAX_POINTS:
        sc = spark.sparkContext
        hit = _BRUTE_STORE[0] if _BRUTE_STORE else None
        if hit and hit[0] is corpus[0] and hit[1] == corpus[1]:
            store = hit[2]
        else:
            pts_pdf = pts.toPandas()
            pla = pts_pdf["p_lat"].to_numpy(np.float64)
            plo = pts_pdf["p_lon"].to_numpy(np.float64)
            ids = pts_pdf[point_id].to_numpy()
            pxyz = _unit_xyz(pla, plo)
            store = sc.broadcast((pla, plo, ids, pxyz))
            # a stopped session already released its own broadcasts
            if hit and hit[0].sparkSession.sparkContext is sc:
                hit[2].unpersist()
            _BRUTE_STORE[:] = [(*corpus, store)]
        # the Arrow local relation already spreads the queries over
        # defaultParallelism partitions, so no repartition shuffle
        qdf = spark.createDataFrame(
            remaining[["query_id", "lat", "lon"]],
            schema="query_id string, lat double, lon double")

        def gen_q(batches):
            bpla, bplo, bids, bpxyz = store.value
            for pdf in batches:
                m = len(pdf)
                if m == 0:
                    continue
                bla = pdf["lat"].to_numpy(np.float64)
                blo = pdf["lon"].to_numpy(np.float64)
                bxyz = _unit_xyz(bla, blo)
                best_d = np.full((m, kk), np.inf)
                best_i = np.empty((m, kk), dtype=object)
                # feed the store in blocks so the running-kth
                # threshold in _topk_merge can skip settled queries
                # after the first block (one big merge starts every
                # query empty and the threshold never engages)
                for p0 in range(0, len(bpla), 16384):
                    sl = slice(p0, p0 + 16384)
                    _topk_merge(best_d, best_i, bla, blo, bxyz,
                                bpla[sl], bplo[sl], bids[sl],
                                bpxyz[sl], kk)
                qid = pdf["query_id"].to_numpy()
                mask = np.isfinite(best_d)
                if exclude_self:
                    mask &= best_i.astype(str) != qid.astype(str)[:, None]
                # kept slots stay in (dist, id) order, so the running
                # count of kept slots is the rank
                rank = np.cumsum(mask, axis=1)
                qi, ki = np.nonzero(mask & (rank <= k))
                yield pd.DataFrame({
                    "query_id": qid[qi],
                    point_id: best_i[qi, ki],
                    "dist_m": best_d[qi, ki],
                    "rank": rank[qi, ki].astype(np.int32)})

        return qdf.mapInPandas(
            gen_q, f"query_id string, {point_id} string, "
                   f"dist_m double, rank int")

    def gen(batches):
        best_d = np.full((nq, kk), np.inf)
        best_i = np.empty((nq, kk), dtype=object)
        for pdf in batches:
            pla = pdf["p_lat"].to_numpy(np.float64)
            plo = pdf["p_lon"].to_numpy(np.float64)
            ids = pdf[point_id].to_numpy()
            if len(pla) == 0:
                continue
            _topk_merge(best_d, best_i, qla, qlo, qxyz,
                        pla, plo, ids, _unit_xyz(pla, plo), kk)
        mask = np.isfinite(best_d)
        qi, ki = np.nonzero(mask)
        yield pd.DataFrame({
            "query_id": qids[qi],
            point_id: best_i[qi, ki],
            "dist_m": best_d[qi, ki]})

    partial = pts.mapInPandas(
        gen, f"query_id string, {point_id} string, dist_m double")
    if exclude_self:
        partial = partial.filter(F.col("query_id") != F.col(point_id))
    win = Window.partitionBy("query_id").orderBy("dist_m", point_id)
    return (partial.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select("query_id", point_id, "dist_m", "rank"))


def knn(points: DataFrame, queries: DataFrame, k: int,
        res: int = KNN_RES, initial_ring: int = 1,
        point_id: str = "image_id", family: str = "equirect",
        trace: dict | None = None) -> DataFrame:
    """Exact top-k nearest points per query, (dist, id) tiebreak.

    points: (point_id, lat, lon); queries: (query_id, lat, lon), both
    ids strings.  Returns (query_id, <point_id>, dist_m, rank).

    knn_join with the queries as its left side and `initial_ring` as
    its ring: the same bounded-collect route decision, brute scan and
    ladder, and the same `trace` keys.  `res` does not affect the plan
    (the ladder picks per-row levels from measured density); it is
    accepted for existing callers.  `family` must be 'equirect' or
    's2'.  Both run the same engine and return identical exact rows.
    An s2 point side that carries the (face, s, t) ingest columns
    (cellsql.with_s2_cell(keep_fst=True)) must have derived them from
    its (lat, lon), or the call raises."""
    if family not in ("equirect", "s2"):
        raise ValueError(f"unknown cell family {family!r}")
    if family == "s2" and {"_s2f", "_s2s", "_s2t"} <= set(points.columns):
        from ..functions.cellsql import check_fst_source
        check_fst_source(points, "lat", "lon")
    return knn_join(queries, points, k, left_id="query_id",
                    right_id=point_id, ring=initial_ring, trace=trace)


# ---------------------------------------------------------------------------
# kNN JOIN (corpus x corpus)
# ---------------------------------------------------------------------------

def _pk(level: Column, i: Column, j: Column) -> Column:
    """Packed ladder key level<<54 | i<<27 | j.  The ladder only needs
    SOME per-(level, cell) key both sides derive identically, and
    plain shift-or packing is ~3 scalar bit ops where the Morton
    byte-table codec was 8 element_at lookups per key (that form,
    x 9 disk keys x active levels x both sides, measured ~27 s of
    serial driver planning/codegen in round 0 at 600k)."""
    return F.shiftleft(level.cast("long"), 54) \
        .bitwiseOR(F.shiftleft(i.cast("long"), 27)) \
        .bitwiseOR(j.cast("long"))


def _ring_keys(level: Column, i: Column, j: Column, ring: int) -> Column:
    """array<long> of the (2*ring+1)^2 packed keys of the ring-disk
    around grid cell (i, j) at `level` — the cell set of
    cellindex.disk(cell, ring), pinned against it in
    tests/test_spatial.py.  Longitude wraps (pmod 2<<level);
    out-of-range latitude rows are NULL elements (callers explode and
    drop nulls), which equals disk()'s drop at the poles.  i and j
    must be cheap column refs: each key references them again."""
    lv = level.cast("int")
    nlat = F.call_function("shiftleft", F.lit(1).cast("long"), lv)
    nlon = F.call_function("shiftleft", F.lit(2).cast("long"), lv)
    keys = []
    for di in range(-ring, ring + 1):
        for dj in range(-ring, ring + 1):
            ii = i + F.lit(di)
            jj = F.pmod(j + F.lit(dj), nlon)
            keys.append(F.when((ii >= 0) & (ii < nlat), _pk(level, ii, jj)))
    return F.array(*keys)


def _anc_keys(i: Column, j: Column, finest: int, levels) -> Column:
    """array<long> of the packed keys of finest-level cell (i, j)'s
    ancestor at each of `levels`: a coarser level's coordinates are
    exact right-shifts (floor commutes with power-of-2 scaling)."""
    return F.array(*[_pk(F.lit(L), F.shiftright(i, finest - L),
                         F.shiftright(j, finest - L)) for L in levels])


def _disk_exit_bound_col(lat: Column, lon: Column,
                         i_l: Column, j_l: Column,
                         level: int, ring: int) -> Column:
    """JVM Column twin of cellindex.disk_exit_distance_m with the
    level's constants folded at plan time: a conservative lower bound
    (meters, sphere R=6378137) on the distance from (lat, lon) — whose
    level-`level` grid coordinates are (i_l, j_l) — to any point
    OUTSIDE its ring-disk at that level.  Latitude sides are exact
    meridian arcs (+inf when the disk touches a pole); longitude sides
    are distance to the side meridian's full great circle, a lower
    bound (+inf when the disk wraps all longitudes).  Pinned
    bit-for-bit against the numpy kernel in
    tests/test_spatial.py::test_disk_exit_bound_col_matches_numpy."""
    INF = F.lit(float("inf"))
    nlat_l, nlon_l = 1 << level, 2 << level
    dlat_deg = 180.0 / nlat_l
    dlon_deg = 360.0 / nlon_l
    lat_lo = (i_l - ring) * F.lit(dlat_deg) - 90.0
    lat_hi = (i_l + ring + 1) * F.lit(dlat_deg) - 90.0
    d_s = F.when(lat_lo <= -90.0, INF).otherwise(
        F.radians(lat - lat_lo) * gk.EARTH_RADIUS_M)
    d_n = F.when(lat_hi >= 90.0, INF).otherwise(
        F.radians(lat_hi - lat) * gk.EARTH_RADIUS_M)
    if 2 * ring + 1 >= nlon_l:
        return F.least(d_s, d_n)
    cosphi = F.cos(F.radians(lat))
    darms = []
    for mer in ((j_l - ring) * F.lit(dlon_deg) - 180.0,
                (j_l + ring + 1) * F.lit(dlon_deg) - 180.0):
        dl = F.radians(F.pmod(lon - mer, F.lit(360.0)))
        darms.append(gk.EARTH_RADIUS_M * F.asin(
            F.least(F.greatest(cosphi * F.abs(F.sin(dl)),
                               F.lit(0.0)), F.lit(1.0))))
    return F.least(d_s, d_n, *darms)


def knn_join(left: DataFrame, right: DataFrame, k: int,
             left_id: str = "left_id", right_id: str = "right_id",
             levels=(24, 22, 20, 18, 16, 14, 12, 10, 8, 6, 4),
             margin: float = 4.0, ring: int = 1,
             exclude_self: bool = False,
             trace: dict | None = None) -> DataFrame:
    """EXACT k nearest `right` rows for EVERY `left` row — the one kNN
    engine.  BOTH sides are unbounded DataFrames, and only a left side
    or fold chunk within KNN_MAX_QUERIES rows is ever collected to the
    driver; knn() is this call with its queries as the left side.
    ROUTE — the priced rule _brute_fits, decided from ONE bounded
    collect: the right side is counted once, and the left side is
    collected up to min(KNN_MAX_QUERIES, BRUTE_OPS_BUDGET // n_right)
    + 1 rows.  Within that bound the frame is the whole left side, and
    the call is the exact tail fold below over it (one vectorized
    brute scan): no W-table probe, no rounds, no histogram collects,
    and a lazy result.  Past it the distributed ladder runs, and only
    that route counts the left side.

    left: (left_id, lat, lon); right: (right_id, lat, lon), both ids
    strings (else ValueError).  Returns (left_id, right_id, dist_m,
    rank) with the (dist, id) tiebreak — identical ordering to the SQL
    oracle.

    Pass a dict as `trace`: the brute route records ladder_skipped
    (the left row count); the ladder records probe {sec, start_hist}
    and round{i} {sec, remaining}; both record fold {sec, rows}.

    DENSITY-AWARE PER-ROW LEVELS (the hot-cell survival property): a
    single global join level dies on zipfian geo data — a city-center
    cell holding 10^4+ right rows would hand every left row in it a
    10^5-candidate 3x3 window (candidate volume ~ occupancy^2 per hot
    cell).  Instead, a fully distributed W table gives the EXACT
    3x3-window occupancy of every (ladder level, cell) — built from
    one cell-scale count table by per-level parent folds + disk
    scatter, no driver collect, no density model — and each left row
    starts at the FINEST ladder level whose MEASURED window holds >=
    margin*k right rows: dense rows join fine (small windows), sparse
    rows start coarse, and a sparse row NEXT to a hotspot starts fine
    too, because the hotspot is visible in its windows.  Exactness of
    the measurement is the survival property: estimator rules
    (own-cell counts, or coarse-rung neighborhoods extrapolated under
    a uniform-density assumption) were each measured dying on zipfian
    data, where peak density exceeds the rung mean ~90x (1.07e9
    candidate rows at 300k, 90 GB of window-sort spill).  Measured
    windows bound candidates per row to < 16*margin*k at EVERY
    density (next-coarser-rung factor at spacing 2), so hot cells
    cost the same per row as empty ocean.  The ladder must reach
    FINE enough that hotspot cores thin out: at finest=20 the 2.4M
    zipfian bench put 106k core rows at the finest rung with
    nothing finer to offer them, and since every pair for one cell
    shares one join key, the hot cells' join output piled into
    single tasks no partition count could split (max task 3.3x the
    median with EVEN input rows).  finest=24 (~10 m cells) restores
    the bounded-window property for any realistically-dense corpus.

    Plan per round (all distributed; rows at DIFFERENT levels share
    one join because a cell id embeds its level in bits 54+):
      1. left derives (i, j) ONCE at the finest ladder level; a
         coarser level's coordinates are exact right-shifts (floor
         commutes with power-of-2 scaling), so the per-row 3x3 disk
         explode is a small branch over lvl_idx of pure bit math
         (_ring_keys: packed shift-or keys, cellindex.disk's cells);
      2. cell-equi join against the right side, exploded from one
         persisted N-row (id, lat, lon, i, j) index to ONLY the
         round's active levels (pure shift-or key math — the
         matchable join volume, not the full ladder);
      3. JVM haversine, then a dist <= exit-bound prefilter
         (_disk_exit_bound_col: each row's distance to the nearest
         point OUTSIDE its own disk — candidates beyond it can never
         join a certified top-k), then the row_number window,
         filtered rank<=k immediately (WindowGroupLimit partial
         top-k both sides of the exchange, sorting only the
         certifiable survivors);
      4. a left row is DONE when k candidates survived the bound —
         the prefilter already enforced kth <= exit bound, so the
         ladder-kNN certificate collapses to n_found == k, with
         n_found from max(rank) of the top-k rows themselves (a
         count window over the same partition would force the full
         sort WindowGroupLimit just avoided).
    Unsatisfied rows coarsen (lvl_idx + 1) and re-join next round;
    rows that exhaust the ladder fold into an exact tail pass,
    _brute_force_knn (BLAS-chunked, distributed, no index build).  A
    fold above KNN_MAX_QUERIES rows runs as several scans over
    deterministic xxhash64 chunks, so a pathological all-sparse
    corpus costs more scans instead of aborting.  Brute ops are pure
    DISTRIBUTABLE work (~3e8 pair evals/s/core measured): at the
    9.6M self-join the measured fold was 60k rows, ~a minute of
    cluster work (5.8e11 ops at 32 cores), where folding through a
    per-query ladder (corpus-linear per round) was still running at
    +970 s.  The ladder
    also stops early and folds once the unsatisfied rows are at most
    KNN_TAIL_FOLD_FRAC of the left side or their op count fits the
    route rule — another round costs fixed job floors the scan does
    not.

    Exactness across levels: recomputing at a coarser level never
    loses candidates — a point's ring-1 window at level L is
    geometrically contained in its ring-1 window at any coarser
    level, so each round's top-k supersedes the previous round's
    partial view.

    exclude_self drops left_id == right_id pairs BEFORE ranking (the
    self-dedup shape), on the folded tail too."""
    from ..functions.cellsql import cell_ij_cols

    levels = sorted({int(L) for L in levels}, reverse=True)
    if not levels:
        raise ValueError("knn_join: empty level ladder")
    # a level whose longitude row has fewer than 2*ring+1 cells makes
    # the pmod wrap emit DUPLICATE cell keys per disk (ADVICE r6 #2:
    # duplicated candidate pairs let row_number rank one right_id
    # twice and evict a true kth neighbour) — refuse loudly; the
    # default coarsest level 4 has 32 cells per row
    for L in levels:
        if 2 * ring + 1 > (2 << L):
            raise ValueError(
                f"knn_join: level {L} has only {2 << L} longitude "
                f"cells (< 2*ring+1 = {2 * ring + 1}); the wrap would "
                f"duplicate disk cells — drop level {L} or shrink "
                f"ring")
    finest = levels[0]
    n_lvls = len(levels)
    # string ids only: the scan types ids string and breaks distance
    # ties on their string order, so a bigint id would fail the scan
    # in a worker, and the ladder's window would rank ties numerically
    for df, col in ((left, left_id), (right, right_id)):
        dt = df.schema[col].dataType
        if not isinstance(dt, T.StringType):
            raise ValueError(f"knn_join: id column {col!r} is "
                             f"{dt.simpleString()}; kNN ids must be "
                             f"strings")

    # every block this call stores — the right-side key table, round
    # tops, round remainings, the fold rows — is held by `held` and
    # released once the result has its own blocks, or on any exception
    # (without it a long interactive session accumulates one block-set
    # per call, and a failed round or fold chunk leaks its blocks)
    spark_cx = left.sparkSession
    with Intermediates() as held:
        right_base = right.select(
            F.col(right_id), F.col("lat").alias("r_lat"),
            F.col("lon").alias("r_lon"))
        left_raw = left.select(
            F.col(left_id), F.col("lat").alias("l_lat"),
            F.col("lon").alias("l_lon"))
        # the brute scan's query frame, (query_id, lat, lon)
        as_queries = (F.col(left_id).alias("query_id"),
                      F.col("l_lat").alias("lat"),
                      F.col("l_lon").alias("lon"))
        n_right = right_base.count()
        import time as _time
        _tp0 = _time.perf_counter()
        # ONE bounded collect decides the route: the left side up to the
        # largest count _brute_fits admits against n_right, plus one
        # row.  Within the bound the frame IS the whole left side and
        # the brute scan's query side; past it the ladder runs.
        cap = min(KNN_MAX_QUERIES, BRUTE_OPS_BUDGET // max(n_right, 1))
        left_pdf = left_raw.select(*as_queries).limit(cap + 1).toPandas()
        run_ladder = not _brute_fits(len(left_pdf), n_right)

        results = []
        fold_rows = None
        n_rem = 0
        if not run_ladder:
            # LADDER SKIP: below the priced crossover the round machinery
            # (W probe, key-table build, join, window, histogram collects:
            # ~30 fixed job floors at 2,000 x 10,000) costs more than the
            # whole brute scan.  The fold is exact, so results are
            # identical to the ladder's.
            n_left = len(left_pdf)
            if trace is not None:
                trace["ladder_skipped"] = n_left
        else:
            left_pdf = None   # truncated; the fold collects its own rows
            n_left = left_raw.count()
            # persist the right side ONCE at N rows with its finest (i, j)
            # pair; every round derives its join keys from these by pure
            # shifts, exploded ONLY to the round's ACTIVE levels.  The r5
            # shape persisted an 11-levels x N pre-explode, which (a) held
            # 11N rows in the block manager for a join that can only ever
            # match the <= 3 levels the W table routed rows to, and (b)
            # shuffled all 11N rows through every round's exchange (rounds
            # are separate jobs — no exchange reuse), ~4x the matchable
            # volume at the measured start histograms.
            iR, jR = cell_ij_cols(F.col("r_lat"), F.col("r_lon"), finest)
            right_idx = held.persist(right_base.select(
                "*", iR.alias("_ri"), jR.alias("_rj")))
            # W TABLE — exact 3x3-window occupancy per (level, cell), built
            # fully distributed from the cell-scale count table: one N-row
            # groupBy at the finest ladder level, then per-level parent
            # folds + ring-1 disk scatter (all CELL-scale shuffles).  No
            # driver collect, no density extrapolation: two cheaper start
            # rules were measured failing on the zipfian 600k self-join
            # first — (a) the r5 own-probe-cell estimate under-certifies
            # sparse rows (an extra round of job floors for ~17% of the
            # corpus), and (b) a rung-ladder probe (rung-9 neighborhood
            # counts extrapolated to fine levels under a uniform-density
            # assumption) underestimates hotspot peak
            # density ~90x: 1.07e9 actual candidate rows at 300k where the
            # target was ~5e6, 90 GB of window-sort spill.  Exact per-level
            # windows make the start level PRICED: the chosen window really
            # holds >= margin*k right rows, and by window nesting the first
            # satisfying level is the finest — cost per left row is bounded
            # at EVERY density by the next-coarser rung's factor (16x at
            # the spacing-2 default).
            mk = float(margin * k)
            # PRICED window cap (r7, VERDICT r6 #1): the start rule picks
            # the finest level whose measured window holds >= mk rows, but
            # zipfian density is DISCONTINUOUS — a sparse row 50 km from a
            # city center has near-empty fine windows and then a window
            # that jumps straight to the whole hotspot (millions of rows)
            # at the first coarse level that reaches it.  Those few rows
            # made round 0 a single-task straggler: the 4.8M event-log
            # profile showed the round-0 join stage at p50=0.91 s with a
            # 46.7 s max task (pure CPU, no GC/fetch skew) — the hot
            # coarse CELL is one join key no partition count can split,
            # and the per-row "<16*margin*k" window-nesting bound only
            # holds for locally-continuous density.  The same pricing the
            # fold already applies says those pairs are ~300x cheaper in
            # the vectorized brute tail (~3e8 pair-evals/s/core) than in
            # the join+window path, so a start level only QUALIFIES when
            # its window is <= wcap; rows with no qualifying level fold.
            # Results are invariant — the exit-bound certificate decides
            # row completion and the fold is exact — only the routing
            # changes (pinned by the fold-equivalence tests + oracle).
            wcap = float(max(64 * mk, n_right // 20))
            adj = F.lit(1 if exclude_self else 0)
            iF, jF = cell_ij_cols(F.col("r_lat"), F.col("r_lon"), finest)
            cnt_f = right_base.select(iF.alias("_i"), jF.alias("_j")) \
                .groupBy("_i", "_j").count()
            # ONE posexplode emits every finest cell's packed ancestor key
            # at every ladder level; ONE groupBy then counts all (level,
            # cell) pairs at once.  (The first cut ran 9 per-level groupBy
            # branches — 9 parallel stages AND 9 plan subtrees whose
            # driver-side planning gaps outweighed the cluster work.)
            anc = _anc_keys(F.col("_i"), F.col("_j"), finest, levels)
            cnt_all = cnt_f.select(F.explode(anc).alias("_ck"), "count") \
                .groupBy("_ck").agg(F.sum("count").alias("_n"))
            # pin the ring-scatter stage's parallelism (r7): AQE
            # coalesces the cnt_all exchange by BYTES (~12 MB
            # partitions), but the downstream stage explodes each row
            # (2*ring+1)^2-fold into a partial aggregation — at 9.6M
            # the 34 coalesced tasks each spilled (1.1 GB total) and
            # the heaviest probe stage ran one ~2-minute wave.  An
            # explicit cell-keyed repartition (compact 16-byte rows,
            # one cheap extra exchange) spreads the explode+agg and
            # shrinks per-task hash tables; sized like the verify
            # stages — scales with the session's shuffle knob.
            n_scatter = max(
                4 * spark_cx.sparkContext.defaultParallelism,
                int(spark_cx.conf.get("spark.sql.shuffle.partitions",
                                      "200")))
            cnt_all = cnt_all.repartition(n_scatter, "_ck")
            # ring scatter off the DECODED key (shifts, no codec): the
            # (2*ring+1)^2 window sum at cell x = sum over cells whose
            # disk holds x — the same _ring_keys disk the rounds join
            # on (ADVICE r6 #1: a hardcoded 3x3 here under ring>1
            # silently measured undersized windows; results stayed exact
            # via the certificate, but start levels were mis-priced)
            cn = cnt_all.select(
                "_n", F.shiftright(F.col("_ck"), 54).alias("_L"),
                F.shiftright(F.col("_ck"), 27)
                 .bitwiseAND(F.lit((1 << 27) - 1)).alias("_ic"),
                F.col("_ck").bitwiseAND(F.lit((1 << 27) - 1)).alias("_jc"))
            nbrs = _ring_keys(F.col("_L"), F.col("_ic"), F.col("_jc"), ring)
            wtab = cn.select(F.explode(nbrs).alias("_c"), "_n") \
                .filter(F.col("_c").isNotNull()) \
                .groupBy("_c").agg(F.sum("_n").alias("_w"))
            # prune entries that can never set a start level (_w too small
            # to satisfy), EXCEPT at the coarsest level, which also feeds
            # the _wmax >= k coarsest-fallback/sentinel decision — the
            # pruned join side is small enough for AQE to broadcast, so
            # the left explode never shuffles for the join
            wtab = wtab.filter(
                (F.col("_w") - adj >= mk)
                | (F.shiftright(F.col("_c"), 54) == levels[-1]))

            # per-CELL start level, joined back to left rows (r6): the start
            # level — FINEST ladder level whose measured window holds >=
            # margin*k rights, min posexplode index, valid by
            # window-nesting monotonicity — is a function of the row's
            # FINEST cell alone (every ladder window is derived from the
            # cell, not the point), so it is computed once per DISTINCT
            # finest cell and equi-joined to left on one packed long key.
            # The previous shape exploded EVERY left row 11x and
            # re-aggregated 105M exploded rows by 9.6M string ids through
            # a sort-merge join (wtab outgrows the broadcast threshold at
            # corpus scale); on an 8-core/24g executor — a realistic
            # cluster shape — that stage exhausted the execution pool and
            # killed the executor outright (ShuffleExternalSorter could
            # not acquire 32 KB; raw heap-space OOM in the concurrent
            # stage).  Per-cell the explode touches distinct cells only
            # (16-byte long rows, no string agg), and the row-scale work
            # collapses to one long-keyed equi-join.  Cells come from the
            # LEFT side alone: cell_start rows are only ever consumed by
            # joining left rows, so right-only cells would be computed and
            # dropped — and in the asymmetric shape (small left vs huge
            # right) they would make probe cost scale with the WRONG side.
            # A left cell with no right rows anywhere near still gets its
            # lookup row (wtab left-join -> all-null -> sentinel/coarsest).
            liF, ljF = cell_ij_cols(F.col("l_lat"), F.col("l_lon"), finest)
            lkey = left_raw.select(F.col(left_id), "l_lat", "l_lon",
                                   _pk(F.lit(finest), liF, ljF).alias("_fk"))
            cells = lkey.select("_fk").distinct()
            # decode-then-shift (mask BEFORE the ancestor shift: the packed
            # level field sits directly above the i field, so shifting the
            # raw key right by 27+s smears level bits into the masked i
            # for s >= 4)
            _fi = F.shiftright(F.col("_fk"), 27) \
                .bitwiseAND(F.lit((1 << 27) - 1))
            _fj = F.col("_fk").bitwiseAND(F.lit((1 << 27) - 1))
            canc = _anc_keys(_fi, _fj, finest, levels)
            cx = cells.select("_fk", F.posexplode(canc).alias("_lx", "_c"))
            cs = cx.join(wtab, "_c", "left") \
                .withColumn("_wv", F.coalesce(F.col("_w"), F.lit(0)) - adj) \
                .groupBy("_fk").agg(
                    F.min(F.when((F.col("_wv") >= mk)
                                 & (F.col("_wv") <= wcap), F.col("_lx")))
                     .alias("_si"),
                    F.max("_wv").alias("_wmax"))
            # fallbacks: a row whose windows never reach mk but whose
            # coarsest window holds >= k starts coarsest (small windows —
            # always under the cap when _wmax < mk <= wcap); a row whose
            # only satisfying windows exceed the cap folds (priced: brute
            # beats a multi-million-pair join key)
            start = F.coalesce(
                F.col("_si"),
                F.when((F.col("_wmax") >= k) & (F.col("_wmax") <= wcap),
                       F.lit(n_lvls - 1)),
                F.lit(n_lvls))
            cell_start = cs.select("_fk", start.cast("int").alias("_li"))
            # LAZY checkpoint: the histogram job below materializes these
            # blocks AND hands back the active-level set, so each round's
            # plan only contains Generate branches for levels that hold
            # rows (a 13-branch every-level union was measured costing
            # ~5 s/round of empty partition scans at 128 partitions)
            labeled = held.checkpoint(
                lkey.join(cell_start, "_fk", "left")
                .select(F.col(left_id), "l_lat", "l_lon",
                        F.coalesce(F.col("_li"), F.lit(n_lvls))
                         .cast("int").alias("_li")))
            remaining = labeled.filter(F.col("_li") < n_lvls)
            fold_rows = labeled.filter(F.col("_li") >= n_lvls)
            hist = {int(r["_li"]): int(r["count"])
                    for r in labeled.groupBy("_li").count().collect()}
            active = {i for i in hist if i < n_lvls}
            if trace is not None:
                trace["probe"] = {
                    "sec": round(_time.perf_counter() - _tp0, 2),
                    "start_hist": {
                        (levels[i] if i < n_lvls else "fold"): hist[i]
                        for i in sorted(hist)}}
        for _round in range(n_lvls if run_ladder else 0):
            if not active:
                n_rem = 0
                break
            _t0 = _time.perf_counter()
            i, j = cell_ij_cols(F.col("l_lat"), F.col("l_lon"), finest)
            base = remaining.select("*", i.alias("_if"), j.alias("_jf"))
            # per-row disk at its own level: coarser (i, j) are exact
            # right-shifts of the finest pair (floor/2^n commute).  One
            # small filtered Generate PER LEVEL, unioned — a single
            # CASE-over-levels array inside one Generate blew janino's
            # 64 KB method limit at 7 ladder rungs; the union keeps every
            # doConsume tiny and the branches all read the same
            # checkpointed frame.  Disk keys are packed shift-or combos
            # (_ring_keys) — each array element is ~8 scalar bit ops,
            # so even a ring-2 25-element Generate compiles in ms where
            # the byte-table morton form blew the 64 KB janino limit and
            # cost ~27 s/round of serial driver codegen.
            parts = []
            for idx, L in enumerate(levels):
                if idx not in active:
                    continue
                sh = finest - L
                p0 = base.filter(F.col("_li") == idx).select(
                    F.col(left_id), "l_lat", "l_lon",
                    F.shiftright(F.col("_if"), sh).alias("_iL"),
                    F.shiftright(F.col("_jf"), sh).alias("_jL"))
                # per-branch JVM exit bound (cellindex.disk_exit_distance_m
                # with L's constants folded at plan time): the distance from
                # this left row to the nearest point OUTSIDE its own disk.
                # Candidates farther than it are dead weight — they can
                # never belong to a CERTIFIED top-k (if the unfiltered kth
                # were beyond the bound the certificate fails and the row
                # escalates regardless), so the round filters them out
                # BEFORE the rank window.  Measured: the partial top-k sort
                # over raw window candidates (up to 16*margin*k rows for a
                # row whose next-finer window just missed mk) spilled
                # 2-5.5 GB PER TASK at 2.4M and put the join stage's max
                # task at 3.3x the median; the bound filter cuts the sort
                # set to the ~cell-radius disk (~window/10) and the
                # certificate becomes simply n_found == k.
                xb = _disk_exit_bound_col(
                    F.col("l_lat"), F.col("l_lon"),
                    F.col("_iL"), F.col("_jL"), L, ring)
                cells = _ring_keys(F.lit(L), F.col("_iL"), F.col("_jL"), ring)
                p = p0.select(F.col(left_id), "l_lat", "l_lon",
                              xb.alias("_xb"),
                              F.explode(cells).alias("_c"))
                parts.append(p.filter(F.col("_c").isNotNull()))
            lw = parts[0]
            for p in parts[1:]:
                lw = lw.unionByName(p)
            r_anc = _anc_keys(F.col("_ri"), F.col("_rj"), finest,
                              [levels[i] for i in sorted(active)])
            rl = right_idx.select("*", F.explode(r_anc).alias("_c")) \
                .drop("_ri", "_rj")
            cand = lw.join(rl, "_c")
            if exclude_self:
                cand = cand.filter(F.col(left_id) != F.col(right_id))
            dist = _haversine_col(F.col("l_lat"), F.col("l_lon"),
                                  F.col("r_lat"), F.col("r_lon"))
            w = Window.partitionBy(left_id).orderBy(
                F.asc("dist_m"), F.asc(right_id))
            # LAZY checkpoint: the round's single materializing job is the
            # n_rem count below — it computes the join+window ONCE, stores
            # the top-k blocks, and everything downstream (stats, the final
            # results union) reads the blocks.  Eagerly checkpointing here
            # was a second job floor per round for the same bytes.
            # dist <= _xb BEFORE the window: provably decision- and
            # output-identical (see the _xb comment above) and it is what
            # keeps the rank sort small — only the own-disk-certifiable
            # candidates are ever sorted.
            # PROJECT TO THE WINDOW'S WORKING SET before the rank exchange:
            # the rank window's hash exchange is the single largest shuffle
            # in the operator (every surviving candidate row crosses it),
            # and nothing downstream of the window reads l_lat/l_lon/_li/_xb
            # (stats needs left_id+rank; the results union needs
            # left_id/right_id/dist_m/rank; unsat rows re-derive coords from
            # `remaining`, never from `top`) — carrying them was ~28 B of a
            # ~70 B row.  Measured at the 9.6M self-join: the round-0
            # exchange+sort wrote > 30 GB of shuffle/spill with the wide
            # row and exhausted a 57 GB scratch disk; the trimmed row
            # fits the same leg comfortably.
            top = held.checkpoint(
                cand.select(F.col(left_id), F.col(right_id),
                            dist.alias("dist_m"), "_xb")
                .filter(F.col("dist_m") <= F.col("_xb"))
                .drop("_xb")
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))
            # ONE left-join against the round's stats decides done/unsat:
            # a two-branch shape (ok-filter union leftanti) referenced the
            # stats aggregate twice, and with the lazy top checkpoint the
            # two branches race to compute the join+window partitions
            # inside the same materializing job — the single-path join
            # keeps the expensive round plan evaluated exactly once.
            # Rows with ZERO candidates have no stats row (n_found null)
            # and fall into unsat via the isNull arm.
            # the _xb prefilter already enforced kth <= exit bound, so the
            # certificate collapses to n_found == k — no Python crossing
            # anywhere in the round.
            stats = top.groupBy(left_id).agg(
                F.max("rank").alias("n_found"))
            j = remaining.join(stats, left_id, "left")
            ok = F.col("n_found") == k
            done_ids = j.filter(ok).select(left_id)
            results.append(top.join(done_ids, left_id, "leftsemi")
                           .select(left_id, right_id, "dist_m", "rank"))
            unsat = j.filter(F.col("n_found").isNull() | ~ok) \
                .select(F.col(left_id), "l_lat", "l_lon", "_li")
            exhausted = unsat.filter(F.col("_li") >= n_lvls - 1)
            fold_rows = exhausted if fold_rows is None else \
                fold_rows.unionByName(exhausted)
            remaining = held.checkpoint(
                unsat.filter(F.col("_li") < n_lvls - 1)
                .withColumn("_li", F.col("_li") + 1))
            # THE round barrier: one histogram job materializes this
            # round's remaining AND (transitively, through stats) the
            # round's top-k blocks, and returns the next active-level set
            hist = {int(r["_li"]): int(r["count"])
                    for r in remaining.groupBy("_li").count().collect()}
            active = set(hist)
            n_rem = sum(hist.values())
            if trace is not None:
                trace[f"round{_round}"] = {
                    "sec": round(_time.perf_counter() - _t0, 2),
                    "remaining": n_rem}
            if n_rem == 0:
                break
            # small-tail early fold: another distributed round costs fixed
            # job floors regardless of size; below this fraction, or once
            # the stragglers' op count fits the route rule, the fold
            # finishes them faster than the round machinery restarts
            if (n_rem <= KNN_TAIL_FOLD_FRAC * n_left
                    or _brute_fits(n_rem, n_right)):
                fold_rows = remaining if fold_rows is None else \
                    fold_rows.unionByName(remaining)
                n_rem = 0
                break
        if n_rem > 0:  # ladder exhausted with rows still unsatisfied
            fold_rows = remaining if fold_rows is None else \
                fold_rows.unionByName(remaining)

        if fold_rows is not None:
            # one materialization serves the size check AND every chunk's
            # collect (the union's branches re-aggregate round tops
            # otherwise)
            fold_rows = held.checkpoint(fold_rows)
            n_fold = fold_rows.count()
        else:
            n_fold = 0 if left_pdf is None else len(left_pdf)
        _tf0 = _time.perf_counter()
        # the fold is the exact brute scan: fold x right distance ops,
        # BLAS-chunked, distributed by queries (broadcast store) or by
        # points (running top-k merge), nothing driver-side but the fold
        # rows themselves; the scan drops self pairs in-scan.  The brute
        # route's fold is the collected left frame.  A ladder fold above
        # KNN_MAX_QUERIES rows (most of a pathological left side sparse
        # at every ladder level) runs as one scan per hash chunk.  The
        # 0.9 slack absorbs hash imbalance; xxhash64 keeps chunking
        # deterministic.
        n_chunks = 1 if n_fold <= KNN_MAX_QUERIES else \
            -(-n_fold // int(0.9 * KNN_MAX_QUERIES))
        bpts = right_base.select(F.col(right_id).alias("_pid"),
                                 F.col("r_lat").alias("p_lat"),
                                 F.col("r_lon").alias("p_lon"))
        for chunk in range(n_chunks if n_fold else 0):
            fold_pdf = left_pdf
            if fold_pdf is None:
                q = fold_rows.select(*as_queries)
                if n_chunks > 1:
                    q = q.filter(F.pmod(F.xxhash64("query_id"),
                                        F.lit(n_chunks)) == chunk)
                fold_pdf = q.toPandas()
            if fold_pdf.empty:
                continue
            folded = _brute_force_knn(bpts, fold_pdf, k, "_pid",
                                      n_right, (right, right_id),
                                      exclude_self)
            results.append(folded.select(
                F.col("query_id").alias(left_id),
                F.col("_pid").alias(right_id), "dist_m", "rank"))
        if trace is not None:
            trace["fold"] = {"sec": round(_time.perf_counter() - _tf0, 2),
                             "rows": int(n_fold)}

        if not results:
            # empty left side: an empty result frame with the input id
            # types preserved (no jobs run)
            return (left_raw.limit(0).crossJoin(right_base.limit(0))
                    .select(F.col(left_id), F.col(right_id),
                            F.lit(0.0).alias("dist_m"),
                            F.lit(0).cast("int").alias("rank")))
        out = results[0]
        for r in results[1:]:
            out = out.unionByName(r)
        # the ladder's result is checkpointed eagerly before its round
        # blocks and key table go; the brute route stores nothing, so
        # its result stays lazy: an eager checkpoint there would only
        # add a job (its store broadcast is unpersisted, never
        # destroyed, on eviction, so a later action re-fetches it)
        return held.result(out)


# ---------------------------------------------------------------------------
# raster tile assignment
# ---------------------------------------------------------------------------

def _block_cell_fn(res: int, family: str):
    """Block-center -> cell mapper for the chosen index family."""
    if family == "equirect":
        return lambda la, lo: cx.cell_id(la, lo, res)
    if family == "s2":
        return lambda la, lo: cx.s2_cell_id(la, lo, res)
    raise ValueError(f"unknown cell family {family!r}")


def _tile_cols(names) -> list:
    """The kernel's input columns: id, blob, and lat/lon when present,
    else the phash the geotag is derived from inside the same Arrow
    pass (a geo pandas_udf stage in front would double the per-slot
    worker count and move the bytes column across the channel twice)."""
    return ["image_id", "bytes"] + (["lat", "lon"] if "lat" in names
                                    else ["phash"])


def _binary_np(arr, ids):
    """(data uint8, offsets int64) view of an Arrow Binary/LargeBinary
    array without materializing per-row Python bytes; a null blob
    raises, naming its image."""
    import pyarrow as pa
    if arr.null_count:
        i = arr.is_null().to_pylist().index(True)
        raise ValueError(f"image {ids[i].as_py()!r} has a null bytes value")
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, offsets, data = arr.buffers()
    offsets = np.frombuffer(offsets, dtype=odt)[
        arr.offset: arr.offset + len(arr) + 1]
    return np.frombuffer(data, dtype=np.uint8), offsets.astype(np.int64)


def _decode_blocks(rb, grid: int, to_cell):
    """The one decode kernel: an Arrow batch of _tile_cols -> (row,
    cell, value) of its grid x grid blocks, flat in row-major block
    order.  Same-shape images decode as one stacked numpy op."""
    if "lat" in rb.schema.names:
        lat, lon = (rb.column(c).to_numpy().astype(np.float64, copy=False)
                    for c in ("lat", "lon"))
    else:
        lat, lon = ic.geotag_from_phash(
            rb.column("phash").to_numpy().astype(np.int64, copy=False))
    data, offsets = _binary_np(rb.column("bytes"), rb.column("image_id"))
    vals, blas, blos = ic.block_means_batch(data, offsets, lat, lon, grid)
    return (np.repeat(np.arange(rb.num_rows), grid * grid),
            to_cell(blas.reshape(-1), blos.reshape(-1)), vals.reshape(-1))


def _cell_partials(batches, grid: int, to_cell):
    """mapInArrow body of both tile_assignment routes: one partial per
    (row, cell) = (cell, image_id, nb = the row's blocks there, s =
    their sum), aggregated in the task before any shuffle."""
    import pyarrow as pa
    for rb in batches:
        if rb.num_rows:
            row, cells, vals = _decode_blocks(rb, grid, to_cell)
            (rk, ck), inv = np.unique(np.stack([row, cells]), axis=1,
                                      return_inverse=True)
            inv = inv.reshape(-1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ck), rb.column("image_id").take(rk),
                 pa.array(np.bincount(inv)),
                 pa.array(np.bincount(inv, weights=vals))],
                names=["cell", "image_id", "nb", "s"])


def _partial_schema(id_type: T.DataType) -> str:
    return f"cell long, image_id {id_type.simpleString()}, nb long, s double"


def image_blocks(images: DataFrame, grid: int = 4,
                 res: int = KNN_RES, family: str = "equirect") -> DataFrame:
    """One row per decoded block: (image_id, cell, block_row, block_col,
    mean_intensity), the cell being the one under the block's center;
    `images` is a geo-attached frame or the raw images table."""
    import pyarrow as pa
    to_cell = _block_cell_fn(res, family)

    def gen(batches):
        for rb in batches:
            if rb.num_rows:
                row, cells, vals = _decode_blocks(rb, grid, to_cell)
                blk = np.tile(np.arange(grid * grid, dtype=np.int32),
                              rb.num_rows)
                yield pa.RecordBatch.from_arrays(
                    [rb.column("image_id").take(row), pa.array(cells),
                     pa.array(blk // grid), pa.array(blk % grid),
                     pa.array(vals)],
                    names=["image_id", "cell", "block_row", "block_col",
                           "mean_intensity"])

    id_type = images.schema["image_id"].dataType.simpleString()
    return images.select(*_tile_cols(images.columns)).mapInArrow(
        gen, f"image_id {id_type}, cell long, block_row int, "
             "block_col int, mean_intensity double")


def _fs_and_path(path: str):
    """pyarrow filesystem + fs-relative path for any storage scheme
    (local, s3://, hdfs://, ...)."""
    import pyarrow.fs as pafs
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _list_parquet_files(parquet_path: str) -> list:
    """Sorted (path, size in bytes) of every parquet file under
    `parquet_path`, listed recursively via pyarrow's filesystem layer —
    works on object storage and partitioned directory trees, not just a
    flat local glob."""
    import pyarrow.fs as pafs
    fs, base = _fs_and_path(parquet_path)
    scheme = parquet_path.split("://", 1)[0] + "://" if "://" in parquet_path else ""
    infos = fs.get_file_info(pafs.FileSelector(base, recursive=True))
    return sorted((scheme + i.path, i.size) for i in infos
                  if i.type == pafs.FileType.File
                  and i.path.endswith(".parquet"))


def _path_partials(parquet_path: str, grid: int, to_cell) -> DataFrame:
    """The file-parallel route: each task reads whole parquet files with
    pyarrow, single-threaded (a task is one core; measured ~30% faster
    than iter_batches on the bench image files), so the blobs never
    cross the JVM<->Python channel (which anti-scales: 670 MB/s at 8
    workers, 400 MB/s at 32)."""
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession
    from pyspark.sql.pandas.types import from_arrow_type
    spark = SparkSession.active()
    files = _list_parquet_files(parquet_path)
    if not files:
        raise ValueError(f"no parquet files under {parquet_path}")
    # decode tasks sized from the files' bytes, capped at 2x cores (one
    # short straggler wave) and at the file count; task i reads
    # paths[i::n] off a JVM Range, so no Python RDD scan and no
    # repartition shuffle run ahead of the decode
    n = min(len(files), 2 * spark.sparkContext.defaultParallelism,
            _python_stage_parts(spark, sum(size for _, size in files)))
    paths = [path for path, _ in files]
    fs, first = _fs_and_path(paths[0])
    schema = pq.read_schema(first, filesystem=fs)
    cols = _tile_cols(schema.names)

    def read(path):
        fs, p = _fs_and_path(path)
        return pq.read_table(p, columns=cols, filesystem=fs,
                             use_threads=False).to_batches()

    def gen(batches):
        mine = [path for rb_in in batches
                for i in rb_in.column(0).to_pylist() for path in paths[i::n]]
        yield from _cell_partials((rb for path in mine for rb in read(path)),
                                  grid, to_cell)

    return spark.range(n, numPartitions=n).mapInArrow(
        gen, _partial_schema(from_arrow_type(schema.field("image_id").type)))


def tile_assignment(images: DataFrame | str, grid: int = 4,
                    res: int = KNN_RES,
                    family: str = "equirect") -> DataFrame:
    """Aggregate decoded raster blocks per vector cell: (cell, n_blocks,
    n_images, avg_intensity).  The input's type picks the route:
    a DataFrame (lat/lon columns, or the raw table whose phash carries
    the geotag) is one mapInArrow over (image_id, bytes, geotag); a
    parquet path string is the file-parallel decode (_path_partials).
    Both run one kernel (_decode_blocks, for either family) and
    pre-aggregate per (row, cell) in the task, then end in one exact
    aggregate: n_images counts distinct image_ids, so an id repeated
    across rows or files counts once.  Repartitioning by cell first
    puts the distinct count behind a single exchange.  family='s2'
    assigns blocks to quad-sphere cells (near-uniform ground area)."""
    to_cell = _block_cell_fn(res, family)
    if isinstance(images, str):
        partial = _path_partials(images, grid, to_cell)
    else:
        partial = images.select(*_tile_cols(images.columns)).mapInArrow(
            lambda batches: _cell_partials(batches, grid, to_cell),
            _partial_schema(images.schema["image_id"].dataType))
    return (partial.repartition("cell").groupBy("cell")
            .agg(F.sum("nb").alias("n_blocks"),
                 F.countDistinct("image_id").alias("n_images"),
                 (F.sum("s") / F.sum("nb")).alias("avg_intensity")))


def tile_assignment_direct(spark, parquet_path: str, grid: int = 4,
                           res: int = KNN_RES) -> DataFrame:
    """tile_assignment over a parquet path (the file-parallel route)."""
    return tile_assignment(parquet_path, grid, res)
