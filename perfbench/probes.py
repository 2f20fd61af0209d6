"""Kernel probes: direct single-process calls into the numpy kernels on
fixed seeded samples, timed in the benchmark process (one BLAS thread).
Each probe reports the median rate over a few repetitions."""

from __future__ import annotations

import statistics
import time

import numpy as np

from pbf2json_spark.functions import cellindex as cx
from pbf2json_spark.functions import geokernels as gk
from pbf2json_spark.functions import imagecodec as ic
from pbf2json_spark.sources import synth


def _rate(work: float, fn, reps: int = 5) -> float:
    fn()
    rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        rates.append(work / (time.perf_counter() - t0))
    return statistics.median(rates)


def run(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    seqs = (seed * 1_000_003) % 10**11 + np.arange(64)
    rows = [synth.gen_image_row(int(s), (64, 128, 256)) for s in seqs]
    blobs = [r[1] for r in rows]
    data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum([len(b) for b in blobs])))
    lat, lon = ic.geotag_from_phash(np.array([r[6] for r in rows], np.int64))
    pixels = [ic.decode_image(b) for b in blobs]

    polys = synth.gen_polygons_pdf(64, seed)
    tables = gk.build_stacked_edges({
        p.poly_id: [(np.asarray(p.ring_lats), np.asarray(p.ring_lons))]
        for p in polys.itertuples()})
    n_pts = 100_000
    codes = rng.integers(0, len(polys), n_pts)
    plat = rng.uniform(-60, 60, n_pts)
    plon = rng.uniform(-180, 180, n_pts)

    nodes, ways, _ = synth.gen_osm_tables(2_000, 500, 0, seed)
    by_id = nodes.set_index("id")
    way_coords = []
    for refs in ways.refs:
        ok = [r for r in refs if r in by_id.index]
        way_coords.append((by_id.lat[ok].to_numpy(), by_id.lon[ok].to_numpy()))

    return {
        "imagecodec.block_means_batch.mb_per_s": _rate(
            len(data) / 1e6,
            lambda: ic.block_means_batch(data, offsets, lat, lon, 4)),
        "imagecodec.phash64.images_per_s": _rate(
            len(pixels), lambda: [ic.phash64(p) for p in pixels]),
        "geokernels.raycast_contains_stacked.pts_per_s": _rate(
            n_pts, lambda: gk.raycast_contains_stacked(tables, codes, plat, plon)),
        "cellindex.cell_id.pts_per_s": _rate(
            n_pts, lambda: cx.cell_id(plat, plon, 12)),
        "geokernels.centroid_and_bounds.rows_per_s": _rate(
            len(way_coords),
            lambda: [gk.centroid_and_bounds(la, lo) for la, lo in way_coords
                     if len(la)]),
    }
