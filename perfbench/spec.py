"""Metric definitions: the end-to-end metrics every run prints, and the
per-layer metrics a traced run prints, each tagged with the end-to-end
metric and workloads it is expected to move.  BENCHMARK.json lists the
same names; run.py refuses to run when the two disagree."""

from __future__ import annotations

GEO, RASTER_OSM = "geo_batch", "raster_osm"
ALL = (GEO, RASTER_OSM)

# name, unit, better, bound
END_TO_END = [
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

# engine spans: (span name, e2e metric moved, workloads it runs on)
SPANS = [
    ("spatial.attach_geo", "rows_per_s", (GEO,)),
    ("spatial.point_in_polygon", "rows_per_s", (GEO,)),
    ("spatial.knn", "rows_per_s", (GEO,)),
    ("spatial.knn_join", "rows_per_s", (GEO,)),
    ("spatial.tile_assignment_direct", "rows_per_s", (RASTER_OSM,)),
    ("multimodal.phash_images", "rows_per_s", (RASTER_OSM,)),
    ("dedup.hash_near_pairs", "rows_per_s", (RASTER_OSM,)),
    ("denormalize.run_pipeline", "rows_per_s", (RASTER_OSM,)),
    ("tableio.write", "rows_per_s", (RASTER_OSM,)),
]
SPAN_STATS = [
    ("wall_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("busy_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("jobs", "count", "lower"),
    ("task_skew", "ratio", "lower"),
]

# name, unit, better, e2e metric moved, workloads
OTHER = [
    ("cold_setup_s", "s", "lower", "none", ALL),
    ("session.build_session.wall_s", "s", "lower", "setup_s", ALL),
    ("session.warm_python_workers.wall_s", "s", "lower", "setup_s", ALL),
    ("synth.gen_s", "s", "lower", "none", ALL),
    ("spatial.point_in_polygon.hits_per_candidate", "ratio", "higher",
     "rows_per_s", (GEO,)),
    ("spatial.knn_join.rounds", "count", "lower", "rows_per_s", (GEO,)),
    ("spatial.knn_join.fold_rows", "rows", "lower", "rows_per_s", (GEO,)),
    ("dedup.hash_near_pairs.pairs_per_candidate", "ratio", "higher",
     "rows_per_s", (RASTER_OSM,)),
    ("checkpoint.stage.wall_s", "s", "lower", "rows_per_s", (RASTER_OSM,)),
    ("checkpoint.stage.self_s", "s", "lower", "rows_per_s", (RASTER_OSM,)),
    ("checkpoint.stage.resume_s", "s", "lower", "rows_per_s", (RASTER_OSM,)),
    ("tableio.write.lineage_s", "s", "lower", "rows_per_s", (RASTER_OSM,)),
    ("tableio.bytes_written_mb", "MB", "lower", "rows_per_s", (RASTER_OSM,)),
    ("tableio.stored_bytes_per_row", "B/row", "lower", "rows_per_s", (RASTER_OSM,)),
    ("imagecodec.block_means_batch.mb_per_s", "MB/s", "higher",
     "rows_per_s", (RASTER_OSM,)),
    ("imagecodec.phash64.images_per_s", "1/s", "higher", "rows_per_s",
     (RASTER_OSM,)),
    ("geokernels.raycast_contains_stacked.pts_per_s", "1/s", "higher",
     "rows_per_s", (GEO,)),
    ("cellindex.cell_id.pts_per_s", "1/s", "higher", "rows_per_s", (GEO,)),
    ("geokernels.centroid_and_bounds.rows_per_s", "rows/s", "higher",
     "rows_per_s", (RASTER_OSM,)),
    ("spark.fetch_wait_s", "s", "lower", "rows_per_s", ALL),
    ("spark.sched_delay_s", "s", "lower", "rows_per_s", ALL),
    ("peak_rss_mb", "MB", "lower", "none", ALL),
    ("spark.peak_heap_mb", "MB", "lower", "none", ALL),
    ("trace.rows_per_s", "rows/s", "higher", "rows_per_s", ALL),
    ("trace.overhead_frac", "ratio", "lower", "rows_per_s", ALL),
]


def per_layer():
    """[(name, unit, better, moves, workloads)] in output order."""
    out = [(f"{span}.{stat}", unit, better, moves, wls)
           for span, moves, wls in SPANS
           for stat, unit, better in SPAN_STATS]
    return out + OTHER
