"""Quad-sphere ('S2-style') cell family: hierarchy containment,
area uniformity (the property the family exists for), face sanity,
and the tile-assignment integration."""

import numpy as np
from pyspark.sql import functions as F

from pbf2json_spark.functions import cellindex as cx


def test_s2_containment_monotone_in_level():
    rng = np.random.default_rng(41)
    lat = rng.uniform(-89.9, 89.9, 50_000)
    lon = rng.uniform(-180, 180, 50_000)
    for fine, coarse in ((12, 8), (10, 3), (8, 0)):
        cf = cx.s2_cell_id(lat, lon, fine)
        cc = cx.s2_cell_id(lat, lon, coarse)
        assert np.array_equal(cx.s2_parent(cf, coarse), cc)


def test_s2_area_uniformity_beats_equirect():
    """Occupancy-weighted cell-count ratio: on a uniform sphere sample,
    the quad-sphere family's per-cell point-count spread (p99/p1) must
    be far tighter than the equirect grid's (whose polar cells shrink
    to slivers)."""
    rng = np.random.default_rng(42)
    # uniform ON THE SPHERE (not in lat/lon): z uniform, lon uniform
    z = rng.uniform(-1, 1, 400_000)
    lat = np.degrees(np.arcsin(z))
    lon = rng.uniform(-180, 180, 400_000)

    def spread(cells):
        _, counts = np.unique(cells, return_counts=True)
        return np.percentile(counts, 99) / max(np.percentile(counts, 1), 1)

    s2_spread = spread(cx.s2_cell_id(lat, lon, 6))
    eq_spread = spread(cx.cell_id(lat, lon, 6))
    assert s2_spread < eq_spread / 2, (s2_spread, eq_spread)
    assert s2_spread < 6, s2_spread


def test_s2_faces_cover_and_levels_decode():
    lat = np.array([0.0, 0.0, 0.0, 0.0, 89.0, -89.0])
    lon = np.array([0.0, 180.0, 90.0, -90.0, 10.0, 10.0])
    f, lvl, i, j = cx.s2_decode(cx.s2_cell_id(lat, lon, 9))
    assert sorted(f.tolist()) == [0, 1, 2, 3, 4, 5]
    assert np.all(lvl == 9)


def test_attach_geo_and_tile_assignment_s2(spark):
    from pbf2json_spark.operators.spatial import attach_geo, tile_assignment
    from pbf2json_spark.sources.synth import images_df
    imgs = images_df(spark, 64, partitions=4)
    geo = attach_geo(imgs, res_list=(9,), s2_levels=(8, 12))
    row = geo.select("lat", "lon", "s2_l8", "s2_l12").first()
    got8 = cx.s2_cell_id(np.array([row.lat]), np.array([row.lon]), 8)[0]
    assert int(row.s2_l8) == int(got8)
    assert int(cx.s2_parent(np.array([row.s2_l12]), 8)[0]) == int(row.s2_l8)
    tiles = tile_assignment(geo, grid=2, res=10, family="s2")
    rows = tiles.collect()
    assert rows and all(cx.s2_decode(np.array([r.cell]))[1][0] == 10
                        for r in rows)


def test_tile_assignment_s2_path_route_equals_frame_route(spark, tmp_path):
    """family='s2' on the parquet-path route: the same cells, block and
    image counts as the frame route over the same table."""
    from pbf2json_spark.operators.spatial import tile_assignment
    from pbf2json_spark.sources.synth import images_df
    path = str(tmp_path / "imgs")
    images_df(spark, 300, partitions=3).write.parquet(path)
    a = tile_assignment(spark.read.parquet(path), res=12, family="s2") \
        .orderBy("cell").toPandas()
    b = tile_assignment(path, res=12, family="s2").orderBy("cell").toPandas()
    assert len(a) > 0
    assert a["cell"].tolist() == b["cell"].tolist()
    assert a["n_blocks"].tolist() == b["n_blocks"].tolist()
    assert a["n_images"].tolist() == b["n_images"].tolist()
    assert np.allclose(a["avg_intensity"], b["avg_intensity"])
    assert (cx.s2_decode(b["cell"].to_numpy())[1] == 12).all()


def test_with_s2_scratch_name_guard(spark):
    """Reserved _s2* scratch names on the input frame must be refused
    up front (ADVICE r4: duplicate columns -> ambiguous-reference
    failures deep downstream otherwise)."""
    import pytest

    from pbf2json_spark.functions.cellsql import with_s2_cell, with_s2_fst
    df = spark.range(3).select(
        F.lit(10.0).alias("lat"), F.lit(20.0).alias("lon"),
        F.lit(1).alias("_s2u"))
    with pytest.raises(ValueError, match="reserved scratch"):
        with_s2_fst(df, "lat", "lon")
    with pytest.raises(ValueError, match="reserved scratch"):
        with_s2_cell(df, "lat", "lon", 9, "c")


def test_with_s2_cell_reuses_preattached_fst(spark):
    """A frame from with_s2_cell(keep_fst=True) can take further
    levels without re-deriving (or clobbering) the fst columns, and
    the reused-path cells equal the fresh-path cells."""
    from pbf2json_spark.functions.cellsql import with_s2_cell
    rng = np.random.default_rng(3)
    pdf = {"lat": rng.uniform(-85, 85, 500).tolist(),
           "lon": rng.uniform(-180, 180, 500).tolist()}
    import pandas as pd
    base = spark.createDataFrame(pd.DataFrame(pdf))
    once = with_s2_cell(base, "lat", "lon", 9, "c9", keep_fst=True)
    again = with_s2_cell(once, "lat", "lon", 12, "c12")
    assert {"_s2f", "_s2s", "_s2t"} <= set(again.columns)  # caller's cols kept
    got = again.select("lat", "lon", "c9", "c12").toPandas()
    la, lo = got["lat"].to_numpy(), got["lon"].to_numpy()
    assert got["c9"].to_numpy().tolist() == cx.s2_cell_id(la, lo, 9).tolist()
    assert got["c12"].to_numpy().tolist() == cx.s2_cell_id(la, lo, 12).tolist()


def test_fst_source_mismatch_refused(spark):
    """fst columns derived from one coordinate pair must not be reused
    for a different pair (ADVICE r5 medium): with_s2_fst stamps the
    source columns into the face column's metadata, turning the silent
    wrong-cells path into a loud ValueError at plan-build time."""
    import pytest

    from pbf2json_spark.functions.cellsql import with_s2_cell
    df = spark.range(5).select(
        (F.rand(1) * 100 - 50).alias("pick_lat"),
        (F.rand(2) * 300 - 150).alias("pick_lon"),
        (F.rand(3) * 100 - 50).alias("lat"),
        (F.rand(4) * 300 - 150).alias("lon"))
    once = with_s2_cell(df, "pick_lat", "pick_lon", 9, "c9", keep_fst=True)
    with pytest.raises(ValueError, match="derived from"):
        with_s2_cell(once, "lat", "lon", 9, "c9b")
    # the matching pair still reuses (and the cells stay correct)
    ok = with_s2_cell(once, "pick_lat", "pick_lon", 12, "c12")
    got = ok.select("pick_lat", "pick_lon", "c12").toPandas()
    want = cx.s2_cell_id(got["pick_lat"].to_numpy(),
                         got["pick_lon"].to_numpy(), 12)
    assert got["c12"].to_numpy().tolist() == want.tolist()

    # knn's point side is contractually (lat, lon): fst from another
    # pair must be refused before any job runs
    from pbf2json_spark.operators import spatial as sp
    pts = once.select(
        F.monotonically_increasing_id().cast("string").alias("image_id"),
        "lat", "lon", "_s2f", "_s2s", "_s2t")
    q = spark.range(1).select(F.lit("q0").alias("query_id"),
                              F.lit(0.0).alias("lat"),
                              F.lit(0.0).alias("lon"))
    with pytest.raises(ValueError, match="derived from"):
        sp.knn(pts, q, k=1, family="s2")
