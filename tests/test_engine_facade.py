"""Engine facade (the public API a reference user switches to)."""

import pytest

from pbf2json_spark import Engine
from pbf2json_spark.plans import session
from pbf2json_spark.sources import synth


def test_engine_runs_reference_pipeline(spark):
    eng = Engine(spark)
    nodes, ways, rels = synth.osm_tables_df(spark, 600, 120, 20)
    out = eng.run(nodes, ways, rels, "building")
    rows = out.collect()
    assert rows
    assert set(out.columns) == {"gid", "json"}
    # NDJSON contract: each line parses and is gid-consistent
    import json
    for r in rows[:20]:
        d = json.loads(r.json)
        assert r.gid == f"{d['type']}:{d['id']}"


def test_engine_surfaces_ship_package_failure(spark, monkeypatch):
    """A package that cannot be shipped fails Engine() at once, not the
    first pandas UDF on an executor later."""
    def broken_ship(_spark):
        raise OSError("no space left on device")
    monkeypatch.setattr(session, "ship_package", broken_ship)
    with pytest.raises(OSError, match="no space left"):
        Engine(spark)


def test_engine_spatial_surface(spark):
    eng = Engine(spark)
    imgs = synth.images_df(spark, 200, partitions=2)
    geo = eng.attach_geo(imgs, res_list=(9, 12))
    polys = synth.polygons_df(spark, 6)
    assert eng.point_in_polygon(geo, polys).count() >= 0
    q = synth.knn_queries_df(spark, 5, k=3)
    nn = eng.knn(geo, q, k=3)
    assert nn.count() == 15
    assert eng.tile_assignment(imgs).count() > 0


def test_engine_attach_s2_once_serves_many_consumers(spark):
    """attach_s2 (r5): one fst derivation serves knn(family='s2'),
    PIP over the cell column, and further with_s2_cell levels — and
    the results equal the equirect family's."""
    from pbf2json_spark.functions.cellsql import with_s2_cell

    eng = Engine(spark)
    imgs = synth.images_df(spark, 300, partitions=2)
    geo = eng.attach_geo(imgs, res_list=(9, 12))
    s2 = eng.attach_s2(geo, level=9, persist=False)
    assert {"_s2f", "_s2s", "_s2t", "s2_l9"} <= set(s2.columns)

    q = synth.knn_queries_df(spark, 5, k=3)
    pts_j = geo.selectExpr("image_id as right_id", "lat", "lon")
    nj = eng.knn_join(pts_j.selectExpr("right_id as left_id", "lat", "lon"),
                      pts_j, k=2, exclude_self=True)
    assert nj.count() == 300 * 2
    nn_eq = eng.knn(geo, q, k=3).toPandas()
    nn_s2 = eng.knn(s2, q, k=3, family="s2").toPandas()
    key = ["query_id", "rank"]
    a = nn_eq.sort_values(key).reset_index(drop=True)
    b = nn_s2.sort_values(key).reset_index(drop=True)
    assert a["image_id"].tolist() == b["image_id"].tolist()

    s2b = with_s2_cell(s2, "lat", "lon", 8, "s2_l8")  # reuses fst
    polys = synth.polygons_df(spark, 6)
    pip_eq = eng.point_in_polygon(geo, polys, res=9)
    from pbf2json_spark.operators.spatial import point_in_polygon
    pip_s2 = point_in_polygon(s2b, polys, res=8, family="s2")
    ea = set(map(tuple, pip_eq.select("poly_id", "image_id").collect()))
    sb = set(map(tuple, pip_s2.select("poly_id", "image_id").collect()))
    assert ea == sb


def test_engine_pip_family_and_bucketed_parity(spark):
    """Engine.point_in_polygon exposes family= and Engine.attach_geo
    passes s2_levels through (VERDICT r5 facade-parity item): both
    families through the facade and both through the shuffle plan
    (point_in_polygon_bucketed) agree on the hit set."""
    from pbf2json_spark.operators import spatial as sp
    eng = Engine(spark)
    imgs = synth.images_df(spark, 200, partitions=2)
    geo = eng.attach_geo(imgs, res_list=(9,), s2_levels=(9,))
    assert "s2_l9" in geo.columns
    polys = synth.polygons_df(spark, 5)
    hits = lambda df: set(map(tuple, df.select("poly_id", "image_id")
                              .collect()))
    base = hits(eng.point_in_polygon(geo, polys, res=9))
    assert hits(eng.point_in_polygon(geo, polys, res=9,
                                     family="s2")) == base
    for family in ("equirect", "s2"):
        assert hits(sp.point_in_polygon_bucketed(
            geo, polys, res=9, family=family)) == base, family
