"""PIP / kNN / tile-assignment vs brute-force numpy oracles
(FIXTURES.md §3)."""

import numpy as np
import pandas as pd
import pytest

from pbf2json_spark.functions import cellindex as cx
from pbf2json_spark.functions import geokernels as gk
from pbf2json_spark.functions import imagecodec as ic
from pbf2json_spark.operators import spatial as sp
from pbf2json_spark.sources import synth

N_IMAGES = 800


@pytest.fixture(scope="module")
def points(spark):
    imgs = synth.images_df(spark, N_IMAGES, partitions=8)
    geo = sp.attach_geo(imgs, res_list=(sp.DEFAULT_RES, sp.KNN_RES))
    geo = geo.persist()
    geo.count()
    return geo


@pytest.fixture(scope="module")
def points_pdf():
    pdf = synth.gen_images_pdf(N_IMAGES)
    lat, lon = ic.geotag_from_phash(pdf["phash"].to_numpy())
    pdf = pdf.assign(lat=lat, lon=lon)
    return pdf


def test_attach_geo_matches_pure_function(points, points_pdf):
    got = points.select("image_id", "lat", "lon").orderBy("image_id").toPandas()
    want = points_pdf.sort_values("image_id")
    assert np.allclose(got["lat"].to_numpy(), want["lat"].to_numpy())
    assert np.allclose(got["lon"].to_numpy(), want["lon"].to_numpy())
    # cell columns match the codec
    g2 = points.select("image_id", f"cell_r{sp.DEFAULT_RES}").orderBy("image_id").toPandas()
    want_cells = cx.cell_id(want["lat"].to_numpy(), want["lon"].to_numpy(), sp.DEFAULT_RES)
    assert g2[f"cell_r{sp.DEFAULT_RES}"].to_numpy().tolist() == want_cells.tolist()


def test_point_in_polygon_exact(spark, points, points_pdf):
    polys = synth.polygons_df(spark, 12)
    got = sp.point_in_polygon(points, polys, res=sp.DEFAULT_RES).toPandas()
    got_pairs = set(zip(got["poly_id"], got["image_id"]))

    ppdf = synth.gen_polygons_pdf(12)
    want_pairs = set()
    for p in ppdf.itertuples():
        inside = gk.raycast_contains(
            np.asarray(p.ring_lats), np.asarray(p.ring_lons),
            points_pdf["lat"].to_numpy(), points_pdf["lon"].to_numpy())
        for img in points_pdf.loc[inside, "image_id"]:
            want_pairs.add((p.poly_id, img))
    assert got_pairs == want_pairs
    assert len(want_pairs) > 50, "fixture should put many points in hotspot polygons"


def test_point_in_polygon_routes_large_side_to_shuffle_plan(
        spark, points, monkeypatch):
    """A polygon side above PIP_MAX_DIM_VERTICES is not refused and not
    broadcast: point_in_polygon runs its shuffle plan
    (point_in_polygon_bucketed) and returns exactly the broadcast
    plan's rows — both families, wrapped ring included, no duplicate
    rows."""
    from pbf2json_spark.functions.cellsql import with_s2_cell
    rla, rlo = _wrapped_pentagon()
    polys = synth.polygons_df(spark, 8).unionByName(
        spark.createDataFrame(
            [("wrapped", rla.tolist(), rlo.tolist(), {})],
            schema="poly_id string, ring_lats array<double>, "
                   "ring_lons array<double>, tags map<string,string>"))
    pts_s2 = with_s2_cell(points.select("image_id", "lat", "lon"),
                          "lat", "lon", 8, "s2_l8")
    cases = [(points, sp.DEFAULT_RES, "equirect"), (pts_s2, 8, "s2")]
    calls = []
    shuffle_plan = sp.point_in_polygon_bucketed

    def spy(*a, **kw):
        calls.append(kw["family"])
        return shuffle_plan(*a, **kw)

    monkeypatch.setattr(sp, "point_in_polygon_bucketed", spy)
    key = lambda d: set(zip(d["poly_id"], d["image_id"]))
    want = [key(sp.point_in_polygon(pts, polys, res=r, family=f).toPandas())
            for pts, r, f in cases]
    assert calls == []                        # dim-sized: broadcast plan
    assert all("wrapped" in {p for p, _ in w} for w in want)

    monkeypatch.setattr(sp, "PIP_MAX_DIM_VERTICES", 10)
    for (pts, r, f), w in zip(cases, want):
        got = sp.point_in_polygon(pts, polys, res=r, family=f).toPandas()
        assert key(got) == w, f
        assert len(got) == len(w), f          # no duplicate rows
    assert calls == ["equirect", "s2"]


def test_pip_refine_stacked_equals_per_polygon_fallback():
    """Driver-only check of the refine kernel both PIP plans share: on
    candidates mixing a wrapped polygon with ordinary ones, the
    stacked-edge table and its tables=None per-polygon fallback return
    identical rows."""
    rla, rlo = _wrapped_pentagon()
    pieces_by_id = {p.poly_id: sp._ring_pieces(p.ring_lats, p.ring_lons)
                    for p in synth.gen_polygons_pdf(6).itertuples()}
    pieces_by_id["wrapped"] = sp._ring_pieces(rla, rlo)
    assert len(pieces_by_id["wrapped"]) == 2
    # candidates scattered over each piece's bbox: hits and misses
    rng = np.random.default_rng(5)
    parts = []
    for pid, pieces in pieces_by_id.items():
        for pla, plo in pieces:
            parts.append(pd.DataFrame({
                "poly_id": pid,
                "lat": rng.uniform(pla.min(), pla.max(), 300),
                "lon": rng.uniform(plo.min(), plo.max(), 300)}))
    pdf = pd.concat(parts).sample(frac=1, random_state=0)
    pdf = pdf.assign(image_id=np.arange(len(pdf))).reset_index(drop=True)

    tables = gk.build_stacked_edges(pieces_by_id)
    assert tables is not None
    stacked = sp._refine_candidates(pdf, pieces_by_id, tables, "image_id")
    loop = sp._refine_candidates(pdf, pieces_by_id, None, "image_id")
    pd.testing.assert_frame_equal(stacked, loop)
    assert 0 < len(stacked) < len(pdf)
    assert stacked["poly_id"].nunique() == len(pieces_by_id)


def test_point_in_polygon_refine_input_sized_from_plan_estimate(
        spark, points, monkeypatch):
    """The refine's input is coalesced to _python_stage_parts(spark,
    est) partitions, est being the slim point view's plan-size
    estimate.  The estimate reads a private JVM API with no fallback,
    so a Spark upgrade that breaks it fails here, not silently."""
    seen = []

    def parts(spark_, nbytes):
        seen.append(nbytes)
        return 3

    monkeypatch.setattr(sp, "_python_stage_parts", parts)
    polys = synth.polygons_df(spark, 12)
    out = sp.point_in_polygon(points, polys, res=sp.DEFAULT_RES)
    assert len(seen) == 1 and isinstance(seen[0], int) and seen[0] > 0
    assert points.rdd.getNumPartitions() == 8
    assert out.rdd.getNumPartitions() == 3


def test_knn_exact(spark, points, points_pdf):
    K = 5
    queries = synth.knn_queries_df(spark, 30, k=K)
    got = sp.knn(points, queries, k=K).toPandas()

    qpdf = synth.gen_knn_queries_pdf(30, k=K)
    pla = points_pdf["lat"].to_numpy()
    plo = points_pdf["lon"].to_numpy()
    ids = points_pdf["image_id"].to_numpy()
    for q in qpdf.itertuples():
        d = gk.haversine_m(q.lat, q.lon, pla, plo)
        order = np.lexsort((ids, d))[:K]
        want_ids = ids[order].tolist()
        sub = got[got["query_id"] == q.query_id].sort_values("rank")
        assert sub["image_id"].tolist() == want_ids, q.query_id
        assert np.allclose(sub["dist_m"].to_numpy(), d[order], rtol=1e-9)
    # every query answered exactly once per rank
    assert len(got) == 30 * K


def test_knn_exact_dense_corpus_all_paths(spark, monkeypatch):
    """Exactness at a density contrast that exercises the kNN ladder:
    fine levels for hotspot queries, coarse levels + coarsening rounds
    for sparse ones, and the brute tail fold — against the brute numpy
    oracle, for every query.  A zero brute budget forces the ladder
    (this size is below the route crossover)."""
    monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", 0)
    N, Q, K = 6000, 300, 7
    imgs = synth.images_df(spark, N, partitions=16)
    pts = sp.attach_geo(imgs, res_list=(9, 12)).persist()
    pts.count()
    queries = synth.knn_queries_df(spark, Q, k=K, seed=77)
    tr = {}
    got = sp.knn(pts, queries, k=K, res=12, initial_ring=2,
                 trace=tr).toPandas()
    assert "round0" in tr, tr

    pdf = synth.gen_images_pdf(N)
    pla, plo = ic.geotag_from_phash(pdf["phash"].to_numpy())
    ids = pdf["image_id"].to_numpy()
    qpdf = synth.gen_knn_queries_pdf(Q, k=K, seed=77)
    for q in qpdf.itertuples():
        d = gk.haversine_m(q.lat, q.lon, pla, plo)
        order = np.lexsort((ids, d))[:K]
        sub = got[got["query_id"] == q.query_id].sort_values("rank")
        assert sub["image_id"].tolist() == ids[order].tolist(), q.query_id
    assert len(got) == Q * K
    pts.unpersist()


def test_topk_merge_boundary_ties_keep_smallest_ids():
    """ADVICE r3: with more than k candidates EQUIDISTANT from the
    query (duplicate coordinates from phash-identical images),
    argpartition used to discard ties arbitrarily before the (dist, id)
    tiebreak — the brute path could keep different ids than the
    rank<=k window.  The widened selection must keep the smallest ids,
    for ties both AT the kth boundary and past it."""
    K = 3
    # 8 points at the same location, 2 closer distinct ones
    pla = np.array([10.0, 10.0] + [20.0] * 8)
    plo = np.array([30.0, 30.1] + [40.0] * 8)
    ids = np.array([f"p{i:02d}" for i in range(10)], dtype=object)
    # shuffle point order so argpartition's arbitrary pick would differ
    perm = np.array([7, 2, 9, 0, 4, 6, 1, 8, 3, 5])
    pla, plo, ids = pla[perm], plo[perm], ids[perm]
    qla = np.array([10.0, 20.0])
    qlo = np.array([30.0, 40.0])
    best_d = np.full((2, K), np.inf)
    best_i = np.empty((2, K), dtype=object)
    sp._topk_merge(best_d, best_i, qla, qlo, sp._unit_xyz(qla, qlo),
                   pla, plo, ids, sp._unit_xyz(pla, plo), K)
    # query 0: p00 (dist 0), p01, then the tied block -> smallest id p02
    assert best_i[0].tolist() == ["p00", "p01", "p02"]
    # query 1: all 8 colocated points tie at dist 0 -> 3 smallest ids
    assert best_i[1].tolist() == ["p02", "p03", "p04"]
    assert np.allclose(best_d[1], 0.0)


def test_knn_s2_reuses_preattached_fst(spark):
    """knn(family='s2') over a corpus that already carries the
    (_s2f,_s2s,_s2t) columns (with_s2_cell(keep_fst=True), the
    ingest-time pattern) must return IDENTICAL rows to the same
    corpus without them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pbf2json_spark.functions.cellsql import with_s2_cell

    rng = np.random.default_rng(13)
    n = 3000
    pdf = pd.DataFrame({"point_id": [f"p{i:05d}" for i in range(n)],
                        "lat": rng.uniform(-80, 80, n),
                        "lon": rng.uniform(-180, 180, n)})
    base = spark.createDataFrame(pdf)
    with_fst = with_s2_cell(base, "lat", "lon", 9, "s2_l9",
                            keep_fst=True)
    assert {"_s2f", "_s2s", "_s2t"} <= set(with_fst.columns)
    without = with_s2_cell(base, "lat", "lon", 9, "s2_l9")
    queries = spark.createDataFrame(
        [("qa", 10.0, 20.0), ("qb", -60.0, 150.0), ("qc", 75.0, -30.0)],
        schema="query_id string, lat double, lon double")
    key = ["query_id", "rank"]
    a = sp.knn(with_fst, queries, k=5, res=12, initial_ring=2,
               point_id="point_id", family="s2").toPandas() \
        .sort_values(key).reset_index(drop=True)
    b = sp.knn(without, queries, k=5, res=12, initial_ring=2,
               point_id="point_id", family="s2").toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert a[["query_id", "point_id", "rank"]].equals(
        b[["query_id", "point_id", "rank"]])
    assert np.allclose(a["dist_m"], b["dist_m"])


def test_tile_assignment_matches_pandas(spark, points, points_pdf):
    got = sp.tile_assignment(points, grid=4, res=sp.KNN_RES) \
            .orderBy("cell").toPandas()

    # pandas oracle
    rows = []
    for r in points_pdf.itertuples():
        px = ic.decode_image(bytes(r.bytes)).astype(np.float64).mean(axis=2)
        h, w = px.shape
        g = 4
        bh, bw = max(h // g, 1), max(w // g, 1)
        blocks = px[:bh * g, :bw * g].reshape(g, bh, g, bw).mean(axis=(1, 3))
        dy = (np.arange(g) - (g - 1) / 2.0) * bh * ic.DEG_PER_PX
        dx = (np.arange(g) - (g - 1) / 2.0) * bw * ic.DEG_PER_PX
        bla = (r.lat - dy[:, None] + np.zeros((1, g))).reshape(-1)
        blo = (r.lon + dx[None, :] + np.zeros((g, 1))).reshape(-1)
        cells = cx.cell_id(bla, blo, sp.KNN_RES)
        for c, v in zip(cells.tolist(), blocks.reshape(-1).tolist()):
            rows.append((r.image_id, c, v))
    odf = pd.DataFrame(rows, columns=["image_id", "cell", "v"])
    want = odf.groupby("cell").agg(
        n_blocks=("v", "size"), n_images=("image_id", "nunique"),
        avg_intensity=("v", "mean")).reset_index().sort_values("cell")

    assert got["cell"].tolist() == want["cell"].tolist()
    assert got["n_blocks"].tolist() == want["n_blocks"].tolist()
    assert got["n_images"].tolist() == want["n_images"].tolist()
    assert np.allclose(got["avg_intensity"].to_numpy(),
                       want["avg_intensity"].to_numpy())


def test_tile_assignment_direct_equals_dataframe_path(spark, tmp_path):
    from pbf2json_spark.operators.spatial import (tile_assignment,
                                                  tile_assignment_direct)
    imgs = synth.images_df(spark, 300, partitions=3)
    path = str(tmp_path / "imgs")
    imgs.write.parquet(path)
    a = tile_assignment(spark.read.parquet(path)).orderBy("cell").toPandas()
    b = tile_assignment_direct(spark, path).orderBy("cell").toPandas()
    assert a["cell"].tolist() == b["cell"].tolist()
    assert a["n_blocks"].tolist() == b["n_blocks"].tolist()
    assert a["n_images"].tolist() == b["n_images"].tolist()
    assert np.allclose(a["avg_intensity"], b["avg_intensity"])


@pytest.fixture(scope="module")
def three_file_images(spark, tmp_path_factory):
    """The 3-file image table test_tile_assignment_direct_equals_
    dataframe_path writes, shared by the direct-scan plan tests."""
    path = str(tmp_path_factory.mktemp("three_file") / "imgs")
    synth.images_df(spark, 300, partitions=3).write.parquet(path)
    return path


def test_driver_tables_are_jvm_local(spark, points, three_file_images):
    """Tables the engine builds on the driver analyze to a JVM
    LocalRelation, so scanning them starts no Python worker: the synth
    OSM, polygon and query tables and knn's empty result.  The frame
    tile_assignment_direct decodes from is a JVM Range.  Arrow fallback
    is off, so a silent fallback to the Python-list path fails here."""
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        local = dict(zip(("nodes", "ways", "relations"),
                         synth.osm_tables_df(spark, 300, 60, 12)))
        local["polygons"] = synth.polygons_df(spark, 12)
        local["queries"] = synth.knn_queries_df(spark, 30, k=3)
        local["knn_empty"] = sp.knn(points, local["queries"].limit(0), k=3)
        tile = sp.tile_assignment_direct(spark, three_file_images)
    finally:
        spark.conf.set(key, old)
    assert local["knn_empty"].count() == 0
    for name, df in local.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, \
            (name, plan)
    plan = tile._jdf.queryExecution().analyzed().toString()
    assert "Range" in plan and "LogicalRDD" not in plan, plan


def test_tile_assignment_direct_one_decode_wave(spark, three_file_images):
    """tile_assignment_direct runs its decode straight off the file
    list: one decode stage of at most defaultParallelism tasks (one per
    file here) plus the final aggregate — no stage scanning a Python
    RDD, no repartition shuffle ahead of the decode."""
    import uuid
    sc = spark.sparkContext
    group = f"tile-stages-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count stages")
    try:
        sp.tile_assignment_direct(spark, three_file_images).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    stage_ids = sorted({s for j in st.getJobIdsForGroup(group)
                        for s in st.getJobInfo(j).stageIds})
    ran = [st.getStageInfo(s) for s in stage_ids]
    ran = [s for s in ran if s.numCompletedTasks > 0]
    assert len(ran) == 2, [(s.stageId, s.numTasks) for s in ran]
    assert ran[0].numTasks == 3 <= sc.defaultParallelism


def test_tile_assignment_counts_repeated_ids_once(spark, tmp_path):
    """A 2-file table where 10 of 50 image_ids appear in both files:
    both routes (and the tile_assignment_direct wrapper) count an id
    once per cell (n_images = pandas nunique) and every row's blocks in
    n_blocks."""
    pdf = synth.gen_images_pdf(50)
    path = tmp_path / "imgs"
    path.mkdir()
    pdf.iloc[:30].to_parquet(path / "part-0.parquet", index=False)
    pdf.iloc[20:].to_parquet(path / "part-1.parquet", index=False)
    blocks = synth.gen_tile_blocks_pdf(50)
    rows = pd.concat([blocks[blocks["image_id"].isin(pdf["image_id"][:30])],
                      blocks[blocks["image_id"].isin(pdf["image_id"][20:])]])
    want = rows.groupby("cell").agg(
        n_blocks=("mean_intensity", "size"),
        n_images=("image_id", "nunique"),
        avg_intensity=("mean_intensity", "mean")).reset_index()
    for tiles in (lambda: sp.tile_assignment(spark.read.parquet(str(path))),
                  lambda: sp.tile_assignment_direct(spark, str(path)),
                  lambda: sp.tile_assignment(str(path))):
        got = tiles().orderBy("cell").toPandas()
        assert got["cell"].tolist() == want["cell"].tolist()
        assert got["n_blocks"].tolist() == want["n_blocks"].tolist()
        assert got["n_images"].tolist() == want["n_images"].tolist()
        assert np.allclose(got["avg_intensity"], want["avg_intensity"])


def test_tile_assignment_null_blob_names_image(spark, tmp_path):
    """A null bytes value fails loudly on both routes, naming the
    image, instead of a TypeError or a silent re-pack."""
    pdf = synth.gen_images_pdf(6)[["image_id", "bytes", "phash"]]
    pdf.loc[3, "bytes"] = None
    bad = pdf.loc[3, "image_id"]
    path = tmp_path / "imgs"
    path.mkdir()
    pdf.to_parquet(path / "part-0.parquet", index=False)
    frame = spark.createDataFrame(
        pdf, "image_id string, bytes binary, phash long")
    for images in (frame, str(path)):
        with pytest.raises(Exception, match=rf"ValueError: image '{bad}' "
                                            "has a null bytes value"):
            sp.tile_assignment(images).collect()


def test_tile_oracle_fixture_pins_operator(spark):
    """The committed q_tile_assignment oracle fixture (tests/fixtures/
    tile_blocks_1000.parquet) must match (a) a fresh run of the
    Spark-free twin and (b) Spark's image_blocks output, block for
    block — so fixture drift or operator drift both fail here."""
    import os
    fix_path = os.path.join(os.path.dirname(__file__), "fixtures",
                            "tile_blocks_1000.parquet")
    fix = pd.read_parquet(fix_path)
    key = ["image_id", "block_row", "block_col"]

    twin = synth.gen_tile_blocks_pdf(1000, grid=4, res=12)
    a = fix.sort_values(key).reset_index(drop=True)
    b = twin.sort_values(key).reset_index(drop=True)
    assert a["cell"].tolist() == b["cell"].tolist()
    assert (a["mean_intensity"].to_numpy()
            == b["mean_intensity"].to_numpy()).all(), "twin drifted"

    imgs = synth.images_df(spark, 1000, partitions=8)
    geo = sp.attach_geo(imgs, res_list=(9, 12))
    got = sp.image_blocks(geo, grid=4, res=12).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert got["cell"].tolist() == a["cell"].tolist()
    assert (got["mean_intensity"].to_numpy()
            == a["mean_intensity"].to_numpy()).all(), "operator drifted"


def test_point_in_polygon_s2_family_matches(spark):
    """PIP over the quad-sphere index returns the identical pair set:
    the covering family only changes the candidate prefilter, never the
    exact ray-cast refine (VERDICT r2 item 6)."""
    imgs = synth.images_df(spark, N_IMAGES, partitions=8)
    geo = sp.attach_geo(imgs, res_list=(sp.DEFAULT_RES,),
                        s2_levels=(sp.DEFAULT_RES,)).persist()
    geo.count()
    polys = synth.polygons_df(spark, 12)
    try:
        eq = sp.point_in_polygon(geo, polys, res=sp.DEFAULT_RES,
                                 family="equirect").toPandas()
        s2 = sp.point_in_polygon(geo, polys, res=sp.DEFAULT_RES,
                                 family="s2").toPandas()
    finally:
        geo.unpersist()
    eq_pairs = set(zip(eq["poly_id"], eq["image_id"]))
    s2_pairs = set(zip(s2["poly_id"], s2["image_id"]))
    assert s2_pairs == eq_pairs
    assert len(s2_pairs) > 50


def test_knn_s2_family_matches_equirect(spark, monkeypatch):
    """knn(family='s2') returns the IDENTICAL rows as the equirect
    family (both are exact with the same (dist, id) tiebreak).  A zero
    brute budget forces the ladder for both."""
    monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", 0)
    K = 5
    imgs = synth.images_df(spark, N_IMAGES, partitions=8)
    geo = sp.attach_geo(imgs, res_list=(9, sp.KNN_RES),
                        s2_levels=(9,)).persist()
    geo.count()
    queries = synth.knn_queries_df(spark, 30, k=K)
    tr_eq, tr_s2 = {}, {}
    try:
        eq = sp.knn(geo, queries, k=K, trace=tr_eq).toPandas()
        s2 = sp.knn(geo, queries, k=K, family="s2", trace=tr_s2).toPandas()
    finally:
        geo.unpersist()
    assert "round0" in tr_eq and "round0" in tr_s2
    cols = ["query_id", "rank"]
    eq = eq.sort_values(cols).reset_index(drop=True)
    s2 = s2.sort_values(cols).reset_index(drop=True)
    assert len(eq) == len(s2) == 30 * K
    assert (eq["image_id"].to_numpy() == s2["image_id"].to_numpy()).all()
    assert np.allclose(eq["dist_m"].to_numpy(), s2["dist_m"].to_numpy())


def test_knn_s2_polar_exact(spark, monkeypatch):
    """s2-family kNN at polar latitudes vs the brute numpy oracle —
    the regime where equirect cells degenerate toward the poles, so
    the ladder's disk-exit certificate is tested hardest.  Points
    include both pole caps, face seams, and a sparse band.  A zero
    brute budget forces the ladder."""
    import pandas as pd
    monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", 0)
    K = 4
    rng = np.random.Generator(np.random.Philox(key=np.uint64(91)))
    n = 1200
    lat = np.concatenate([
        rng.uniform(75, 89.99, n // 2),        # north cap
        rng.uniform(-89.99, -75, n // 3),      # south cap
        rng.uniform(-10, 10, n - n // 2 - n // 3)])
    lon = rng.uniform(-180, 180, n)
    pdf = pd.DataFrame({"point_id": [f"p{i:05d}" for i in range(n)],
                        "lat": lat, "lon": lon})
    pts = spark.createDataFrame(pdf)
    from pbf2json_spark.functions import cellindex as cxx
    import pyspark.sql.functions as FF
    import pyspark.sql.types as TT

    @FF.pandas_udf(TT.LongType())
    def s2l9(la, lo):
        return pd.Series(cxx.s2_cell_id(la.to_numpy(np.float64),
                                        lo.to_numpy(np.float64), 9))

    pts = pts.withColumn("s2_l9", s2l9("lat", "lon")).persist()
    pts.count()
    qn = 60
    qlat = np.concatenate([rng.uniform(76, 89.9, 40),
                           rng.uniform(-89.9, -76, 20)])
    qlon = rng.uniform(-180, 180, qn)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [f"q{i}" for i in range(qn)],
                      "lat": qlat, "lon": qlon}))
    tr = {}
    try:
        got = sp.knn(pts, queries, k=K, res=12, initial_ring=2,
                     point_id="point_id", family="s2", trace=tr).toPandas()
    finally:
        pts.unpersist()
    assert "round0" in tr, tr
    ids = pdf["point_id"].to_numpy()
    for qi in range(qn):
        d = gk.haversine_m(qlat[qi], qlon[qi], lat, lon)
        order = np.lexsort((ids, d))[:K]
        sub = got[got["query_id"] == f"q{qi}"].sort_values("rank")
        assert sub["point_id"].tolist() == ids[order].tolist(), qi
    assert len(got) == qn * K


def test_tile_assignment_s2_family(spark):
    """tile_assignment(family='s2'): block values identical to the
    equirect family (the decode/reduce is family-independent); cells
    are the quad-sphere ids of the same block centers."""
    import pandas as pd
    imgs = synth.images_df(spark, 300, partitions=4)
    eq = sp.image_blocks(imgs, grid=4, res=12).toPandas()
    s2 = sp.image_blocks(imgs, grid=4, res=12, family="s2").toPandas()
    key = ["image_id", "block_row", "block_col"]
    eq = eq.sort_values(key).reset_index(drop=True)
    s2 = s2.sort_values(key).reset_index(drop=True)
    assert np.allclose(eq["mean_intensity"], s2["mean_intensity"])
    # Spark-free twin of the block centers -> both families' cells
    ipdf = synth.gen_images_pdf(300)
    lat, lon = ic.geotag_from_phash(ipdf["phash"].to_numpy())
    rows = []
    for r, (la0, lo0) in zip(ipdf.itertuples(), zip(lat, lon)):
        _, bh, bw = ic.block_means(ic.decode_image(bytes(r.bytes)), 4)
        blas, blos = ic.block_centers(la0, lo0, bh, bw, 4)
        gr, gc = np.meshgrid(np.arange(4), np.arange(4), indexing="ij")
        for j in range(16):
            rows.append((r.image_id, gr.reshape(-1)[j], gc.reshape(-1)[j],
                         blas[j], blos[j]))
    import pandas as _pd
    twin = _pd.DataFrame(rows, columns=["image_id", "block_row",
                                        "block_col", "bla", "blo"]) \
        .sort_values(key).reset_index(drop=True)
    assert (s2["cell"].to_numpy()
            == cx.s2_cell_id(twin["bla"].to_numpy(),
                             twin["blo"].to_numpy(), 12)).all()
    assert (eq["cell"].to_numpy()
            == cx.cell_id(twin["bla"].to_numpy(),
                          twin["blo"].to_numpy(), 12)).all()


# ---------------------------------------------------------------------------
# antimeridian-wrapped rings (r5)
# ---------------------------------------------------------------------------

def _wrapped_pentagon():
    """A non-rectangular ring crossing +-180 twice (short-way edges)."""
    lats = np.array([-25.0, 15.0, 30.0, 5.0, -20.0])
    lons = np.array([165.0, 155.0, -175.0, -150.0, -170.0])
    return lats, lons


def test_split_antimeridian_matches_unwrapped_plane_oracle():
    """PIP union over split pieces == raycast in UNWRAPPED plane space
    (the point lifted by 360k into the ring's lon range) — the defining
    semantics of 'edges short-way in longitude'."""
    rla, rlo = _wrapped_pentagon()
    pieces = gk.split_antimeridian(rla, rlo)
    assert len(pieces) == 2
    for _, plo in pieces:
        assert gk.ring_is_canonical(_, plo)

    # unwrapped twin of the ring
    closed = np.concatenate([rlo, rlo[:1]])
    d = np.diff(closed)
    d = d - 360.0 * np.round(d / 360.0)
    ulons = closed[0] + np.concatenate([[0.0], np.cumsum(d)])[:-1]

    rng = np.random.default_rng(5)
    plat = rng.uniform(-40, 45, 30000)
    plon = rng.uniform(-180, 180, 30000)
    truth = np.zeros(len(plat), dtype=bool)
    for k in (-360.0, 0.0, 360.0):
        truth |= gk.raycast_contains(rla, ulons, plat, plon + k)
    got = np.zeros(len(plat), dtype=bool)
    for pla, plo in pieces:
        got |= gk.raycast_contains(pla, plo, plat, plon)
    assert (got == truth).all()
    assert truth.sum() > 500  # the fixture actually covers points


def test_split_antimeridian_covering_superset_both_families():
    rla, rlo = _wrapped_pentagon()
    pieces = gk.split_antimeridian(rla, rlo)
    rng = np.random.default_rng(6)
    plat = rng.uniform(-40, 45, 20000)
    plon = rng.uniform(-180, 180, 20000)
    for pla, plo in pieces:
        inside = gk.raycast_contains(pla, plo, plat, plon)
        eq_cells = set(cx.cover_polygon(pla, plo, 7).tolist())
        assert set(cx.cell_id(plat[inside], plon[inside], 7).tolist()) <= eq_cells
        s2_cells = set(cx.s2_cover_polygon(pla, plo, 7).tolist())
        assert set(cx.s2_cell_id(plat[inside], plon[inside], 7).tolist()) <= s2_cells


def test_split_antimeridian_canonical_passthrough_and_pole_raise():
    pieces = gk.split_antimeridian([0.0, 10.0, 10.0], [0.0, 0.0, 20.0])
    assert len(pieces) == 1
    assert pieces[0][1].tolist() == [0.0, 0.0, 20.0]
    # 0..360-convention ring normalizes to canonical without a split
    pieces = gk.split_antimeridian([0.0, 5.0, 5.0, 0.0],
                                   [350.0, 350.0, 355.0, 355.0])
    assert len(pieces) == 1
    assert pieces[0][1].tolist() == [-10.0, -10.0, -5.0, -5.0]
    # pole-encircling ring: longitude winding != 0 has no plane polygon
    with pytest.raises(ValueError, match="pole"):
        gk.split_antimeridian([-70.0, -70.0, -70.0, -70.0],
                              [0.0, 90.0, 180.0, -90.0])


def test_cover_polygon_raises_on_wrapped_ring_both_families():
    rla, rlo = _wrapped_pentagon()
    with pytest.raises(ValueError, match="canonical"):
        cx.cover_polygon(rla, rlo, 7)
    with pytest.raises(ValueError, match="canonical"):
        cx.s2_cover_polygon(rla, rlo, 7)
    # bbox method stays tolerant by documented contract
    assert len(cx.s2_cover_polygon(rla, rlo, 5, method="bbox")) > 0


def test_cover_bbox_lon180_top_edge():
    """lon_max == +180 exactly is the grid top edge, not column 0 (the
    mod fold emptied the range before r5)."""
    got = cx.cover_bbox(-30, 10, 160, 180, 7)
    ref = cx.cover_bbox(-30, 10, 160, 179.999999, 7)
    assert len(got) == len(ref) > 0
    assert set(got.tolist()) == set(ref.tolist())
    # wrap form (lon_min > lon_max) unchanged
    assert len(cx.cover_bbox(-30, 10, 170, -170, 7)) > 0


def test_point_in_polygon_wrapped_ring_spark(spark, points, points_pdf):
    """End-to-end: a wrapped pentagon through point_in_polygon on BOTH
    cell families equals the numpy split-union oracle."""
    rla, rlo = _wrapped_pentagon()
    polys = spark.createDataFrame(
        [("wrapped", rla.tolist(), rlo.tolist(), {})],
        schema="poly_id string, ring_lats array<double>, "
               "ring_lons array<double>, tags map<string,string>")
    want = np.zeros(len(points_pdf), dtype=bool)
    for pla, plo in gk.split_antimeridian(rla, rlo):
        want |= gk.raycast_contains(pla, plo,
                                    points_pdf["lat"].to_numpy(),
                                    points_pdf["lon"].to_numpy())
    want_ids = set(points_pdf.loc[want, "image_id"])
    assert len(want_ids) >= 5  # fixture non-vacuity

    got = sp.point_in_polygon(points, polys, res=sp.DEFAULT_RES).toPandas()
    assert set(got["image_id"]) == want_ids
    assert len(got) == len(got["image_id"].unique())  # no double-emits

    from pbf2json_spark.functions.cellsql import with_s2_cell
    pts_s2 = with_s2_cell(points.select("image_id", "lat", "lon"),
                          "lat", "lon", 8, "s2_l8")
    got_s2 = sp.point_in_polygon(pts_s2, polys, res=8, point_id="image_id",
                                 family="s2").toPandas()
    assert set(got_s2["image_id"]) == want_ids
    assert len(got_s2) == len(got_s2["image_id"].unique())


def test_point_in_polygon_bucketed_equals_dim_path(spark, points, points_pdf):
    """The distributed (shuffle-join) PIP must return exactly the
    dim-side path's rows — both families, wrapped ring included."""
    rla, rlo = _wrapped_pentagon()
    polys = synth.polygons_df(spark, 8).unionByName(
        spark.createDataFrame(
            [("wrapped", rla.tolist(), rlo.tolist(), {})],
            schema="poly_id string, ring_lats array<double>, "
                   "ring_lons array<double>, tags map<string,string>"))
    dim = sp.point_in_polygon(points, polys, res=sp.DEFAULT_RES).toPandas()
    big = sp.point_in_polygon_bucketed(points, polys,
                                       res=sp.DEFAULT_RES).toPandas()
    key = lambda d: set(zip(d["poly_id"], d["image_id"]))
    assert key(big) == key(dim)
    assert len(big) == len(key(big))          # no duplicate emissions
    assert "wrapped" in set(big["poly_id"])   # wrap path exercised

    from pbf2json_spark.functions.cellsql import with_s2_cell
    pts_s2 = with_s2_cell(points.select("image_id", "lat", "lon"),
                          "lat", "lon", 8, "s2_l8")
    big_s2 = sp.point_in_polygon_bucketed(
        pts_s2, polys, res=8, point_id="image_id", family="s2").toPandas()
    assert key(big_s2) == key(dim)


def test_knn_join_exact_vs_brute(spark, monkeypatch):
    """Distributed corpus-x-corpus kNN join: exact (dist, id) top-k for
    every left row vs the numpy brute oracle, on a mixed hotspot +
    sparse layout that forces ladder escalation AND the brute tail
    fold; plus the exclude_self self-dedup shape."""
    import pandas as _pd
    rng = np.random.default_rng(11)
    NR, NL, K = 1500, 200, 5
    rlat = np.concatenate([rng.normal(48, 1.5, NR // 2),
                           rng.uniform(-85, 85, NR - NR // 2)])
    rlon = np.concatenate([rng.normal(11, 2.0, NR // 2),
                           rng.uniform(-180, 180, NR - NR // 2)])
    llat = np.concatenate([rng.normal(48, 1.5, NL // 2),
                           rng.uniform(-85, 85, NL - NL // 2)])
    llon = np.concatenate([rng.normal(11, 2.0, NL // 2),
                           rng.uniform(-180, 180, NL - NL // 2)])
    rids = np.array([f"r{i:05d}" for i in range(NR)])
    lids = np.array([f"l{i:05d}" for i in range(NL)])
    right = spark.createDataFrame(_pd.DataFrame(
        {"right_id": rids, "lat": rlat, "lon": rlon}))
    left = spark.createDataFrame(_pd.DataFrame(
        {"left_id": lids, "lat": llat, "lon": llon}))

    # a zero brute budget forces the distributed ladder rounds (the
    # route rule sends this size to the brute scan)
    monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", 0)
    tr = {}
    got = sp.knn_join(left, right, k=K, trace=tr).toPandas()
    monkeypatch.undo()
    assert "round0" in tr, tr
    assert len(got) == NL * K
    for li in range(NL):
        d = gk.haversine_m(llat[li], llon[li], rlat, rlon)
        order = np.lexsort((rids, d))[:K]
        sub = got[got["left_id"] == lids[li]].sort_values("rank")
        assert sub["right_id"].tolist() == rids[order].tolist(), lids[li]

    # self-join with exclude_self on the DEFAULT path (brute route):
    # nearest OTHER row, never itself
    sr = spark.createDataFrame(_pd.DataFrame(
        {"right_id": rids[:300], "lat": rlat[:300], "lon": rlon[:300]}))
    sl = sr.selectExpr("right_id as left_id", "lat", "lon")
    selfk = sp.knn_join(sl, sr, k=3, exclude_self=True).toPandas()
    assert (selfk["left_id"] != selfk["right_id"]).all()
    assert len(selfk) == 300 * 3
    for li in range(0, 300, 29):
        d = gk.haversine_m(rlat[li], rlon[li], rlat[:300], rlon[:300])
        cand = np.ones(300, dtype=bool)
        cand[li] = False
        order = np.lexsort((rids[:300][cand], d[cand]))[:3]
        want = rids[:300][cand][order].tolist()
        sub = selfk[selfk["left_id"] == rids[li]].sort_values("rank")
        assert sub["right_id"].tolist() == want


def test_disk_cells_col_matches_numpy_disk(spark):
    """knn_join's ring-key helper (spatial._ring_keys, the one builder
    of the W-table scatter and the round disks) covers exactly
    cellindex.disk's cells, including lon wrap and the pole drop.
    Keys are packed (level<<54 | i<<27 | j), so disk()'s Morton ids
    are decoded and packed the same way before comparing sets."""
    import pandas as _pd
    from pyspark.sql import functions as F

    from pbf2json_spark.functions.cellsql import cell_ij_cols
    rng = np.random.default_rng(4)
    lat = np.concatenate([rng.uniform(-90, 90, 300),
                          [89.9, -89.9, 0.0, 45.0]])
    lon = np.concatenate([rng.uniform(-180, 180, 300),
                          [179.9, -179.9, 0.0, -180.0]])
    pdf = _pd.DataFrame({"lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf)
    dfi = df.select("*", F.monotonically_increasing_id().alias("rid"))
    rid_order = dfi.select("rid").toPandas()["rid"].to_numpy()
    for res in (3, 6, 9):
        i, j = cell_ij_cols(F.col("lat"), F.col("lon"), res)
        # explode + null-filter JVM-side: a nullable long ARRAY column
        # round-trips through pandas as float64, which cannot represent
        # packed keys exactly (> 2^53) — the operator never does that
        # conversion, only this test would have
        out = dfi.select("rid", i.alias("_i"), j.alias("_j")) \
            .select("rid", F.explode(sp._ring_keys(
                F.lit(res), F.col("_i"), F.col("_j"), 1)).alias("c")) \
            .filter(F.col("c").isNotNull()).toPandas()
        got_sets = out.groupby("rid")["c"].apply(set)
        base = cx.cell_id(lat, lon, res)
        for r in range(len(lat)):
            d = np.asarray(cx.disk(np.array([base[r]]), 1)).ravel()
            lv, di, dj = cx.decode(d[d != -1])
            want = set(((lv << 54) | (di << 27) | dj).tolist())
            assert got_sets[rid_order[r]] == want, (lat[r], lon[r], res)


def test_split_antimeridian_property_random_wrapped_rings():
    """Property test: random star-convex rings centered near +-180
    (guaranteed simple, wrapped with probability ~1) — the union of
    split pieces must equal the unwrapped-plane containment oracle,
    and the covering superset must hold per piece."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.integers(0, 2**32 - 1))
    def run(seed):
        rng = np.random.default_rng(seed)
        n_v = int(rng.integers(3, 12))
        clat = float(rng.uniform(-55, 55))
        clon = float(rng.choice([-180.0, 180.0])) + float(rng.uniform(-5, 5))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n_v))
        rad = rng.uniform(3.0, 25.0, n_v)
        rla = np.clip(clat + rad * np.sin(ang), -89.0, 89.0)
        rlo_unwrapped = clon + rad * np.cos(ang)
        # canonicalize vertex lons into [-180, 180) as a user would pass
        rlo = np.mod(rlo_unwrapped + 180.0, 360.0) - 180.0

        pieces = gk.split_antimeridian(rla, rlo)
        plat = rng.uniform(clat - 30, clat + 30, 4000)
        plon = rng.uniform(-180, 180, 4000)
        got = np.zeros(len(plat), dtype=bool)
        for pla, plo in pieces:
            assert gk.ring_is_canonical(pla, plo)
            got |= gk.raycast_contains(pla, plo, plat, plon)
        truth = np.zeros(len(plat), dtype=bool)
        for k in (-360.0, 0.0, 360.0):
            truth |= gk.raycast_contains(rla, rlo_unwrapped, plat, plon + k)
        assert (got == truth).all()
        # covering superset on each piece (equirect, coarse res)
        for pla, plo in pieces:
            inside = gk.raycast_contains(pla, plo, plat, plon)
            if inside.any():
                cells = set(cx.cover_polygon(pla, plo, 6).tolist())
                assert set(cx.cell_id(plat[inside], plon[inside],
                                      6).tolist()) <= cells

    run()


def test_knn_join_exact_polar(spark, monkeypatch):
    """knn_join exactness at polar latitudes, where equirect cells
    shrink and disks over-expand — the certificate must still hold."""
    import pandas as _pd
    rng = np.random.default_rng(21)
    NR, NL, K = 800, 80, 4
    rlat = rng.uniform(75, 89.5, NR)
    rlon = rng.uniform(-180, 180, NR)
    llat = rng.uniform(75, 89.5, NL)
    llon = rng.uniform(-180, 180, NL)
    rids = np.array([f"r{i:05d}" for i in range(NR)])
    lids = np.array([f"l{i:05d}" for i in range(NL)])
    right = spark.createDataFrame(_pd.DataFrame(
        {"right_id": rids, "lat": rlat, "lon": rlon}))
    left = spark.createDataFrame(_pd.DataFrame(
        {"left_id": lids, "lat": llat, "lon": llon}))
    monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", 0)   # force the ladder
    tr = {}
    got = sp.knn_join(left, right, k=K, trace=tr).toPandas()
    assert "round0" in tr, tr
    assert len(got) == NL * K
    for li in range(NL):
        d = gk.haversine_m(llat[li], llon[li], rlat, rlon)
        order = np.lexsort((rids, d))[:K]
        sub = got[got["left_id"] == lids[li]].sort_values("rank")
        assert sub["right_id"].tolist() == rids[order].tolist(), lids[li]


def test_knn_join_fold_tail_chunks_past_knn_guard(spark, monkeypatch):
    """A ladder-exhausted fold LARGER than KNN_MAX_QUERIES (the most
    query rows one brute scan collects) must complete as several
    hash-chunked brute scans, after every distributed round already
    ran.  Single-rung ladder + globally sparse points forces every
    left row through the fold."""
    import pandas as _pd
    rng = np.random.default_rng(33)
    NR, NL, K = 120, 60, 2
    # spread right rows ~degrees apart: a level-16 3x3 window (~2.4 km)
    # can never certify k=2, so every left row exhausts the one-rung
    # ladder immediately
    rlat = rng.uniform(-60, 60, NR)
    rlon = rng.uniform(-170, 170, NR)
    llat = rng.uniform(-60, 60, NL)
    llon = rng.uniform(-170, 170, NL)
    rids = np.array([f"r{i:05d}" for i in range(NR)])
    lids = np.array([f"l{i:05d}" for i in range(NL)])
    right = spark.createDataFrame(_pd.DataFrame(
        {"right_id": rids, "lat": rlat, "lon": rlon}))
    left = spark.createDataFrame(_pd.DataFrame(
        {"left_id": lids, "lat": llat, "lon": llon}))
    monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", 0)   # force the ladder
    orig = sp.KNN_MAX_QUERIES
    sp.KNN_MAX_QUERIES = 16          # fold of 60 -> 5 chunks
    tr = {}
    try:
        got = sp.knn_join(left, right, k=K, levels=(16,),
                          trace=tr).toPandas()
    finally:
        sp.KNN_MAX_QUERIES = orig
    # the probe sends every row straight to the fold: the ladder ran,
    # but no round has a row to join
    assert "probe" in tr and "ladder_skipped" not in tr, tr
    assert len(got) == NL * K
    for li in range(NL):
        d = gk.haversine_m(llat[li], llon[li], rlat, rlon)
        order = np.lexsort((rids, d))[:K]
        sub = got[got["left_id"] == lids[li]].sort_values("rank")
        assert sub["right_id"].tolist() == rids[order].tolist(), lids[li]


def test_disk_exit_bound_col_matches_numpy(spark):
    """The r6 JVM exit-bound prefilter (_disk_exit_bound_col) is what
    makes the round certificate `n_found == k` sound: it must never
    EXCEED the numpy disk_exit_distance_m bound the old pandas-UDF
    certificate used (a larger bound could certify a kth neighbor
    outside the provably-covered disk).  Pin exact equality across
    levels and the edge geometries: pole-touching disks (inf arms),
    antimeridian-straddling cells, and the all-longitudes-wrap case
    at coarse levels."""
    from pyspark.sql import functions as F
    from pbf2json_spark.functions.cellsql import cell_ij_cols

    rng = np.random.default_rng(4242)
    lat = np.concatenate([rng.uniform(-90, 90, 400),
                          rng.uniform(88, 90, 50),       # north pole
                          rng.uniform(-90, -88, 50),     # south pole
                          rng.uniform(-1, 1, 50)])       # equator
    lon = np.concatenate([rng.uniform(-180, 180, 400),
                          rng.uniform(179, 180, 50),     # antimeridian
                          rng.uniform(-180, -179, 50),
                          rng.uniform(-1, 1, 50)])
    pdf = pd.DataFrame({"lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf)
    for level, ring in [(0, 1), (2, 1), (9, 1), (9, 2), (16, 1),
                        (20, 1), (24, 1)]:
        i_c, j_c = cell_ij_cols(F.col("lat"), F.col("lon"), level)
        got = df.select(
            "lat", "lon",
            sp._disk_exit_bound_col(F.col("lat"), F.col("lon"),
                                    i_c, j_c, level, ring)
            .alias("xb")).toPandas()
        want = cx.disk_exit_distance_m(got["lat"].to_numpy(),
                                       got["lon"].to_numpy(),
                                       level, ring)
        g = got["xb"].to_numpy(np.float64)
        both_inf = np.isinf(g) & np.isinf(want)
        assert np.allclose(g[~both_inf], want[~both_inf], rtol=1e-12), \
            (level, ring)
        assert (np.isinf(g) == np.isinf(want)).all(), (level, ring)


def test_knn_join_chunked_fold_equals_unchunked(spark, monkeypatch):
    """The ladder's fold is the brute scan, run in xxhash64 chunks once
    it exceeds KNN_MAX_QUERIES rows: the chunked fold must return the
    same rows as the one-scan fold and the numpy oracle, including
    exclude_self, which the scan applies in-scan."""
    import pandas as _pd
    rng = np.random.default_rng(57)
    NR, NL, K = 150, 70, 3
    # degrees-apart spread: a one-rung level-16 ladder certifies
    # nothing, so EVERY left row reaches the fold
    rlat = rng.uniform(-60, 60, NR)
    rlon = rng.uniform(-170, 170, NR)
    rids = np.array([f"r{i:05d}" for i in range(NR)])
    llat = rng.uniform(-60, 60, NL)
    llon = rng.uniform(-170, 170, NL)
    lids = np.array([f"l{i:05d}" for i in range(NL)])
    right = spark.createDataFrame(_pd.DataFrame(
        {"right_id": rids, "lat": rlat, "lon": rlon}))
    left = spark.createDataFrame(_pd.DataFrame(
        {"left_id": lids, "lat": llat, "lon": llon}))

    monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", 0)   # force the ladder

    def run(lhs, max_queries, **kw):
        monkeypatch.setattr(sp, "KNN_MAX_QUERIES", max_queries)
        tr = {}
        out = sp.knn_join(lhs, right, k=K, levels=(16,), trace=tr,
                          **kw).toPandas()
        # the ladder ran; its probe folds every row (see above)
        assert "probe" in tr and "ladder_skipped" not in tr, tr
        return out.sort_values(["left_id", "rank"]).reset_index(drop=True)

    def oracle(qla, qlo, qids, exclude_self):
        rows = []
        for la, lo, qid in zip(qla, qlo, qids):
            d = gk.haversine_m(la, lo, rlat, rlon)
            keep = rids != qid if exclude_self else np.ones(NR, bool)
            order = np.lexsort((rids[keep], d[keep]))[:K]
            rows += [(qid, r, i + 1)
                     for i, r in enumerate(rids[keep][order])]
        return _pd.DataFrame(rows, columns=["left_id", "right_id", "rank"])

    sl = right.selectExpr("right_id as left_id", "lat", "lon")
    for lhs, qla, qlo, qids, excl in ((left, llat, llon, lids, False),
                                      (sl, rlat, rlon, rids, True)):
        one = run(lhs, 1_000_000, exclude_self=excl)
        chunked = run(lhs, 16, exclude_self=excl)   # 5+ fold chunks
        cols = ["left_id", "right_id", "rank"]
        assert chunked[cols].equals(one[cols])
        assert np.allclose(chunked["dist_m"], one["dist_m"], rtol=1e-9)
        want = oracle(qla, qlo, qids, excl)
        assert one[cols].astype({"rank": "int64"}).equals(want), excl
        if excl:
            assert (one["left_id"] != one["right_id"]).all()


def test_knn_join_releases_internal_blocks(spark, monkeypatch):
    """knn_join must release every call-internal persisted RDD (round
    tops/remainings, right key table, fold outputs) once its result is
    materialized — only the result's own blocks survive (ADVICE r5:
    checkpoint blocks accumulated per call in long sessions)."""
    import pandas as _pd
    from pbf2json_spark.operators.dedup import _persistent_rdd_ids
    rng = np.random.default_rng(7)
    N = 400
    pdf = _pd.DataFrame({"right_id": [f"r{i}" for i in range(N)],
                         "lat": rng.normal(40, 3, N),
                         "lon": rng.normal(-3, 4, N)})
    right = spark.createDataFrame(pdf)
    left = right.selectExpr("right_id as left_id", "lat", "lon")
    monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", 0)   # force the ladder
    before = _persistent_rdd_ids(spark)
    tr = {}
    out = sp.knn_join(left, right, k=3, exclude_self=True, trace=tr)
    assert "round0" in tr, tr
    assert out.count() == N * 3
    delta = _persistent_rdd_ids(spark) - before
    # the result's own checkpoint is the only surviving registration
    assert len(delta) <= 1, delta


def _run_counting_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), counted under a job group."""
    import uuid
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_knn_routes_brute_below_budget(spark, monkeypatch):
    """At the geo_batch shape (2,000 x 10,000 pair-ops = 2e7, far below
    BRUTE_OPS_BUDGET) knn_join and knn answer with one brute scan: no
    ladder round runs, each stays within its Spark job budget, and the
    rows equal the forced-ladder run's."""
    from pyspark.sql import functions as F
    imgs = synth.images_df(spark, 10_000, partitions=8)
    geo = sp.attach_geo(imgs, res_list=(9, 12)).persist()
    geo.count()
    left = geo.filter(F.substring("image_id", -1, 1).isin("0", "5")) \
        .selectExpr("image_id as left_id", "lat", "lon")
    right = geo.selectExpr("image_id as right_id", "lat", "lon")
    queries = left.selectExpr("left_id as query_id", "lat", "lon")
    K = 8

    def both(tr_join, tr_knn):
        j, n_join = _run_counting_jobs(spark, lambda: sp.knn_join(
            left, right, k=K, exclude_self=True, trace=tr_join).toPandas())
        q, n_knn = _run_counting_jobs(spark, lambda: sp.knn(
            geo, queries, k=K, res=12, trace=tr_knn).toPandas())
        return j, n_join, q, n_knn

    try:
        tj, tq = {}, {}
        j, n_join, q, n_knn = both(tj, tq)
        assert not any(key.startswith("round") for key in tj), tj
        assert not any(key.startswith("round") for key in tq), tq
        assert tj["fold"]["rows"] == 2000
        assert n_join <= 12, n_join
        assert n_knn <= 6, n_knn

        monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", 0)
        lj, lq = {}, {}
        j_lad, _, q_lad, _ = both(lj, lq)
        assert "round0" in lj and "round0" in lq
    finally:
        geo.unpersist()
    for got, want, key in ((j, j_lad, ["left_id", "rank"]),
                           (q, q_lad, ["query_id", "rank"])):
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert len(got) == 2000 * K
        cols = [c for c in got.columns if c != "dist_m"]
        assert got[cols].equals(want[cols])
        assert np.abs(got["dist_m"] - want["dist_m"]).max() <= 1e-6


def test_knn_brute_route_job_count(spark):
    """Below the budget the route is decided by one bounded collect of
    the left side, and the result stays lazy: at the
    test_knn_routes_brute_below_budget shape, knn_join runs the right
    count (2 jobs under AQE), the left collect, the store collect and
    the caller's action — 5 jobs — and knn, the same call with its
    queries as the left side, runs as many."""
    from pyspark.sql import functions as F
    imgs = synth.images_df(spark, 10_000, partitions=8)
    geo = sp.attach_geo(imgs, res_list=(9, 12)).persist()
    geo.count()
    left = geo.filter(F.substring("image_id", -1, 1).isin("0", "5")) \
        .selectExpr("image_id as left_id", "lat", "lon")
    right = geo.selectExpr("image_id as right_id", "lat", "lon")
    queries = left.selectExpr("left_id as query_id", "lat", "lon")
    K = 8
    tj, tq = {}, {}
    try:
        j, n_join = _run_counting_jobs(spark, lambda: sp.knn_join(
            left, right, k=K, exclude_self=True, trace=tj).toPandas())
        q, n_knn = _run_counting_jobs(spark, lambda: sp.knn(
            geo, queries, k=K, res=12, trace=tq).toPandas())
    finally:
        geo.unpersist()
    assert tj["ladder_skipped"] == tq["ladder_skipped"] == 2000
    assert len(j) == len(q) == 2000 * K
    assert n_join <= 5, n_join
    assert n_knn <= 5, n_knn


@pytest.mark.parametrize("budget", [None, 0], ids=["brute", "ladder"])
def test_knn_refuses_non_string_ids(spark, monkeypatch, budget):
    """kNN ids must be strings, checked once at knn_join's entry: the
    brute scan types ids string and breaks distance ties on their
    string order, so a bigint id column raises ValueError naming the
    column on both routes instead of failing in a worker (brute) or
    ranking ties in numeric order (ladder)."""
    if budget is not None:
        monkeypatch.setattr(sp, "BRUTE_OPS_BUDGET", budget)
    rng = np.random.default_rng(11)
    N = 40
    lat, lon = rng.normal(48, 0.5, N), rng.normal(11, 0.5, N)
    pts = spark.createDataFrame(pd.DataFrame(
        {"image_id": np.arange(N, dtype=np.int64), "lat": lat, "lon": lon}))
    queries = spark.createDataFrame(pd.DataFrame(
        {"query_id": [f"q{i}" for i in range(N)], "lat": lat, "lon": lon}))
    with pytest.raises(ValueError, match="'image_id' is bigint"):
        sp.knn(pts, queries, k=3).toPandas()
    left = pts.withColumnRenamed("image_id", "left_id")
    right = queries.withColumnRenamed("query_id", "right_id")
    with pytest.raises(ValueError, match="'left_id' is bigint"):
        sp.knn_join(left, right, k=3).toPandas()


def test_knn_join_ladder_when_left_exceeds_knn_max_queries(spark,
                                                            monkeypatch):
    """The brute route collects the left side to the driver, so a left
    side above KNN_MAX_QUERIES takes the distributed ladder even when
    its pair-op count is tiny — and stays exact.  The same holds for a
    knn() query side: it runs the ladder instead of being refused."""
    import pandas as _pd
    rng = np.random.default_rng(5)
    NR, NL, K = 40, 200, 3
    rlat, rlon = rng.normal(48, 0.5, NR), rng.normal(11, 0.5, NR)
    llat, llon = rng.normal(48, 0.5, NL), rng.normal(11, 0.5, NL)
    rids = np.array([f"r{i:05d}" for i in range(NR)])
    lids = np.array([f"l{i:05d}" for i in range(NL)])
    right = spark.createDataFrame(_pd.DataFrame(
        {"right_id": rids, "lat": rlat, "lon": rlon}))
    left = spark.createDataFrame(_pd.DataFrame(
        {"left_id": lids, "lat": llat, "lon": llon}))
    monkeypatch.setattr(sp, "KNN_MAX_QUERIES", 100)
    tr = {}
    got = sp.knn_join(left, right, k=K, trace=tr).toPandas()
    assert "ladder_skipped" not in tr and "round0" in tr, tr
    assert len(got) == NL * K
    for li in range(NL):
        d = gk.haversine_m(llat[li], llon[li], rlat, rlon)
        order = np.lexsort((rids, d))[:K]
        sub = got[got["left_id"] == lids[li]].sort_values("rank")
        assert sub["right_id"].tolist() == rids[order].tolist(), lids[li]
        assert np.allclose(sub["dist_m"].to_numpy(), d[order], rtol=1e-9)

    points = right.withColumnRenamed("right_id", "point_id")
    queries = left.withColumnRenamed("left_id", "query_id")
    tr = {}
    nn = sp.knn(points, queries, k=K, point_id="point_id",
                trace=tr).toPandas()
    assert "ladder_skipped" not in tr and "round0" in tr, tr
    nn = nn.sort_values(["query_id", "rank"]).reset_index(drop=True)
    want = got.sort_values(["left_id", "rank"]).reset_index(drop=True)
    assert nn["query_id"].tolist() == want["left_id"].tolist()
    assert nn["point_id"].tolist() == want["right_id"].tolist()
    assert nn["rank"].tolist() == want["rank"].tolist()


def test_brute_store_keeps_one_broadcast(spark, monkeypatch):
    """knn's packed brute-scan store is memoized for ONE corpus: a repeat
    call over the same corpus reuses its broadcast, and each new corpus
    unpersists the previous one, so N corpora leave at most one live
    store broadcast."""
    import pandas as _pd
    from pyspark import Broadcast, SparkContext

    made, freed = [], []
    orig_broadcast = SparkContext.broadcast
    orig_unpersist = Broadcast.unpersist

    def broadcast(self, value):
        made.append(orig_broadcast(self, value))
        return made[-1]

    def unpersist(self, blocking=False):
        freed.append(self)
        orig_unpersist(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    rng = np.random.default_rng(3)
    queries = spark.createDataFrame(
        [("q0", 10.0, 20.0), ("q1", -30.0, 140.0)],
        schema="query_id string, lat double, lon double")
    N = 4
    for i in range(N):
        pts = spark.createDataFrame(_pd.DataFrame(
            {"image_id": [f"c{i}p{j}" for j in range(50)],
             "lat": rng.uniform(-60, 60, 50),
             "lon": rng.uniform(-170, 170, 50)}))
        for _ in range(2):       # the repeat call hits the memo
            out = sp.knn(pts, queries, k=3).toPandas()
            assert len(out) == 2 * 3
    assert len(made) == N
    live = [b for b in made if not any(b is f for f in freed)]
    assert len(live) <= 1, len(live)


def test_topk_merge_threshold_skip_bit_identical():
    """The r7 running-kth threshold skip in _topk_merge (rows whose kth
    cannot be beaten skip the selection passes) must be bit-identical
    to a full concatenate+lexsort reference across sequential block
    merges, including planted exact coordinate ties, and independent
    of the block split."""
    import numpy as np

    from pbf2json_spark.functions import geokernels as gk
    from pbf2json_spark.operators import spatial as sp

    def ref_merge(best_d, best_i, qla, qlo, pla, plo, ids, k):
        nq = len(qla)
        dh = gk.haversine_m(qla[:, None], qlo[:, None],
                            pla[None, :], plo[None, :])
        cd = np.concatenate([best_d, dh], axis=1)
        ci = np.concatenate(
            [best_i, np.broadcast_to(ids, (nq, len(ids)))], axis=1)
        ckey = np.where(np.isfinite(cd), ci, "~").astype(str)
        order = np.lexsort((ckey, cd), axis=1)[:, :k]
        best_d[:] = np.take_along_axis(cd, order, axis=1)
        best_i[:] = np.take_along_axis(ci, order, axis=1)

    rng = np.random.default_rng(11)
    nq, k = 300, 5
    qla = rng.uniform(-60, 60, nq)
    qlo = rng.uniform(-170, 170, nq)
    qxyz = sp._unit_xyz(qla, qlo)
    bd_a = np.full((nq, k), np.inf)
    bi_a = np.empty((nq, k), dtype=object)
    bd_b = np.full((nq, k), np.inf)
    bi_b = np.empty((nq, k), dtype=object)
    for blk in range(5):
        m = 3000
        pla = rng.uniform(-60, 60, m)
        plo = rng.uniform(-170, 170, m)
        # exact ties: points at query coords, duplicated points
        pla[:40] = qla[:40]
        plo[:40] = qlo[:40]
        pla[40:80] = pla[:40]
        plo[40:80] = plo[:40]
        ids = np.array([f"b{blk}p{i:05d}" for i in range(m)],
                       dtype=object)
        pxyz = sp._unit_xyz(pla, plo)
        # engine path: two sub-blocks (threshold engages on the 2nd)
        sp._topk_merge(bd_a, bi_a, qla, qlo, qxyz, pla[:1700],
                       plo[:1700], ids[:1700], pxyz[:1700], k)
        sp._topk_merge(bd_a, bi_a, qla, qlo, qxyz, pla[1700:],
                       plo[1700:], ids[1700:], pxyz[1700:], k)
        ref_merge(bd_b, bi_b, qla, qlo, pla, plo, ids, k)
        assert np.array_equal(bd_a, bd_b), f"block {blk} dists diverged"
        assert (bi_a.astype(str) == bi_b.astype(str)).all(), \
            f"block {blk} ids diverged"
