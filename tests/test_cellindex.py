"""Property tests for the hierarchical cell index (SURVEY.md §7: no
library oracle exists locally, so correctness is established by
invariants: containment monotonic in res, disk symmetry, covering
superset, exit-distance guarantee)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pbf2json_spark.functions import cellindex as cx
from pbf2json_spark.functions import geokernels as gk

lat_s = st.floats(min_value=-89.999, max_value=89.999, allow_nan=False)
lon_s = st.floats(min_value=-180.0, max_value=179.999, allow_nan=False)


@given(lat_s, lon_s, st.integers(min_value=1, max_value=12))
@settings(max_examples=200, deadline=None)
def test_roundtrip_center_same_cell(lat, lon, res):
    c = cx.cell_id(np.array([lat]), np.array([lon]), res)
    clat, clon = cx.cell_center(c)
    c2 = cx.cell_id(clat, clon, res)
    assert c[0] == c2[0]


@given(lat_s, lon_s, st.integers(min_value=1, max_value=12))
@settings(max_examples=200, deadline=None)
def test_containment_monotonic_in_res(lat, lon, res):
    # the res-r cell's ancestor at res r-1 == the point's res r-1 cell
    fine = cx.cell_id(np.array([lat]), np.array([lon]), res)
    coarse = cx.cell_id(np.array([lat]), np.array([lon]), res - 1)
    assert cx.parent(fine, res - 1)[0] == coarse[0]


@given(lat_s, lon_s, st.integers(min_value=3, max_value=12))
@settings(max_examples=100, deadline=None)
def test_point_inside_own_cell_bounds(lat, lon, res):
    c = cx.cell_id(np.array([lat]), np.array([lon]), res)
    lat_lo, lat_hi, lon_lo, lon_hi = cx.cell_bounds(c)
    # 1e-9 deg tolerance: quantization at exact cell boundaries can land
    # either side within one ulp of (lat+90)/180*nlat; the codec is
    # self-consistent (see roundtrip test), only this check needs slack
    assert lat_lo[0] - 1e-9 <= lat <= lat_hi[0] + 1e-9
    assert lon_lo[0] - 1e-9 <= lon <= lon_hi[0] + 1e-9


@given(lat_s, lon_s, st.integers(min_value=4, max_value=10),
       st.integers(min_value=1, max_value=3))
@settings(max_examples=100, deadline=None)
def test_disk_symmetry(lat, lon, res, k):
    """b in disk(a, k) <=> a in disk(b, k) (away from poles/clamps this
    must hold exactly; clamped rows only *remove* cells symmetrically)."""
    a = cx.cell_id(np.array([lat]), np.array([lon]), res)
    ring = cx.disk(a, k)[0]
    ring = ring[ring >= 0]
    assert a[0] in ring  # self-inclusion
    for b in ring[:10]:
        back = cx.disk(np.array([b]), k)[0]
        assert a[0] in back[back >= 0]


@given(lat_s, lon_s, st.integers(min_value=4, max_value=10))
@settings(max_examples=100, deadline=None)
def test_disk_exit_distance_is_lower_bound(lat, lon, res):
    """Every point sampled OUTSIDE the k-disk is at least exit_distance
    away (the kNN termination guarantee)."""
    k = 2
    q = cx.cell_id(np.array([lat]), np.array([lon]), res)
    ring = set(cx.disk(q, k)[0].tolist()) - {-1}
    bound = float(cx.disk_exit_distance_m(np.array([lat]), np.array([lon]), res, k)[0])
    rng = np.random.Generator(np.random.Philox(key=np.uint64(abs(hash((lat, lon, res))) % 2**63)))
    pl = rng.uniform(-89.99, 89.99, 300)
    po = rng.uniform(-180, 180, 300)
    cells = cx.cell_id(pl, po, res)
    outside = ~np.isin(cells, list(ring))
    if outside.any():
        d = gk.haversine_m(lat, lon, pl[outside], po[outside])
        assert np.all(d >= bound - 1e-6)


def test_cover_bbox_antimeridian():
    cells = cx.cover_bbox(-5.0, 5.0, 170.0, -170.0, 5)
    lat_lo, lat_hi, lon_lo, lon_hi = cx.cell_bounds(cells)
    # each covering cell must intersect the wrapped range [170, 180) U [-180, -170]
    assert np.all((lon_hi > 170.0) | (lon_lo < -170.0))
    assert np.all((lat_hi > -5.0) & (lat_lo < 5.0))
    assert len(cells) > 0
    assert len(np.unique(cells)) == len(cells)


@given(st.integers(min_value=0, max_value=10**6), st.integers(min_value=5, max_value=9))
@settings(max_examples=60, deadline=None)
def test_cover_polygon_superset_guarantee(seed, res):
    """Any point inside the polygon must fall in a covering cell."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    clat = rng.uniform(-50, 50)
    clon = rng.uniform(-150, 150)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 8))
    rad = rng.uniform(0.2, 3.0, 8)
    rla = clat + rad * np.sin(ang)
    rlo = clon + rad * np.cos(ang)
    rla = np.append(rla, rla[0]); rlo = np.append(rlo, rlo[0])
    cover = set(cx.cover_polygon(rla, rlo, res).tolist())
    pl = rng.uniform(rla.min(), rla.max(), 200)
    po = rng.uniform(rlo.min(), rlo.max(), 200)
    inside = gk.raycast_contains(rla, rlo, pl, po)
    cells = cx.cell_id(pl, po, res)
    for c, ins in zip(cells.tolist(), inside.tolist()):
        if ins:
            assert c in cover


def test_zorder_locality():
    """Morton ids: nearby points at the same res sort near each other."""
    lats = np.array([40.0, 40.0001, 40.0002, -33.0])
    lons = np.array([-74.0, -74.0001, -74.0002, 151.0])
    c = cx.cell_id(lats, lons, 12)
    assert abs(int(c[0]) - int(c[1])) < abs(int(c[0]) - int(c[3]))


def test_cell_id_col_matches_numpy_codec(spark):
    """The JVM grid-coordinate expressions (cellsql.cell_ij_cols, the
    (i, j) the kNN ladder packs its keys from) must equal the numpy
    codec's decoded (i, j) for every res the engine uses, including
    poles, antimeridian, and exact cell boundaries."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from pbf2json_spark.functions import cellindex as cx
    from pbf2json_spark.functions.cellsql import cell_ij_cols

    rng = np.random.Generator(np.random.Philox(key=np.uint64(5)))
    lat = np.concatenate([
        rng.uniform(-90, 90, 4000),
        np.array([-90.0, 90.0, 0.0, 89.999999, -89.999999, 45.0, -45.0]),
        np.round(rng.uniform(-90, 90, 200), 2),       # boundary-ish
    ])
    lon = np.concatenate([
        rng.uniform(-180, 180, 4000),
        np.array([-180.0, 180.0, 0.0, 179.999999, -179.999999, 90.0, -90.0]),
        np.round(rng.uniform(-180, 180, 200), 2),
    ])
    df = spark.createDataFrame(
        pd.DataFrame({"lat": lat, "lon": lon}), "lat double, lon double")
    for res in (0, 2, 6, 9, 12, 18, 26):
        i, j = cell_ij_cols(F.col("lat"), F.col("lon"), res)
        got = df.select(i.alias("i"), j.alias("j")).toPandas()
        _, want_i, want_j = cx.decode(cx.cell_id(lat, lon, res))
        assert (got["i"].to_numpy() == want_i).all(), res
        assert (got["j"].to_numpy() == want_j).all(), res


def test_s2_cell_id_col_matches_numpy_codec(spark):
    """The JVM quad-sphere expression twin (cellsql.with_s2_cell, the
    form Engine.attach_s2 and the s2 PIP/kNN gates attach keys with)
    must produce the IDENTICAL int64 id as cellindex.s2_cell_id —
    including poles, antimeridian, face corners (lat +-35.264..., lon
    multiples of 45) and near-boundary points.  numpy and the JVM
    implement sin/cos independently (each <=1 ulp), so exact
    face-boundary inputs are the measure-zero caveat; this fixed-seed
    sample pins full bit-identity (VERDICT r3 missing #3
    done-criterion)."""
    import pandas as pd

    from pbf2json_spark.functions.cellsql import with_s2_cell

    rng = np.random.Generator(np.random.Philox(key=np.uint64(9)))
    corner_lat = np.degrees(np.arctan(1.0 / np.sqrt(2.0)))
    lat = np.concatenate([
        rng.uniform(-90, 90, 4000),
        np.array([-90.0, 90.0, 0.0, 45.0, -45.0, corner_lat, -corner_lat,
                  89.999999, -89.999999]),
        np.round(rng.uniform(-90, 90, 200), 2),
        np.full(40, corner_lat) + rng.uniform(-1e-6, 1e-6, 40),
    ])
    lon = np.concatenate([
        rng.uniform(-180, 180, 4000),
        np.array([-180.0, 180.0, 0.0, 45.0, -45.0, 135.0, -135.0,
                  90.0, -90.0]),
        np.round(rng.uniform(-180, 180, 200), 2),
        rng.choice([-135.0, -45.0, 45.0, 135.0], 40)
        + rng.uniform(-1e-9, 1e-9, 40),
    ])
    m = min(len(lat), len(lon))
    lat, lon = lat[:m], lon[:m]
    df = spark.createDataFrame(
        pd.DataFrame({"lat": lat, "lon": lon}), "lat double, lon double")
    for L in (0, 1, 5, 9, 12, 20, 26):
        got = with_s2_cell(df, "lat", "lon", L, "c") \
            .select("c").toPandas()["c"].to_numpy(np.int64)
        assert (got == cx.s2_cell_id(lat, lon, L)).all(), L


# ---------------------------------------------------------------------------
# quad-sphere coverings (VERDICT r2 item 6)
# ---------------------------------------------------------------------------

def test_s2_cover_bbox_superset():
    """Every point of the bbox lies in an emitted cell — including
    pole-containing and antimeridian-crossing boxes."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(23)))
    boxes = [(-5.0, 5.0, -5.0, 5.0), (40.0, 41.0, -75.0, -73.0),
             (80.0, 90.0, -180.0, 180.0), (-90.0, -80.0, -10.0, 10.0),
             (30.0, 40.0, 175.0, -175.0),     # antimeridian
             (33.0, 37.0, 40.0, 50.0),        # straddles a face edge
             (-36.0, 36.0, -46.0, 46.0)]      # spans 5 faces
    for _ in range(12):
        la0 = rng.uniform(-89, 85)
        lo0 = rng.uniform(-180, 175)
        boxes.append((la0, la0 + rng.uniform(0.1, 8), lo0,
                      lo0 + rng.uniform(0.1, 8)))
    for level in (2, 5, 9):
        for (la_min, la_max, lo_min, lo_max) in boxes:
            cov = set(cx.s2_cover_bbox(la_min, la_max, lo_min, lo_max,
                                       level).tolist())
            assert cov
            m = 400
            las = rng.uniform(la_min, la_max, m)
            if lo_min <= lo_max:
                los = rng.uniform(lo_min, lo_max, m)
            else:
                width = (lo_max - lo_min) % 360.0
                los = np.mod(lo_min + rng.uniform(0, width, m)
                             + 180.0, 360.0) - 180.0
            # corners and edges of the box too
            las = np.concatenate([las, [la_min, la_max, la_min, la_max]])
            los = np.concatenate([los, [lo_min, lo_min, lo_max, lo_max]])
            got = cx.s2_cell_id(las, los, level)
            missing = [i for i, g in enumerate(got) if int(g) not in cov]
            assert not missing, (level, la_min, la_max, lo_min, lo_max,
                                 las[missing[:3]], los[missing[:3]])


def test_s2_cover_bbox_superset_wide_spans():
    """Lon spans in (190, 360] — the ADVICE r3 regression: the face
    interval wraps past +180 and re-enters the equatorial face range,
    which the unshifted clipping silently dropped (1704 cells missing
    for a (-179,179) span at level 6).  Both nowrap (lon_min<=lon_max)
    and antimeridian (lon_min>lon_max) forms must stay supersets."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(61)))
    # the exact ADVICE repro first
    cov = set(cx.s2_cover_bbox(-10.0, 10.0, -179.0, 179.0, 6).tolist())
    la = rng.uniform(-10, 10, 5000)
    lo = rng.uniform(-179, 179, 5000)
    assert not set(cx.s2_cell_id(la, lo, 6).tolist()) - cov
    for _ in range(40):
        la0, la1 = np.sort(rng.uniform(-90, 90, 2))
        span = rng.uniform(190.0, 360.0)
        lo0 = rng.uniform(-180, 180)
        lo1 = lo0 + span
        lmin, lmax = (lo0, lo1 - 360.0) if lo1 > 180 else (lo0, lo1)
        level = int(rng.integers(1, 7))
        cov = set(cx.s2_cover_bbox(la0, la1, lmin, lmax, level).tolist())
        pla = rng.uniform(la0, la1, 400)
        plo = np.mod(rng.uniform(lo0, lo1, 400) + 180.0, 360.0) - 180.0
        missing = set(cx.s2_cell_id(pla, plo, level).tolist()) - cov
        assert not missing, (la0, la1, lmin, lmax, level, len(missing))


@pytest.mark.parametrize("seed,level", [(3, 5), (17, 7), (29, 9)])
def test_s2_cover_polygon_edge_exact_superset(seed, level):
    """r4 edge-exact quad-sphere coverings (VERDICT r3 missing #2):
    any point inside the polygon falls in a covering cell, for random
    star polygons, a polar cap polygon, and an antimeridian-adjacent
    sliver."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    rings = []
    for _ in range(10):
        clat = rng.uniform(-65, 65); clon = rng.uniform(-150, 150)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 8))
        rad = rng.uniform(0.5, 6.0, 8)
        rla = clat + rad * np.sin(ang); rlo = clon + rad * np.cos(ang)
        rings.append((np.append(rla, rla[0]), np.append(rlo, rlo[0])))
    rings.append((np.array([80.0, 82.0, 88.0, 85.0, 80.0]),
                  np.array([-150.0, 30.0, 100.0, -60.0, -150.0])))
    rings.append((np.array([-5.0, 5.0, 5.0, -5.0, -5.0]),
                  np.array([176.0, 176.0, 179.9, 179.9, 176.0])))
    for rla, rlo in rings:
        cov = set(cx.s2_cover_polygon(rla, rlo, level).tolist())
        pl = rng.uniform(rla.min(), rla.max(), 300)
        po = rng.uniform(rlo.min(), rlo.max(), 300)
        ins = gk.raycast_contains(rla, rlo, pl, po)
        if not ins.any():
            continue
        missing = set(cx.s2_cell_id(pl[ins], po[ins], level).tolist()) - cov
        assert not missing, (rla[:3], rlo[:3], len(missing))
        # the edge covering is a subset of the bbox covering
        bbox = set(cx.s2_cover_polygon(rla, rlo, level,
                                       method="bbox").tolist())
        assert cov <= bbox


def test_s2_cover_polygon_edge_beats_bbox_on_diagonal():
    """Candidate-economy done-criterion: a thin diagonal polygon's
    edge-exact covering must be a small fraction of the ring-bbox
    covering (the r3 seam this closes)."""
    rla = np.array([0.0, 0.4, 30.4, 30.0, 0.0])
    rlo = np.array([0.0, 0.0, 40.0, 40.0, 0.0])
    e = len(cx.s2_cover_polygon(rla, rlo, 8, method="edge"))
    b = len(cx.s2_cover_polygon(rla, rlo, 8, method="bbox"))
    assert e < 0.1 * b, (e, b)


def test_s2_cell_latlon_bbox_contains_cell_points():
    """The per-cell lat/lon bbox (the edge-covering primitive) must
    contain every point of the cell — sampled via st-interior points
    and edge midpoints, including polar-face and face-corner cells."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(47)))
    lat = np.concatenate([rng.uniform(-89.9, 89.9, 300),
                          np.full(20, 35.264) + rng.uniform(-1, 1, 20),
                          np.full(10, 89.0), np.full(10, -89.0)])
    lon = np.concatenate([rng.uniform(-180, 180, 300),
                          rng.choice([-135.0, -45.0, 45.0, 135.0], 40)
                          + rng.uniform(-0.5, 0.5, 40)])
    for level in (0, 2, 5, 9):
        cells = np.unique(cx.s2_cell_id(lat, lon, level))
        lat_lo, lat_hi, lon_lo, lon_hi = cx._s2_cell_latlon_bbox(cells)
        face, lv, i, j = cx.s2_decode(cells)
        n = (np.int64(1) << lv).astype(np.float64)
        for frac_i in (0.001, 0.25, 0.5, 0.75, 0.999):
            for frac_j in (0.001, 0.5, 0.999):
                u = cx._st_inv((i + frac_i) / n)
                v = cx._st_inv((j + frac_j) / n)
                pla, plo = cx._xyz_to_latlon(
                    *cx._s2_uv_to_xyz(face, u, v))
                ok_lat = (pla >= lat_lo - 1e-9) & (pla <= lat_hi + 1e-9)
                # boxes may extend past +-180; containment is tested
                # with the same +-360 shifts the covering applies
                ok_lon = np.zeros(len(cells), dtype=bool)
                for sh in (-360.0, 0.0, 360.0):
                    ok_lon |= ((plo + sh >= lon_lo - 1e-9)
                               & (plo + sh <= lon_hi + 1e-9))
                assert ok_lat.all(), (level, frac_i, frac_j)
                assert ok_lon.all(), (level, frac_i, frac_j)


def test_s2_cover_bbox_not_degenerate():
    """Coverings stay useful: a ~1-degree box at level 9 must not cover
    a whole face (the conservative rect math shouldn't blow up)."""
    cov = cx.s2_cover_bbox(40.0, 41.0, -75.0, -74.0, 9)
    assert 1 <= len(cov) < 500
    # polar box: annular-sector rect over-covers but boundedly
    cov = cx.s2_cover_bbox(88.0, 90.0, -180.0, 180.0, 9)
    assert 1 <= len(cov) < 2000
