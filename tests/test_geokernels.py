"""Golden-value parity tests for the numpy geometry kernels.

Every expected value below is copied verbatim from the reference's Go
test files (/root/reference/{centroid,line_centroid,poly_centroid,
encoding}_test.go) — these pin go.geo's exact formulas.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pbf2json_spark.functions import geokernels as gk

# /root/reference/line_centroid_test.go:13-41 (OSM way/46340228)
LINE_PTS = [
    (-74.001559, 40.719743), (-73.999914, 40.721679), (-73.997783, 40.724195),
    (-73.997318, 40.724745), (-73.996797, 40.725375), (-73.995203, 40.727239),
    (-73.993927, 40.728737), (-73.992407, 40.730535), (-73.991545, 40.731566),
    (-73.991417, 40.731843), (-73.990745, 40.734738), (-73.990199, 40.737495),
    (-73.989630, 40.739735), (-73.989370, 40.741459), (-73.989219, 40.742233),
    (-73.989119, 40.743025), (-73.988699, 40.745262), (-73.987904, 40.749446),
    (-73.987417, 40.752149), (-73.986938, 40.754016), (-73.986833, 40.754345),
    (-73.986321, 40.755897), (-73.986117, 40.756513), (-73.985720, 40.757348),
    (-73.985433, 40.757980), (-73.983607, 40.760503), (-73.979957, 40.765504),
    (-73.979264, 40.766480),
]

# /root/reference/poly_centroid_test.go:14-40 (OSM way/264768896)
POLY_PTS = [
    (-73.989605, 40.740760), (-73.989615, 40.740762), (-73.989619, 40.740763),
    (-73.989855, 40.740864), (-73.989859, 40.740867), (-73.989866, 40.740874),
    (-73.989870, 40.740882), (-73.989872, 40.740891), (-73.989870, 40.740899),
    (-73.989865, 40.740907), (-73.989584, 40.741288), (-73.989575, 40.741294),
    (-73.989564, 40.741298), (-73.989559, 40.741300), (-73.989547, 40.741300),
    (-73.989535, 40.741299), (-73.989529, 40.741297), (-73.989519, 40.741293),
    (-73.989514, 40.741290), (-73.989507, 40.741283), (-73.989501, 40.741265),
    (-73.989570, 40.740776), (-73.989575, 40.740770), (-73.989581, 40.740765),
    (-73.989590, 40.740761), (-73.989595, 40.740760), (-73.989605, 40.740760),
]

# /root/reference/centroid_test.go:93-100 (Hillsboro Public Library)
HILLSBORO = [
    (-122.9356798, 45.5424694), (-122.9361523, 45.5424261),
    (-122.9363111, 45.5432827), (-122.9358387, 45.5433259),
    (-122.9357890, 45.5430581), (-122.9357608, 45.5429060),
    (-122.9356798, 45.5424694),
]


def lats(pts):
    return np.array([p[1] for p in pts])


def lons(pts):
    return np.array([p[0] for p in pts])


class TestGoldenCentroids:
    def test_line_centroid_exact(self):
        # line_centroid_test.go:43-45 asserts exact float equality
        lat, lon = gk.line_centroid(lats(LINE_PTS), lons(LINE_PTS))
        assert lat == 40.74239780132512
        assert lon == -73.98919819175188

    def test_poly_centroid(self):
        # poly_centroid_test.go:42-44, InDelta 1e-7
        lat, lon = gk.poly_centroid(lats(POLY_PTS), lons(POLY_PTS))
        assert lat == pytest.approx(40.74101953854348, abs=1e-7)
        assert lon == pytest.approx(-73.9896438848581, abs=1e-7)

    def test_hillsboro_full(self):
        # centroid_test.go:91-110: 7-decimal strings + bounds
        clat, clon, ctype, n, s, e, w = gk.centroid_and_bounds(
            lats(HILLSBORO), lons(HILLSBORO))
        assert gk.fmt7(clat) == "45.5428760"
        assert gk.fmt7(clon) == "-122.9359955"
        assert ctype == ""
        assert (n, s, e, w) == (45.5433259, 45.5424261, -122.9356798, -122.9363111)

    def test_closed_square(self):
        # centroid_test.go:72-89
        la = np.array([1.0, -1.0, -1.0, 1.0, 1.0])
        lo = np.array([1.0, 1.0, -1.0, -1.0, 1.0])
        clat, clon, ctype, n, s, e, w = gk.centroid_and_bounds(la, lo)
        assert gk.fmt7(clat) == "0.0000000"
        assert gk.fmt7(clon) == "0.0000000"
        assert (n, s, e, w) == (1.0, -1.0, 1.0, -1.0)

    def test_open_linestring(self):
        # centroid_test.go:112-127
        la = np.array([1.0, 0.0, -1.0])
        lo = np.array([1.0, 0.0, -1.0])
        clat, clon, ctype, n, s, e, w = gk.centroid_and_bounds(la, lo)
        assert gk.fmt7(clat) == "0.0000000"
        assert gk.fmt7(clon) == "0.0000000"
        assert (n, s, e, w) == (1.0, -1.0, 1.0, -1.0)


class TestEntrancePriority:
    # centroid_test.go:9-70; entrance codes already classified:
    # entrance "1"/"2" strings in latlon maps == codes 1/2, absent == -1
    def test_single_entrance(self):
        clat, clon, ctype, n, s, e, w = gk.centroid_and_bounds(
            [1.0], [2.0], entrance=[1], wheelchair=[0])
        assert (clat, clon, ctype) == (1.0, 2.0, "entrance")
        assert (n, s, e, w) == (1.0, 1.0, 2.0, 2.0)

    def test_main_entrance_wins(self):
        clat, clon, ctype, *_ = gk.centroid_and_bounds(
            [0.0, 1.0, -1.0], [0.0, 2.0, -2.0],
            entrance=[1, 2, 1], wheelchair=[0, 0, 2])
        assert (clat, clon, ctype) == (1.0, 2.0, "entrance")

    def test_wheelchair_beats_plain(self):
        clat, clon, ctype, *_ = gk.centroid_and_bounds(
            [0.0, -1.0], [0.0, -2.0], entrance=[1, 1], wheelchair=[0, 2])
        assert (clat, clon) == (-1.0, -2.0)

    def test_first_plain_entrance(self):
        clat, clon, ctype, *_ = gk.centroid_and_bounds(
            [0.0], [0.0], entrance=[1], wheelchair=[0])
        assert (clat, clon) == (0.0, 0.0)

    def test_non_entrance_nodes_ignored(self):
        # nodes without an entrance key (code -1) don't trigger the branch
        clat, clon, ctype, *_ = gk.centroid_and_bounds(
            [1.0, 0.0, -1.0], [1.0, 0.0, -1.0],
            entrance=[-1, -1, -1], wheelchair=[-1, -1, -1])
        assert ctype == ""


class TestClassifiers:
    # pbf2json.go:467-495
    def test_entrance(self):
        assert gk.entrance_class("main") == 2
        assert gk.entrance_class("MAIN") == 2
        for v in ("yes", "home", "staircase"):
            assert gk.entrance_class(v) == 1
        assert gk.entrance_class("exit") == 0
        assert gk.entrance_class(None) == 0

    def test_wheelchair(self):
        assert gk.wheelchair_class("yes") == 2
        assert gk.wheelchair_class("no") == 0
        assert gk.wheelchair_class(None) == 0
        assert gk.wheelchair_class("limited") == 1


class TestTruncation:
    def test_golden_truncation(self):
        # encoding_test.go:27-41: -50.555555555 → "-50.5555556",
        # 77.777777777 → "77.7777778" after 6-byte truncation
        t = gk.truncate_coords(np.array([-50.555555555, 77.777777777]))
        assert gk.fmt7(t[0]) == "-50.5555556"
        assert gk.fmt7(t[1]) == "77.7777778"

    def test_golden_bytes(self):
        # the truncated bits must equal the reference's stored bytes
        t = gk.truncate_coords(np.array([-50.555555555]))
        raw = t.view(np.uint64)[0]
        expected = int.from_bytes(
            bytes([0xc0, 0x49, 0x47, 0x1c, 0x71, 0xc5, 0x00, 0x00]), "big")
        assert raw == expected

    def test_round_numbers_unchanged(self):
        t = gk.truncate_coords(np.array([-50.0, 77.0]))
        assert gk.fmt7(t[0]) == "-50.0000000"
        assert gk.fmt7(t[1]) == "77.0000000"

    @given(st.floats(min_value=-90, max_value=90, allow_nan=False))
    @settings(max_examples=200, deadline=None)
    def test_truncation_error_bounded(self, lat):
        # truncation drops < 1e-7 of precision for coordinate magnitudes
        t = float(gk.truncate_coords(np.array([lat]))[0])
        assert abs(t - lat) < 5e-8 * max(1.0, abs(lat))


class TestRaycast:
    def test_square(self):
        ring_la = np.array([1.0, -1.0, -1.0, 1.0, 1.0])
        ring_lo = np.array([1.0, 1.0, -1.0, -1.0, 1.0])
        inside = gk.raycast_contains(ring_la, ring_lo,
                                     np.array([0.0, 2.0, -0.9]),
                                     np.array([0.0, 0.0, 0.9]))
        assert inside.tolist() == [True, False, True]

    def test_concave(self):
        # L-shape: contains (0.25,0.25) but not (0.75,0.75)
        ring_la = np.array([0.0, 0.0, 1.0, 1.0, 0.5, 0.5, 0.0])
        ring_lo = np.array([0.0, 1.0, 1.0, 0.5, 0.5, 0.0, 0.0])
        # ring as (lat=y, lon=x) pairs of the L polygon
        inside = gk.raycast_contains(
            ring_la, ring_lo, np.array([0.25, 0.9]), np.array([0.25, 0.2]))
        assert inside.tolist() == [True, False]

    @given(st.lists(st.tuples(
        st.floats(min_value=-80, max_value=80, allow_nan=False),
        st.floats(min_value=-170, max_value=170, allow_nan=False)),
        min_size=2, max_size=30))
    @settings(max_examples=50, deadline=None)
    def test_matches_pointwise_oracle(self, pts):
        # ray-cast of many points at once == one point at a time
        ring_la = np.array([10.0, -10.0, -10.0, 10.0, 10.0])
        ring_lo = np.array([20.0, 20.0, -20.0, -20.0, 20.0])
        la = np.array([p[0] for p in pts])
        lo = np.array([p[1] for p in pts])
        batch = gk.raycast_contains(ring_la, ring_lo, la, lo)
        single = [bool(gk.raycast_contains(ring_la, ring_lo,
                                           np.array([a]), np.array([b]))[0])
                  for a, b in pts]
        assert batch.tolist() == single


class TestDistances:
    def test_haversine_known(self):
        # quarter meridian on the go.geo sphere (R=6378137)
        d = float(gk.haversine_m(0.0, 0.0, 90.0, 0.0))
        assert d == pytest.approx(np.pi / 2 * gk.EARTH_RADIUS_M, rel=1e-12)

    def test_ref_bbox_area_floor(self):
        # degenerate bbox (single point) → 1e-6 * 1e-6 floor
        a = float(gk.ref_bbox_area(1.0, 1.0, 2.0, 2.0))
        assert a == pytest.approx(1e-12)

    @given(st.floats(-60, 60), st.floats(-170, 170),
           st.floats(-60, 60), st.floats(-170, 170))
    @settings(max_examples=100, deadline=None)
    def test_haversine_symmetric_nonneg(self, a, b, c, d):
        d1 = float(gk.haversine_m(a, b, c, d))
        d2 = float(gk.haversine_m(c, d, a, b))
        assert d1 == pytest.approx(d2, rel=1e-9, abs=1e-9)
        assert d1 >= 0


class TestRoundtrip7FastPath:
    def test_matches_formatter_on_random_and_adversarial(self):
        rng = np.random.default_rng(99)
        samples = [
            rng.uniform(-180, 180, 2_000_000),
            np.round(rng.uniform(-90, 90, 100_000), 7),     # on-grid
            (np.arange(-1000, 1000) + 0.5) * 1e-7,          # exact midpoints
            (np.arange(1, 2000) * 1e-7) + 0.5e-7,           # more midpoints
            gk.truncate_coords(rng.uniform(-90, 90, 200_000)),
        ]
        for a in samples:
            want = np.char.mod("%.7f", a).astype(np.float64)
            got = gk.roundtrip7(a)
            assert np.array_equal(got, want), \
                a[np.nonzero(got != want)[0][:3]]


def test_stacked_raycast_matches_per_piece_or():
    """The r7 stacked-edge refine (one parity pass over padded mixed
    polygons) must agree with the per-piece raycast OR on every
    candidate, including antimeridian-split pieces and mixed vertex
    counts (padding must contribute zero crossings)."""
    import numpy as np

    rng = np.random.default_rng(77)
    pieces_by_id = {}
    # normal rings of different sizes
    for i, nv in enumerate((4, 7, 12, 33)):
        ang = np.linspace(0, 2 * np.pi, nv, endpoint=False)
        la = 10.0 * i + 3.0 * np.sin(ang)
        lo = 20.0 * i - 50 + 4.0 * np.cos(ang)
        pieces_by_id[f"p{i}"] = [(la, lo)]
    # a wrapped polygon split into two disjoint pieces
    la = np.array([-5.0, 5.0, 5.0, -5.0])
    pieces_by_id["wrap"] = [
        (la, np.array([175.0, 175.0, 180.0, 180.0])),
        (la, np.array([-180.0, -180.0, -175.0, -175.0]))]

    tables = gk.build_stacked_edges(pieces_by_id)
    assert tables is not None
    slot = tables[0]

    ids = list(pieces_by_id)
    codes = rng.integers(0, len(ids), 5000)
    pla = rng.uniform(-40, 40, 5000)
    plo = rng.uniform(-180, 180, 5000)
    slot_codes = np.array([slot[ids[c]] for c in codes])
    got = gk.raycast_contains_stacked(tables, slot_codes, pla, plo)
    for c in range(len(ids)):
        m = codes == c
        want = np.zeros(int(m.sum()), dtype=bool)
        for rla, rlo in pieces_by_id[ids[c]]:
            want |= gk.raycast_contains(rla, rlo, pla[m], plo[m])
        assert np.array_equal(got[m], want), ids[c]
    # padding blowup refuses
    big = dict(pieces_by_id)
    big["huge"] = [(np.zeros(3_000_000), np.zeros(3_000_000))]
    assert gk.build_stacked_edges(big, max_padded_edges=1 << 22) is None


def test_stacked_raycast_bounded_memory_with_one_huge_ring():
    """One 60k-vertex ring among 63 small ones pads every candidate row
    to 60k edges: the stacked refine must process rows in chunks whose
    rows x emax stays inside the table's padded-edge budget, and still
    agree bit for bit with the per-piece raycast_contains."""
    import tracemalloc

    import numpy as np

    rng = np.random.default_rng(2024)
    pieces_by_id = {}
    ang = np.linspace(0, 2 * np.pi, 60_000, endpoint=False)
    pieces_by_id["huge"] = [(5.0 * np.sin(ang), 5.0 * np.cos(ang))]
    for i in range(63):
        a = np.linspace(0, 2 * np.pi, 8, endpoint=False)
        pieces_by_id[f"s{i:02d}"] = [(-40.0 + i + 0.4 * np.sin(a),
                                      -150.0 + 4.0 * i + 0.4 * np.cos(a))]
    tables = gk.build_stacked_edges(pieces_by_id)
    assert tables is not None and tables[1].shape == (64, 60_000)
    slot = tables[0]

    ids = sorted(pieces_by_id)
    n = 300
    codes = rng.integers(0, len(ids), n)
    codes[: n // 2] = ids.index("huge")
    cla = np.array([pieces_by_id[ids[c]][0][0].mean() for c in codes])
    clo = np.array([pieces_by_id[ids[c]][0][1].mean() for c in codes])
    spread = np.where(codes == ids.index("huge"), 6.0, 0.5)
    pla = cla + rng.uniform(-1, 1, n) * spread
    plo = clo + rng.uniform(-1, 1, n) * spread
    slot_codes = np.array([slot[ids[c]] for c in codes])

    tracemalloc.start()
    try:
        got = gk.raycast_contains_stacked(tables, slot_codes, pla, plo)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 200 * 2**20, peak / 2**20

    want = np.zeros(n, dtype=bool)
    for c in np.unique(codes):
        m = codes == c
        for rla, rlo in pieces_by_id[ids[c]]:
            want[m] |= gk.raycast_contains(rla, rlo, pla[m], plo[m])
    assert np.array_equal(got, want)
    assert 0 < want.sum() < n
