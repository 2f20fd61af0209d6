"""Hierarchical geo cell index (H3/S2-style), pure numpy.

Neither `h3` nor `s2sphere` is installable in this environment (SURVEY.md
§7), so the engine ships its own deterministic hierarchical cell codec
with the same *roles* the north rule assigns to H3 (res 7-12) and S2
coverings (repo BASELINE.json:6).  Two families, each one codec plus
its coverings:

- equirect: `cell_id(lat, lon, res)` — int64 cell at resolution `res`
  (0..26).  The grid at res r is 2^r latitude rows x 2^(r+1) longitude
  columns of equal-degree cells (~squares at the equator; res 7 ~
  1.4deg, res 12 ~ 0.04deg ~ 4.9 km, halving per res).  Ids pack (res,
  Morton(i, j)) so sorting by id gives Z-order spatial locality — the
  property Iceberg/Parquet layouts exploit for partition pruning.
  Containment is hierarchical: `parent(cell)` truncates Morton bits, and
  a point's res-r cell is always a descendant of its res-(r-1) cell
  (property-tested).  `cover_bbox` / `cover_polygon` are the S2
  covering role: the set of res-r cells intersecting a bbox / polygon
  (superset guarantee for the polygon interior; the PIP equi-join
  prefilter).
- quad-sphere: `s2_cell_id` / `s2_decode` / `s2_parent` and
  `s2_cover_bbox` / `s2_cover_polygon`, the same roles on the six
  faces of a cube (near-uniform cell ground area; see below).

`disk(cells, k)` (the (2k+1)^2 neighbourhood with longitude wrap and
latitude clamping, the H3 k_ring role) and `disk_exit_distance_m` (a
conservative lower bound on the distance from a query point to
anything *outside* its k-disk) are the numpy references for the kNN
ladder's JVM expressions in operators/spatial.py, which tests pin
against them.

All functions are vectorized numpy over arrays of cells/points; they run
on the driver (coverings) and inside Arrow-batched pandas UDFs (cell
keys).  Distances use the same sphere as geokernels (R = 6378137 m) so
guarantees and re-rank distances are mutually consistent.
"""

from __future__ import annotations

import numpy as np

from .geokernels import EARTH_RADIUS_M

MAX_RES = 26
_RES_SHIFT = np.uint64(54)

__all__ = [
    "cell_id", "decode", "parent", "cell_center", "cell_bounds",
    "disk", "cover_bbox", "cover_polygon", "disk_exit_distance_m",
    "MAX_RES",
    "s2_cell_id", "s2_decode", "s2_parent", "S2_MAX_LEVEL",
    "s2_cell_center", "s2_cell_corners",
    "s2_cover_bbox", "s2_cover_polygon",
]


def _part1by1(x):
    """Spread the low 27 bits of x to even bit positions (Morton helper)."""
    x = np.asarray(x, dtype=np.uint64) & np.uint64(0x7FFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def _unpart1by1(x):
    x = np.asarray(x, dtype=np.uint64) & np.uint64(0x5555555555555555)
    x = (x | (x >> np.uint64(1))) & np.uint64(0x3333333333333333)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return x


def _encode_ij(i, j, res):
    morton = _part1by1(j) | (_part1by1(i) << np.uint64(1))
    out = (np.uint64(res) << _RES_SHIFT) | morton
    return out.astype(np.uint64).view(np.int64)


def cell_id(lat, lon, res: int):
    """Vectorized (lat, lon) -> int64 cell id at resolution res."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    la = np.asarray(lat, dtype=np.float64)
    lo = np.asarray(lon, dtype=np.float64)
    nlat, nlon = 1 << res, 2 << res
    i = np.clip(np.floor((la + 90.0) / 180.0 * nlat), 0, nlat - 1).astype(np.uint64)
    jf = np.mod((lo + 180.0) / 360.0, 1.0) * nlon
    j = np.clip(np.floor(jf), 0, nlon - 1).astype(np.uint64)
    return _encode_ij(i, j, res)


def decode(cell):
    """int64 cell -> (res, i, j) int64 arrays."""
    c = np.asarray(cell, dtype=np.int64).view(np.uint64)
    res = (c >> _RES_SHIFT).astype(np.int64)
    morton = c & ((np.uint64(1) << _RES_SHIFT) - np.uint64(1))
    j = _unpart1by1(morton).astype(np.int64)
    i = _unpart1by1(morton >> np.uint64(1)).astype(np.int64)
    return res, i, j


def parent(cell, parent_res: int):
    """Ancestor cell at a coarser resolution (containment-hierarchical)."""
    res, i, j = decode(cell)
    if np.any(res < parent_res):
        raise ValueError("parent_res must be <= cell res")
    shift = (res - parent_res).astype(np.uint64)
    return _encode_ij(i.astype(np.uint64) >> shift,
                      j.astype(np.uint64) >> shift, parent_res)


def cell_bounds(cell):
    """(lat_lo, lat_hi, lon_lo, lon_hi) of each cell."""
    res, i, j = decode(cell)
    nlat = (np.int64(1) << res).astype(np.float64)
    nlon = (np.int64(2) << res).astype(np.float64)
    lat_lo = i / nlat * 180.0 - 90.0
    lat_hi = (i + 1) / nlat * 180.0 - 90.0
    lon_lo = j / nlon * 360.0 - 180.0
    lon_hi = (j + 1) / nlon * 360.0 - 180.0
    return lat_lo, lat_hi, lon_lo, lon_hi


def cell_center(cell):
    lat_lo, lat_hi, lon_lo, lon_hi = cell_bounds(cell)
    return (lat_lo + lat_hi) / 2.0, (lon_lo + lon_hi) / 2.0


def disk(cells, k: int):
    """(n,) cells -> (n, m<= (2k+1)^2) matrix of the k-disk neighbourhood
    ids, -1 padded where latitude clamping removed rows.  Longitude wraps;
    latitude rows outside [0, nlat) are dropped (there is nothing past the
    poles)."""
    c = np.atleast_1d(np.asarray(cells, dtype=np.int64))
    res, i, j = decode(c)
    r = int(res[0]) if c.size else 0
    if c.size and not np.all(res == r):
        raise ValueError("disk() requires uniform resolution")
    nlat, nlon = 1 << r, 2 << r
    di, dj = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1), indexing="ij")
    di, dj = di.reshape(-1), dj.reshape(-1)
    ii = i[:, None] + di[None, :]                       # (n, m)
    jj = np.mod(j[:, None] + dj[None, :], nlon)
    valid = (ii >= 0) & (ii < nlat)
    if 2 * k + 1 >= nlon:  # tiny grids: the disk wraps onto itself
        # dedupe per row by re-encoding and masking duplicates
        ids = _encode_ij(np.clip(ii, 0, nlat - 1).astype(np.uint64),
                         jj.astype(np.uint64), r)
        out = np.where(valid, ids, -1)
        for row in range(out.shape[0]):
            _, first = np.unique(out[row], return_index=True)
            mask = np.zeros(out.shape[1], dtype=bool)
            mask[first] = True
            out[row, ~mask] = -1
        return out
    ids = _encode_ij(np.where(valid, ii, 0).astype(np.uint64), jj.astype(np.uint64), r)
    return np.where(valid, ids, -1)


def cover_bbox(lat_min, lat_max, lon_min, lon_max, res: int):
    """All res-r cells intersecting the bbox (inclusive).  Handles the
    antimeridian when lon_min > lon_max.  Returns a 1-D int64 array."""
    nlat, nlon = 1 << res, 2 << res
    i_lo = int(np.clip(np.floor((lat_min + 90.0) / 180.0 * nlat), 0, nlat - 1))
    i_hi = int(np.clip(np.floor((lat_max + 90.0) / 180.0 * nlat), 0, nlat - 1))
    j_lo = int(np.clip(np.floor(np.mod((lon_min + 180.0) / 360.0, 1.0) * nlon), 0, nlon - 1))
    fhi = np.mod((lon_max + 180.0) / 360.0, 1.0)
    # lon_max == +180 exactly is the grid's top EDGE: mod folds it to
    # column 0, which empties the range (an r5 antimeridian-piece bug);
    # it belongs to the last column unless this is the wrap form
    # (lon_min > lon_max, where -180 == +180 is the wrap target)
    if fhi == 0.0 and lon_max > lon_min:
        j_hi = nlon - 1
    else:
        j_hi = int(np.clip(np.floor(fhi * nlon), 0, nlon - 1))
    ii = np.arange(i_lo, i_hi + 1, dtype=np.int64)
    if lon_min <= lon_max:
        jj = np.arange(j_lo, j_hi + 1, dtype=np.int64)
    else:  # crosses the antimeridian
        jj = np.concatenate([np.arange(j_lo, nlon, dtype=np.int64),
                             np.arange(0, j_hi + 1, dtype=np.int64)])
    I, J = np.meshgrid(ii, jj, indexing="ij")
    return _encode_ij(I.reshape(-1).astype(np.uint64),
                      J.reshape(-1).astype(np.uint64), res)


def _seg_box_intersect(x1, y1, x2, y2, bx_lo, by_lo, bx_hi, by_hi):
    """Vectorized segment-vs-axis-aligned-box overlap test.
    Segments (s,) vs boxes (c,) -> (c, s) bool (separating-axis)."""
    sx_lo = np.minimum(x1, x2)[None, :]
    sx_hi = np.maximum(x1, x2)[None, :]
    sy_lo = np.minimum(y1, y2)[None, :]
    sy_hi = np.maximum(y1, y2)[None, :]
    bb_x_lo, bb_y_lo = bx_lo[:, None], by_lo[:, None]
    bb_x_hi, bb_y_hi = bx_hi[:, None], by_hi[:, None]
    no_overlap = (sx_hi < bb_x_lo) | (sx_lo > bb_x_hi) | (sy_hi < bb_y_lo) | (sy_lo > bb_y_hi)
    # line side test: all 4 box corners strictly on one side of the line
    dx = (x2 - x1)[None, :]
    dy = (y2 - y1)[None, :]
    def side(cx, cy):
        return dx * (cy - y1[None, :]) - dy * (cx - x1[None, :])
    s1 = side(bb_x_lo, bb_y_lo)
    s2 = side(bb_x_lo, bb_y_hi)
    s3 = side(bb_x_hi, bb_y_lo)
    s4 = side(bb_x_hi, bb_y_hi)
    all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
    all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    return ~no_overlap & ~(all_pos | all_neg)


def cover_polygon(ring_lats, ring_lons, res: int):
    """Exact covering of a polygon at res: every cell that intersects the
    polygon's boundary or interior.  Superset guarantee for PIP: any point
    inside the polygon lies in one of the returned cells (its cell either
    intersects an edge or has its whole box inside -> center inside).
    """
    from .geokernels import raycast_contains, ring_is_canonical
    rla = np.asarray(ring_lats, dtype=np.float64)
    rlo = np.asarray(ring_lons, dtype=np.float64)
    if not ring_is_canonical(rla, rlo):
        raise ValueError(
            "cover_polygon: ring is not in canonical coordinates (lons "
            "in [-180, 180], no edge spanning > 180 deg of longitude) — "
            "an antimeridian-wrapped ring interpreted as a plane polygon "
            "returns silently wrong cells; split it first with "
            "geokernels.split_antimeridian (point_in_polygon does this "
            "automatically)")
    cand = cover_bbox(rla.min(), rla.max(), rlo.min(), rlo.max(), res)
    lat_lo, lat_hi, lon_lo, lon_hi = cell_bounds(cand)
    # edge crossing test (x=lon, y=lat)
    x1, y1 = rlo[:-1], rla[:-1]
    x2, y2 = rlo[1:], rla[1:]
    if rla[0] != rla[-1] or rlo[0] != rlo[-1]:  # implied closing edge
        x1 = np.concatenate([x1, rlo[-1:]]); y1 = np.concatenate([y1, rla[-1:]])
        x2 = np.concatenate([x2, rlo[:1]]); y2 = np.concatenate([y2, rla[:1]])
    crosses = _seg_box_intersect(x1, y1, x2, y2, lon_lo, lat_lo, lon_hi, lat_hi).any(axis=1)
    clat, clon = cell_center(cand)
    inside = raycast_contains(rla, rlo, clat, clon)
    return cand[crosses | inside]


def disk_exit_distance_m(lat, lon, res: int, k: int):
    """Conservative lower bound (meters, sphere R=6378137) on the distance
    from each point to any point OUTSIDE its k-disk at `res`.

    Latitude sides: exact meridian arc R*dphi; clamped sides (disk touches
    a pole) contribute +inf (nothing exists beyond).  Longitude sides:
    distance to the side's full great circle R*asin(cos(phi)*|sin(dlam)|),
    a lower bound; if the disk wraps all longitudes -> +inf."""
    la = np.asarray(lat, dtype=np.float64)
    lo = np.asarray(lon, dtype=np.float64)
    nlat, nlon = 1 << res, 2 << res
    i = np.clip(np.floor((la + 90.0) / 180.0 * nlat), 0, nlat - 1)
    j = np.clip(np.floor(np.mod((lo + 180.0) / 360.0, 1.0) * nlon), 0, nlon - 1)
    dlat_deg, dlon_deg = 180.0 / nlat, 360.0 / nlon

    lat_lo = (i - k) * dlat_deg - 90.0
    lat_hi = (i + k + 1) * dlat_deg - 90.0
    d_south = np.where(lat_lo <= -90.0, np.inf, np.radians(la - lat_lo) * EARTH_RADIUS_M)
    d_north = np.where(lat_hi >= 90.0, np.inf, np.radians(lat_hi - la) * EARTH_RADIUS_M)

    if 2 * k + 1 >= nlon:
        d_west = d_east = np.full_like(la, np.inf)
    else:
        lon_w = (j - k) * dlon_deg - 180.0          # west edge meridian
        lon_e = (j + k + 1) * dlon_deg - 180.0      # east edge meridian
        cosphi = np.cos(np.radians(la))
        def to_meridian(mer):
            dl = np.radians(np.mod(lo - mer, 360.0))
            return EARTH_RADIUS_M * np.arcsin(np.clip(cosphi * np.abs(np.sin(dl)), 0.0, 1.0))
        d_west, d_east = to_meridian(lon_w), to_meridian(lon_e)

    return np.minimum(np.minimum(d_south, d_north), np.minimum(d_west, d_east))


# ---------------------------------------------------------------------------
# quad-sphere ("S2-style") cell family
# ---------------------------------------------------------------------------
# The equirectangular Morton grid above is the H3-role index (fast,
# hierarchy-friendly, but cells shrink toward the poles).  This second
# family projects onto the 6 faces of a cube (S2's construction, with
# the tangent uv->st transform) so cell GROUND AREA stays within ~2.5x
# everywhere on the sphere — the property that matters when a cell id
# doubles as a storage partition key at 10^12 rows.  Layout:
#   id = face(3 bits) << 59 | level(5 bits) << 54 | morton(i, j)
# distinct from the equirect ids only by convention (the two families
# live in separate columns; nothing mixes them).

S2_MAX_LEVEL = 26
_S2_FACE_SHIFT = np.uint64(59)
_S2_LEVEL_SHIFT = np.uint64(54)


def _latlon_to_xyz(lat, lon):
    la = np.radians(np.asarray(lat, dtype=np.float64))
    lo = np.radians(np.asarray(lon, dtype=np.float64))
    cl = np.cos(la)
    return cl * np.cos(lo), cl * np.sin(lo), np.sin(la)


def _st(p):
    """S2's quadratic uv -> st transform: near-uniform ground area per
    cell.  Monotone on all of R."""
    # max(.., 0) keeps the not-taken where-branch out of sqrt's
    # domain (|p| <= 1 on the taken branch by construction)
    p = np.asarray(p, dtype=np.float64)
    return np.where(p >= 0,
                    0.5 * np.sqrt(np.maximum(1.0 + 3.0 * p, 0.0)),
                    1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * p, 0.0)))


def _st_inv(s):
    """Inverse of _st (st -> uv), same monotone extension."""
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5,
                    (4.0 * s * s - 1.0) / 3.0,
                    (1.0 - 4.0 * (1.0 - s) * (1.0 - s)) / 3.0)


def _s2_encode_fij(face, level: int, i, j):
    morton = _part1by1(j.astype(np.uint64)) \
        | (_part1by1(i.astype(np.uint64)) << np.uint64(1))
    out = ((face.astype(np.uint64) << _S2_FACE_SHIFT)
           | (np.uint64(level) << _S2_LEVEL_SHIFT) | morton)
    return out.astype(np.uint64).view(np.int64)


def s2_cell_id(lat, lon, level: int):
    """Vectorized (lat, lon) -> quad-sphere cell id at `level`
    (2^level x 2^level cells per cube face)."""
    if not 0 <= level <= S2_MAX_LEVEL:
        raise ValueError(f"level must be in [0, {S2_MAX_LEVEL}]")
    x, y, z = _latlon_to_xyz(lat, lon)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # dominant axis picks the face: 0:+x 1:-x 2:+y 3:-y 4:+z 5:-z
    face = np.where(
        (ax >= ay) & (ax >= az), np.where(x >= 0, 0, 1),
        np.where(ay >= az, np.where(y >= 0, 2, 3),
                 np.where(z >= 0, 4, 5))).astype(np.uint64)
    dom = np.choose(face.astype(np.int64),
                    [x, -x, y, -y, z, -z])
    # (u, v) = the two non-dominant coords over the dominant one
    u = np.choose(face.astype(np.int64), [y, -y, -x, x, y, -y]) / dom
    v = np.choose(face.astype(np.int64), [z, z, z, z, -x, x]) / dom
    n = np.uint64(1) << np.uint64(level)
    i = np.clip(np.floor(_st(u) * np.float64(n)), 0, np.float64(n) - 1) \
        .astype(np.uint64)
    j = np.clip(np.floor(_st(v) * np.float64(n)), 0, np.float64(n) - 1) \
        .astype(np.uint64)
    return _s2_encode_fij(face, level, i, j)


def s2_decode(cell):
    """int64 quad-sphere cell -> (face, level, i, j) int64 arrays."""
    c = np.asarray(cell, dtype=np.int64).view(np.uint64)
    face = (c >> _S2_FACE_SHIFT).astype(np.int64)
    level = ((c >> _S2_LEVEL_SHIFT) & np.uint64(0x1F)).astype(np.int64)
    morton = c & ((np.uint64(1) << _S2_LEVEL_SHIFT) - np.uint64(1))
    j = _unpart1by1(morton).astype(np.int64)
    i = _unpart1by1(morton >> np.uint64(1)).astype(np.int64)
    return face, level, i, j


def s2_parent(cell, parent_level: int):
    """Ancestor quad-sphere cell (containment-hierarchical: i, j shift)."""
    face, level, i, j = s2_decode(cell)
    if np.any(level < parent_level):
        raise ValueError("parent_level must be <= cell level")
    sh = (level - parent_level).astype(np.uint64)
    return _s2_encode_fij(face, parent_level, i.astype(np.uint64) >> sh,
                          j.astype(np.uint64) >> sh)


# face-local (u, v, 1) -> world xyz, derived by inverting the encode
# tables in s2_cell_id (dom = 1 scale; unit-normalization is
# irrelevant for face/cell assignment, which is scale-invariant):
#   face 0 (+x): ( 1,  u,  v)    face 1 (-x): (-1, -u,  v)
#   face 2 (+y): (-u,  1,  v)    face 3 (-y): ( u, -1,  v)
#   face 4 (+z): (-v,  u,  1)    face 5 (-z): ( v, -u, -1)
_S2_UV_XYZ = (
    lambda u, v: (np.ones_like(u), u, v),
    lambda u, v: (-np.ones_like(u), -u, v),
    lambda u, v: (-u, np.ones_like(u), v),
    lambda u, v: (u, -np.ones_like(u), v),
    lambda u, v: (-v, u, np.ones_like(u)),
    lambda u, v: (v, -u, -np.ones_like(u)),
)


def _s2_uv_to_xyz(face, u, v):
    """Vectorized (face, u, v) -> (x, y, z) (not normalized)."""
    face = np.asarray(face, dtype=np.int64)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f in range(6):
        m = face == f
        if m.any():
            xf, yf, zf = _S2_UV_XYZ[f](u[m], v[m])
            x[m], y[m], z[m] = xf, yf, zf
    return x, y, z


def _xyz_to_latlon(x, y, z):
    hyp = np.hypot(x, y)
    return (np.degrees(np.arctan2(z, hyp)),
            np.degrees(np.arctan2(y, x)))


def s2_cell_center(cell):
    """Quad-sphere cell -> (lat, lon) of the cell's st-center."""
    face, level, i, j = s2_decode(cell)
    n = (np.int64(1) << level).astype(np.float64)
    u = _st_inv((i + 0.5) / n)
    v = _st_inv((j + 0.5) / n)
    return _xyz_to_latlon(*_s2_uv_to_xyz(face, u, v))


def s2_cell_corners(cell):
    """Quad-sphere cell -> (lats (n, 4), lons (n, 4)) of its 4 corners
    in (i, j), (i+1, j), (i, j+1), (i+1, j+1) order.  Corners are shared
    exactly between in-face neighbors and (up to float noise in the two
    projections) across face edges."""
    face, level, i, j = s2_decode(cell)
    n = (np.int64(1) << level).astype(np.float64)
    di = np.array([0, 1, 0, 1], dtype=np.float64)
    dj = np.array([0, 0, 1, 1], dtype=np.float64)
    u = _st_inv((i[:, None] + di[None, :]) / n[:, None])
    v = _st_inv((j[:, None] + dj[None, :]) / n[:, None])
    f4 = np.broadcast_to(face[:, None], u.shape)
    la, lo = _xyz_to_latlon(*_s2_uv_to_xyz(f4.reshape(-1),
                                           u.reshape(-1), v.reshape(-1)))
    return la.reshape(u.shape), lo.reshape(u.shape)


# latitude (deg) of a cube-face corner: atan(1/sqrt(2)).  Equatorial
# faces reach at most 45 deg (at their central meridian); polar faces
# begin at >= _S2_POLAR_LAT.  35.0 (vs 35.264) keeps the face trigger
# conservative.
_S2_POLAR_LAT = 35.0


def _s2_face_cells_from_uv(face: int, ulo, uhi, vlo, vhi, level: int):
    """All cells of `face` whose uv rect intersects [ulo,uhi]x[vlo,vhi]
    (clipped to the face)."""
    if ulo > 1.0 or uhi < -1.0 or vlo > 1.0 or vhi < -1.0:
        return np.empty(0, dtype=np.int64)
    n = 1 << level
    s0 = int(np.clip(np.floor(_st(max(ulo, -1.0)) * n), 0, n - 1))
    s1 = int(np.clip(np.floor(_st(min(uhi, 1.0)) * n), 0, n - 1))
    t0 = int(np.clip(np.floor(_st(max(vlo, -1.0)) * n), 0, n - 1))
    t1 = int(np.clip(np.floor(_st(min(vhi, 1.0)) * n), 0, n - 1))
    ii, jj = np.meshgrid(np.arange(s0, s1 + 1, dtype=np.int64),
                         np.arange(t0, t1 + 1, dtype=np.int64),
                         indexing="ij")
    fc = np.full(ii.size, face, dtype=np.int64)
    return _s2_encode_fij(fc, level, ii.reshape(-1), jj.reshape(-1))


def _s2_cover_bbox_nowrap(lat_min, lat_max, lon_min, lon_max, level):
    """Covering for a bbox with lon_min <= lon_max (no antimeridian)."""
    parts = []
    # equatorial faces: u = tan(dlon), v = tan(lat)/cos(dlon); over a
    # lat x dlon rect, u is monotone in dlon and v takes its extrema at
    # rect corners or the dlon = 0 meridian, so corner+midline
    # evaluation bounds the face image of the bbox EXACTLY (superset
    # after uv->st floor/ceil)
    for f, lam in ((0, 0.0), (1, 180.0), (2, 90.0), (3, -90.0)):
        # intersect [lon_min, lon_max] with the face's lon range
        # [lam - 45, lam + 45] on the circle.  dlo is wrapped into
        # [-180, 180), so when the bbox lon span exceeds ~190 deg the
        # interval [dlo, dhi] can run past +180 and RE-ENTER the face
        # range from the west — the -360 shift catches that re-entrant
        # part (ADVICE r3, high: the unshifted interval alone dropped
        # whole face intersections, e.g. 1704 cells for a (-179,179)
        # span at level 6).  dlo >= -180 means no +360 shift can hit.
        dlo = (lon_min - lam + 180.0) % 360.0 - 180.0
        dhi = dlo + (lon_max - lon_min)
        for shift in (0.0, -360.0):
            dlo2 = max(dlo + shift, -45.0)
            dhi2 = min(dhi + shift, 45.0)
            if dhi2 < dlo2:
                continue
            ulo, uhi = np.tan(np.radians([dlo2, dhi2]))
            dl_cands = [dlo2, dhi2] + ([0.0] if dlo2 < 0.0 < dhi2 else [])
            vc = [np.tan(np.radians(la)) / np.cos(np.radians(d))
                  for la in (lat_min, lat_max) for d in dl_cands]
            parts.append(_s2_face_cells_from_uv(
                f, float(ulo), float(uhi), min(vc), max(vc), level))
    # polar faces: (u, v) = r * (sin lon, -cos lon) on +z with
    # r = cot(lat) (and the mirrored frame on -z); the bbox image is an
    # annular sector whose uv rect is corners + axis crossings
    def sector_rect(r0, r1, lo, hi, ux, vx):
        cand_u, cand_v = [], []
        for r in (r0, r1):
            for ln in (lo, hi):
                s, cc = np.sin(np.radians(ln)), np.cos(np.radians(ln))
                cand_u.append(r * s * ux)
                cand_v.append(r * cc * vx)
        for crossing in (-450.0, -270.0, -90.0, 90.0, 270.0, 450.0):
            if lo <= crossing <= hi:  # sin = +-1
                cand_u.append(r1 * (1.0 if np.sin(np.radians(crossing))
                                    > 0 else -1.0) * ux)
        for crossing in (-360.0, -180.0, 0.0, 180.0, 360.0):
            if lo <= crossing <= hi:  # cos = +-1
                cand_v.append(r1 * (1.0 if np.cos(np.radians(crossing))
                                    > 0 else -1.0) * vx)
        return min(cand_u), max(cand_u), min(cand_v), max(cand_v)

    if lat_max >= _S2_POLAR_LAT:       # face 4: u=r sin, v=-r cos
        la0 = max(lat_min, _S2_POLAR_LAT)
        r0 = 1.0 / np.tan(np.radians(lat_max)) if lat_max < 90.0 else 0.0
        r1 = 1.0 / np.tan(np.radians(la0))
        ulo, uhi, vlo, vhi = sector_rect(r0, r1, lon_min, lon_max,
                                         1.0, -1.0)
        parts.append(_s2_face_cells_from_uv(4, ulo, uhi, vlo, vhi, level))
    if lat_min <= -_S2_POLAR_LAT:      # face 5: u=-r sin, v=r cos
        la0 = min(lat_max, -_S2_POLAR_LAT)
        r0 = 1.0 / np.tan(np.radians(-lat_min)) if lat_min > -90.0 else 0.0
        r1 = 1.0 / np.tan(np.radians(-la0))
        ulo, uhi, vlo, vhi = sector_rect(r0, r1, lon_min, lon_max,
                                         -1.0, 1.0)
        parts.append(_s2_face_cells_from_uv(5, ulo, uhi, vlo, vhi, level))
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def s2_cover_bbox(lat_min, lat_max, lon_min, lon_max, level: int):
    """Conservative quad-sphere covering of a lat/lon bbox: every
    level-`level` cell containing any point of the bbox is in the
    result (superset guarantee, property-tested), computed per face
    from exact uv-rect bounds of the bbox image — no sampling, no
    recursion.  Handles the antimeridian when lon_min > lon_max and
    pole-containing boxes.  Near-tight on equatorial faces; polar
    faces over-cover by the annular-sector-to-rect ratio."""
    if not 0 <= level <= S2_MAX_LEVEL:
        raise ValueError(f"level must be in [0, {S2_MAX_LEVEL}]")
    if lon_min > lon_max:
        return np.unique(np.concatenate([
            _s2_cover_bbox_nowrap(lat_min, lat_max, lon_min, 180.0, level),
            _s2_cover_bbox_nowrap(lat_min, lat_max, -180.0, lon_max, level),
        ]))
    return _s2_cover_bbox_nowrap(lat_min, lat_max, lon_min, lon_max, level)


def _s2_cell_latlon_bbox(cells):
    """EXACT (lat_lo, lat_hi, lon_lo, lon_hi) of each quad-sphere
    cell (degrees; lon_hi may exceed 180 for cells straddling the
    antimeridian — callers test the -360/+360-shifted box too).

    Quad-sphere cell edges are GREAT-CIRCLE arcs (constant-u/-v
    curves are central-plane sections), and lat/lon have no critical
    points on the sphere except the poles, so a pole-free cell's
    lat/lon extremes are attained on its 4 edges:

    - latitude range of an arc: endpoint latitudes, plus the circle's
      z-extreme points +-(z_hat - nz*n_hat)/|...| when they lie
      within the arc (in-arc test via cross-product orientation).
    - longitude along a great circle is MONOTONE (d lon/dt has the
      constant sign of n_z: x*dy - y*dx = nz*(x^2+y^2) - z*(n.p - nz*z)
      with n.p = 0 collapses to nz), so an arc's lon range is just
      its endpoint lons ordered by that sign, unwrapped mod 360.

    Cells touching a pole (corner cells of polar faces; the whole
    polar face at level 0) get the full lon range and the polar lat.
    """
    c = np.atleast_1d(np.asarray(cells, dtype=np.int64))
    face, level, i, j = s2_decode(c)
    la4, lo4 = s2_cell_corners(c)                       # (n, 4)
    n_cells = len(c)
    # corner xyz (normalized) straight from uv for precision
    nf = (np.int64(1) << level).astype(np.float64)
    di = np.array([0.0, 1.0, 0.0, 1.0])
    dj = np.array([0.0, 0.0, 1.0, 1.0])
    u = _st_inv((i[:, None] + di[None, :]) / nf[:, None])
    v = _st_inv((j[:, None] + dj[None, :]) / nf[:, None])
    f4 = np.broadcast_to(face[:, None], u.shape)
    X, Y, Z = _s2_uv_to_xyz(f4.reshape(-1), u.reshape(-1), v.reshape(-1))
    P = np.stack([X, Y, Z], axis=1)
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    P = P.reshape(n_cells, 4, 3)

    # edges in corner order (i,j)->(i+1,j)->(i+1,j+1)->(i,j+1)->close
    E1 = np.array([0, 1, 3, 2])
    E2 = np.array([1, 3, 2, 0])
    A = P[:, E1, :]                                     # (n, 4, 3)
    B = P[:, E2, :]
    lat_a, lat_b = la4[:, E1], la4[:, E2]
    lon_a, lon_b = lo4[:, E1], lo4[:, E2]

    N = np.cross(A, B)                                  # (n, 4, 3)
    Nn = np.linalg.norm(N, axis=2, keepdims=True)
    Nh = N / np.maximum(Nn, 1e-300)
    nz = Nh[..., 2]

    # circle z-extreme points: +-(z_hat - nz * n_hat)
    zhat = np.zeros_like(Nh)
    zhat[..., 2] = 1.0
    Phi = zhat - nz[..., None] * Nh
    Phin = np.linalg.norm(Phi, axis=2, keepdims=True)
    degenerate = (Phin[..., 0] < 1e-12)                 # equatorial edge
    Phi = Phi / np.maximum(Phin, 1e-300)

    def in_arc(Q):
        s1 = np.einsum("nek,nek->ne", np.cross(A, Q), Nh)
        s2 = np.einsum("nek,nek->ne", np.cross(Q, B), Nh)
        return (s1 >= -1e-12) & (s2 >= -1e-12)

    zmax = np.sqrt(np.clip(1.0 - nz * nz, 0.0, 1.0))
    hi_in = in_arc(Phi) & ~degenerate
    lo_in = in_arc(-Phi) & ~degenerate
    lat_hi_e = np.maximum(lat_a, lat_b)
    lat_lo_e = np.minimum(lat_a, lat_b)
    lat_hi_e = np.where(hi_in, np.degrees(np.arcsin(zmax)), lat_hi_e)
    lat_lo_e = np.where(lo_in, -np.degrees(np.arcsin(zmax)), lat_lo_e)
    lat_lo = lat_lo_e.min(axis=1)
    lat_hi = lat_hi_e.max(axis=1)

    # lon interval per edge: [start, start + width] in travel order
    w_ab = np.mod(lon_b - lon_a, 360.0)
    w_ba = np.mod(lon_a - lon_b, 360.0)
    start = np.where(nz > 0, lon_a, lon_b)
    width = np.where(nz > 0, w_ab, w_ba)
    meridian = np.abs(nz) < 1e-12                      # lon-constant arc
    start = np.where(meridian, np.minimum(lon_a, lon_b), start)
    width = np.where(meridian, np.abs(lon_a - lon_b), width)
    # recenter on the cell-center lon so the 4 intervals share a frame
    clat, clon = s2_cell_center(c)
    a_rel = np.mod(start - clon[:, None] + 180.0, 360.0) - 180.0
    lon_lo = clon + a_rel.min(axis=1)
    lon_hi = clon + (a_rel + width).max(axis=1)

    # pole-touching cells: full lon range (and exact polar latitude)
    pole = (lat_hi > 90.0 - 1e-9) | (lat_lo < -90.0 + 1e-9) \
        | ((level == 0) & (face >= 4))
    lat_hi = np.where((level == 0) & (face == 4), 90.0, lat_hi)
    lat_lo = np.where((level == 0) & (face == 5), -90.0, lat_lo)
    lon_lo = np.where(pole, -180.0, lon_lo)
    lon_hi = np.where(pole, 180.0, lon_hi)
    return lat_lo, lat_hi, lon_lo, lon_hi


def s2_cover_polygon(ring_lats, ring_lons, level: int,
                     method: str = "edge"):
    """Quad-sphere covering of a polygon.  method='edge' (default
    since r4) follows the polygon edges like the equirect
    cover_polygon: candidates come from the ring-bbox covering, and a
    candidate survives iff its EXACT lat/lon bbox intersects a ring
    segment or its center lies inside the ring.  Superset guarantee
    (property-tested): a point inside the polygon lies in some cell;
    either the ring crosses that cell (then it crosses the cell's
    bbox -> kept) or the cell is wholly inside (center inside ->
    kept).  PRECONDITION (enforced since r5 — non-canonical rings
    raise ValueError instead of returning silently wrong cells):
    canonical coordinates (lons in [-180, 180], no antimeridian
    wrap) — the ring is interpreted as a lat/lon-PLANE polygon, the
    same convention the equirect cover_polygon and the ray-cast
    refine use; wrapped rings go through
    geokernels.split_antimeridian first.  method='bbox' returns
    the r3 ring-bbox covering (strictly more candidates on anything
    non-rectangular; tolerant of non-canonical lons since it only
    reads ring min/max)."""
    rla = np.asarray(ring_lats, dtype=np.float64)
    rlo = np.asarray(ring_lons, dtype=np.float64)
    if method == "edge":
        from .geokernels import ring_is_canonical
        if not ring_is_canonical(rla, rlo):
            raise ValueError(
                "s2_cover_polygon: ring is not in canonical coordinates "
                "(lons in [-180, 180], no edge spanning > 180 deg of "
                "longitude) — an antimeridian-wrapped ring interpreted as "
                "a plane polygon returns silently wrong cells; split it "
                "first with geokernels.split_antimeridian "
                "(point_in_polygon does this automatically)")
    cand = s2_cover_bbox(rla.min(), rla.max(), rlo.min(), rlo.max(),
                         level)
    if method == "bbox" or len(cand) == 0:
        return cand
    if method != "edge":
        raise ValueError(f"unknown method {method!r}")
    lat_lo, lat_hi, lon_lo, lon_hi = _s2_cell_latlon_bbox(cand)
    x1, y1 = rlo[:-1], rla[:-1]
    x2, y2 = rlo[1:], rla[1:]
    if rla[0] != rla[-1] or rlo[0] != rlo[-1]:  # implied closing edge
        x1 = np.concatenate([x1, rlo[-1:]]); y1 = np.concatenate([y1, rla[-1:]])
        x2 = np.concatenate([x2, rlo[:1]]); y2 = np.concatenate([y2, rla[:1]])
    crosses = np.zeros(len(cand), dtype=bool)
    for shift in (0.0, -360.0, 360.0):  # cell boxes can sit past +-180
        crosses |= _seg_box_intersect(
            x1, y1, x2, y2,
            lon_lo + shift, lat_lo, lon_hi + shift, lat_hi).any(axis=1)
    from .geokernels import raycast_contains
    clat, clon = s2_cell_center(cand)
    inside = raycast_contains(rla, rlo, clat, clon)
    return cand[crosses | inside]

