"""Deterministic synthetic table generators (FIXTURES.md).

All generators are pure functions of (seed, scale) built on counter-based
Philox streams — no wall clock, no global RNG state.  Pandas generators
are Spark-free (usable by the pure-Python oracles in tests); the
``*_df`` wrappers attach explicit StructType schemas (never inferred)
and convert from pandas through Arrow, so a driver-built table analyzes
to a JVM LocalRelation and scanning it starts no Python worker.

The `images` generator is *distributed*: pixels are synthesized inside
``mapInPandas`` over ``spark.range(n)``, so generation scales with the
cluster instead of the driver — at 10^12 rows the generator IS a
first-stage job, which is the design the north rule requires.

Reference model citations: the OSM-analog schemas mirror the structs at
/root/reference/pbf2json.go:128-167; the generator guarantees (closed vs
open ways, entrance nodes, ~1% missing refs, zero-way relations,
admin_centre members, whitespace-padded tags, the 7 tag-query shapes
from /root/reference/test/end-to-end.js:53-61) are listed in FIXTURES.md §2.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import imagecodec as ic

# ---------------------------------------------------------------------------
# schemas (imported lazily by Spark wrappers; keep pyspark import local so
# pure-pandas consumers never pay for a JVM)
# ---------------------------------------------------------------------------

def spark_schemas():
    from pyspark.sql import types as T
    images = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ])
    nodes = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ])
    ways = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("refs", T.ArrayType(T.LongType()), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ])
    member = T.StructType([
        T.StructField("type", T.ByteType(), False),   # 0 node, 1 way, 2 rel
        T.StructField("ref", T.LongType(), False),
        T.StructField("role", T.StringType(), False),
    ])
    relations = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("members", T.ArrayType(member), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ])
    polygons = T.StructType([
        T.StructField("poly_id", T.StringType(), False),
        T.StructField("ring_lats", T.ArrayType(T.DoubleType()), False),
        T.StructField("ring_lons", T.ArrayType(T.DoubleType()), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ])
    knn_queries = T.StructType([
        T.StructField("query_id", T.StringType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("k", T.IntegerType(), False),
    ])
    return {"images": images, "nodes": nodes, "ways": ways,
            "relations": relations, "polygons": polygons,
            "knn_queries": knn_queries}


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------

_ADJ = ["quiet", "busy", "sunlit", "rainy", "ancient", "modern", "narrow", "wide"]
_NOUN = ["plaza", "harbor", "market", "bridge", "station", "garden", "tower", "alley"]
_PLACE = ["downtown", "the riverside", "the old town", "the hills",
          "the waterfront", "midtown", "the outskirts", "the bazaar"]
_FMTS = ["raw", "rle", "qdct"]
_DIMS = [16, 32, 64]


def caption_for(seq: int) -> str:
    h = int(ic.splitmix64(np.uint64(seq * 7919 + 13)))
    return (f"a photo of a {_ADJ[h & 7]} {_NOUN[(h >> 3) & 7]} "
            f"near {_PLACE[(h >> 6) & 7]} #{seq}")


def gen_image_row(seq: int, dims=None) -> tuple:
    """One deterministic images row: (image_id, bytes, w, h, fmt, caption,
    phash).  `dims` overrides the size palette (default {16,32,64} keeps
    fixtures tiny; benchmarks pass realistic sizes like (64,128,256))."""
    dims = dims or _DIMS
    h = int(ic.splitmix64(np.uint64(seq)))
    w_px = dims[h & 3 if (h & 3) < 3 else 0]
    h_px = dims[(h >> 2) & 3 if ((h >> 2) & 3) < 3 else 1]
    fmt = _FMTS[(h >> 4) % 3]
    px = ic.gen_pixels(seq, w_px, h_px)
    data = ic.encode_image(px, fmt)
    ph = ic.phash64(px)
    return (f"img{seq:012d}", data, w_px, h_px, fmt, caption_for(seq), ph)


def gen_images_pdf(n: int, start: int = 0) -> pd.DataFrame:
    rows = [gen_image_row(s) for s in range(start, start + n)]
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h",
                                       "fmt", "caption", "phash"])


def images_df(spark, n: int, partitions: int | None = None, dims=None):
    """Distributed deterministic images table: exactly the hinted shape
    (BASELINE.json:15), generated executor-side via mapInPandas."""
    schema = spark_schemas()["images"]
    parts = partitions or max(1, min(n // 256, spark.sparkContext.defaultParallelism * 2))

    def gen(batches):
        for pdf in batches:
            seqs = pdf["id"].to_numpy()
            rows = [gen_image_row(int(s), dims) for s in seqs]
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h",
                                              "fmt", "caption", "phash"])

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, schema=schema)


def perturb_pixels(px: np.ndarray, seq: int) -> np.ndarray:
    """Deterministic near-duplicate perturbation for planted phash
    pairs: a low-amplitude bright square (amp 3..6 by seq%4) over a
    1/16-side patch.  Tuned so phash hamming lands in 0..8 (mostly
    2-4) — inside AND straddling the 4x16-bit banding guarantee, which
    is exactly the regime a phash near-dup gate should check.
    numpy-only so the Spark-free oracle fixture shares it verbatim."""
    amp = 3.0 + 1.0 * (seq % 4)
    h, w = px.shape[:2]
    out = px.astype(np.float64)
    out[h // 4:h // 4 + max(1, h // 16),
        w // 4:w // 4 + max(1, w // 16)] += amp
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def gen_phash_pdf(n: int, every: int = 7, dims=None) -> pd.DataFrame:
    """Spark-free twin for the q_phash_near_dup oracle: (image_id,
    phash) where phash is recomputed from the DECODED bytes (for lossy
    qdct images this differs from the stored pre-encode phash column —
    the gate checks the decode path, not the generator's shortcut),
    plus a perturbed copy of every `every`-th image under a 'dup'
    id prefix.  Written to parquet this is the DuckDB oracle input
    (pixel math is not SQL-expressible; the banded hamming join is)."""
    ids, phs = [], []
    for seq in range(n):
        image_id, data, _w, _h, _fmt, _cap, _ph = gen_image_row(seq, dims)
        px = ic.decode_image(data)
        ids.append(image_id)
        phs.append(ic.phash64(px))
        if seq % every == 0:
            pp = perturb_pixels(px, seq)
            ids.append(f"dup{seq:012d}")
            phs.append(ic.phash64(pp))
    return pd.DataFrame({"image_id": ids,
                         "phash": np.array(phs, dtype=np.int64)})


def gen_tile_blocks_pdf(n: int, grid: int = 4, res: int = 12,
                        dims=None) -> pd.DataFrame:
    """Spark-free twin of operators/spatial.image_blocks over the first
    `n` synthetic images: (image_id, cell, block_row, block_col,
    mean_intensity).

    It shares the EXACT kernels with the Spark path (imagecodec.
    block_means / block_centers / geotag_from_phash, cellindex.cell_id)
    so per-block values are bit-identical — this table, written to
    parquet, is the DuckDB oracle input for q_tile_assignment (the
    per-pixel decode is not SQL-expressible, so the oracle checks the
    blocks->cells aggregation over the independently-computed twin)."""
    from ..functions import cellindex as cx
    gr, gc = np.meshgrid(np.arange(grid), np.arange(grid), indexing="ij")
    gr, gc = gr.reshape(-1), gc.reshape(-1)
    ids, cells, vals = [], [], []
    for seq in range(n):
        image_id, data, _w, _h, _fmt, _cap, ph = gen_image_row(seq, dims)
        lat, lon = ic.geotag_from_phash(np.array([ph], dtype=np.int64))
        v, bh, bw = ic.block_means(ic.decode_image(data), grid)
        bla, blo = ic.block_centers(lat[0], lon[0], bh, bw, grid)
        ids.append(image_id)
        cells.append(cx.cell_id(bla, blo, res))
        vals.append(v.astype(np.float64))
    m = grid * grid
    return pd.DataFrame({
        "image_id": np.repeat(np.array(ids), m),
        "cell": np.concatenate(cells),
        "block_row": np.tile(gr, n).astype(np.int32),
        "block_col": np.tile(gc, n).astype(np.int32),
        "mean_intensity": np.concatenate(vals),
    })


# ---------------------------------------------------------------------------
# OSM-analog tables (FIXTURES.md §2)
# ---------------------------------------------------------------------------

# tag vocabulary seeded so all 7 reference query shapes are non-empty
# (/root/reference/test/end-to-end.js:53-61)
_AMENITY = ["toilets", "kindergarten", "cafe", "school"]
_STREETS = ["Main St", "River Rd", "High St", "Park Ave"]
MISSING_ID_BASE = 10_000_000_000  # refs >= this never exist in nodes


def gen_osm_tables(n_nodes: int, n_ways: int, n_rels: int, seed: int = 42):
    """Returns (nodes_pdf, ways_pdf, relations_pdf) pandas frames."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))

    # --- nodes: clustered around 3 centers + uniform
    ids = np.arange(1, n_nodes + 1, dtype=np.int64) * 3  # sparse id space
    centers = np.array([(45.54, -122.93), (40.74, -73.99), (-33.87, 151.21)])
    which = rng.integers(0, 4, n_nodes)
    lat = np.where(which < 3, centers[np.minimum(which, 2), 0] + rng.normal(0, 0.02, n_nodes),
                   rng.uniform(-60, 60, n_nodes))
    lon = np.where(which < 3, centers[np.minimum(which, 2), 1] + rng.normal(0, 0.02, n_nodes),
                   rng.uniform(-179, 179, n_nodes))
    lat = np.round(lat, 7)
    lon = np.round(lon, 7)

    node_tags = []
    u = rng.uniform(size=n_nodes)
    ent_choice = rng.integers(0, 4, n_nodes)
    whl_choice = rng.integers(0, 3, n_nodes)
    amen_choice = rng.integers(0, len(_AMENITY), n_nodes)
    for k in range(n_nodes):
        t = {}
        if u[k] < 0.05:
            t["entrance"] = ["main", "yes", "home", "staircase"][ent_choice[k]]
            if u[k] < 0.03:
                t["wheelchair"] = ["yes", "no", "limited"][whl_choice[k]]
        elif u[k] < 0.10:
            t["amenity"] = _AMENITY[amen_choice[k]]
            t["name"] = f"poi {k}"
        elif u[k] < 0.13:
            t["addr:housenumber"] = str(1 + (k % 200))
            if u[k] < 0.12:
                t["addr:street"] = _STREETS[k % 4]
        elif u[k] < 0.14:
            t[" padded "] = f" value {k} "  # whitespace-trim exercise
            t["building"] = "yes"
        node_tags.append(t)
    nodes = pd.DataFrame({"id": ids, "lat": lat, "lon": lon, "tags": node_tags})

    # --- ways
    way_ids = np.arange(1, n_ways + 1, dtype=np.int64) * 7 + 1
    way_refs, way_tags = [], []
    for k in range(n_ways):
        npts = int(rng.integers(3, 13))
        # pick nodes from one cluster region so geometry is local: sample a
        # contiguous id window then shuffle a bit
        lo = int(rng.integers(0, max(1, n_nodes - npts)))
        refs = ids[lo:lo + npts].copy()
        rng.shuffle(refs)
        closed = rng.uniform() < 0.4 and npts >= 4
        if closed:
            refs = np.append(refs, refs[0])
        if rng.uniform() < 0.01:  # ~1% reference a missing node
            refs[int(rng.integers(0, len(refs)))] = MISSING_ID_BASE + k
        way_refs.append(refs.astype(np.int64).tolist())
        t = {}
        uu = rng.uniform()
        if uu < 0.35:
            t["building"] = "yes" if rng.uniform() < 0.8 else "house"
        elif uu < 0.45:
            t["shop"] = "bakery"
        elif uu < 0.60:
            t["highway"] = "residential"
            t["name"] = f"way {k}"
        elif uu < 0.70:
            t["waterway"] = "stream"
            t["name"] = f"stream {k}"
        elif uu < 0.78:
            t["addr:housenumber"] = str(k % 300)
            t["addr:street"] = _STREETS[k % 4]
        elif uu < 0.82:
            t["amenity"] = _AMENITY[k % len(_AMENITY)]
        # else: untagged (cache-only candidates via relations)
        way_tags.append(t)
    ways = pd.DataFrame({"id": way_ids, "refs": way_refs, "tags": way_tags})

    # --- relations
    rel_ids = np.arange(1, n_rels + 1, dtype=np.int64) * 11 + 5
    members_col, rel_tags = [], []
    for k in range(n_rels):
        members = []
        n_wm = int(rng.integers(0, 5))  # 0 => zero-way relation (dropped)
        for m in range(n_wm):
            wid = int(way_ids[int(rng.integers(0, n_ways))])
            if rng.uniform() < 0.03:  # member way that doesn't exist
                wid = MISSING_ID_BASE + 500_000 + k * 10 + m
            members.append((1, wid, "outer" if m == 0 else "inner"))
        if rng.uniform() < 0.3:  # node members
            members.append((0, int(ids[int(rng.integers(0, n_nodes))]), "label"))
        if rng.uniform() < 0.1:  # relation member (must be ignored)
            members.append((2, int(rel_ids[int(rng.integers(0, n_rels))]), "subarea"))
        rng.shuffle(members)
        t = {}
        uu = rng.uniform()
        if uu < 0.4:
            t["building"] = "yes"
            t["type"] = "multipolygon"
        elif uu < 0.6:
            t["boundary"] = "administrative"
            t["name"] = f"admin {k}"
            # admin_centre node member (J3)
            members.append((0, int(ids[int(rng.integers(0, n_nodes))]), "admin_centre"))
        elif uu < 0.8:
            t["waterway"] = "river" if rng.uniform() < 0.5 else "stream"
            t["name"] = f"river {k}"
        members_col.append([{"type": tp, "ref": rf, "role": rl} for tp, rf, rl in members])
        rel_tags.append(t)
    relations = pd.DataFrame({"id": rel_ids, "members": members_col, "tags": rel_tags})
    return nodes, ways, relations


def osm_tables_df(spark, n_nodes: int, n_ways: int, n_rels: int, seed: int = 42):
    s = spark_schemas()
    nodes, ways, rels = gen_osm_tables(n_nodes, n_ways, n_rels, seed)
    return tuple(spark.createDataFrame(pdf, schema=s[name]) for name, pdf in
                 (("nodes", nodes), ("ways", ways), ("relations", rels)))


# ---------------------------------------------------------------------------
# spatial query fixtures (FIXTURES.md §3)
# ---------------------------------------------------------------------------

def gen_polygons_pdf(n: int, seed: int = 7) -> pd.DataFrame:
    """Closed rings around the image hotspots + random convex/concave
    shapes; ring vertices ordered by angle (simple polygons)."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    rows = []
    for k in range(n):
        if k < len(ic.HOTSPOTS):
            clat, clon = ic.HOTSPOTS[k]
            scale = 0.08
        else:
            clat = float(rng.uniform(-55, 55))
            clon = float(rng.uniform(-170, 170))
            scale = float(rng.uniform(0.05, 2.0))
        nv = int(rng.integers(4, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.3 * scale, scale, nv)  # varying radius => concave
        rla = clat + rad * np.sin(ang)
        rlo = clon + rad * np.cos(ang)
        rla = np.append(rla, rla[0])
        rlo = np.append(rlo, rlo[0])
        rows.append((f"poly{k:05d}", rla.tolist(), rlo.tolist(),
                     {"zone": ["residential", "commercial", "park"][k % 3]}))
    return pd.DataFrame(rows, columns=["poly_id", "ring_lats", "ring_lons", "tags"])


def polygons_df(spark, n: int, seed: int = 7):
    pdf = gen_polygons_pdf(n, seed)
    return spark.createDataFrame(pdf, schema=spark_schemas()["polygons"])


def gen_knn_queries_pdf(n: int, k: int = 5, seed: int = 9) -> pd.DataFrame:
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    hot = rng.uniform(size=n) < 0.5
    idx = rng.integers(0, len(ic.HOTSPOTS), n)
    lat = np.where(hot, ic.HOTSPOTS[idx, 0] + rng.normal(0, 0.1, n),
                   rng.uniform(-59, 59, n))
    lon = np.where(hot, ic.HOTSPOTS[idx, 1] + rng.normal(0, 0.1, n),
                   rng.uniform(-179, 179, n))
    return pd.DataFrame({
        "query_id": [f"q{j:06d}" for j in range(n)],
        "lat": lat, "lon": lon,
        "k": np.full(n, k, dtype=np.int32),
    })


def knn_queries_df(spark, n: int, k: int = 5, seed: int = 9):
    pdf = gen_knn_queries_pdf(n, k, seed)
    return spark.createDataFrame(pdf, schema=spark_schemas()["knn_queries"])
