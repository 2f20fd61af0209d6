"""Reference answers the benchmark checks the engine's outputs against.

Each oracle is a single-process numpy/pure-Python computation that does
not call the operator it checks: brute-force haversine top-k for the kNN
operators, per-polygon ray casting for point-in-polygon, the per-image
codec kernels for tiling and phash, an all-pairs popcount for the
banded hamming join, and tests/oracle.oracle_pipeline for the OSM
denormalization."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pbf2json_spark.functions import cellindex as cx
from pbf2json_spark.functions import geokernels as gk
from pbf2json_spark.functions import imagecodec as ic


def knn_topk(q_lat, q_lon, ids, lat, lon, k, exclude=None):
    """Exact top-k of the points (ids, lat, lon) around one query, ordered
    by (distance, id); `exclude` drops one id (the self pair)."""
    d = gk.haversine_m(q_lat, q_lon, lat, lon)
    order = np.lexsort((ids, d))
    if exclude is not None:
        order = order[ids[order] != exclude]
    top = order[:k]
    return ids[top], d[top]


def knn_mismatch(got: pd.DataFrame, id_col: str, want_ids, want_d,
                 tol_m: float = 1e-3) -> str | None:
    """None when `got` (one query's rows with dist_m, rank) holds the
    oracle's top-k.  Ids may differ only between candidates whose
    distances tie within `tol_m`."""
    got = got.sort_values("rank")
    if len(got) != len(want_ids):
        return f"{len(got)} rows, want {len(want_ids)}"
    gd = got["dist_m"].to_numpy()
    if not np.allclose(gd, want_d, rtol=0, atol=tol_m):
        return f"distances {gd[:3]}... want {want_d[:3]}..."
    if len(want_d):
        sure = set(want_ids[want_d < want_d[-1] - tol_m])
        if not sure <= set(got[id_col]):
            return f"missing ids {sorted(sure - set(got[id_col]))[:3]}"
    return None


def pip_pairs(polys: pd.DataFrame, ids, lat, lon) -> set:
    """{(poly_id, point_id)} by ray casting every point against every
    polygon ring."""
    out = set()
    for p in polys.itertuples():
        hit = gk.raycast_contains(np.asarray(p.ring_lats), np.asarray(p.ring_lons),
                                  lat, lon)
        out.update((p.poly_id, i) for i in ids[hit])
    return out


def tile_cells(image_rows, grid: int, res: int) -> pd.DataFrame:
    """(cell, n_blocks, n_images, avg_intensity) for the given
    (image_id, bytes, phash) rows, block by block through the per-image
    codec kernels (the synth.gen_tile_blocks_pdf recipe)."""
    cells, vals, imgs = [], [], []
    for image_id, data, ph in image_rows:
        lat, lon = ic.geotag_from_phash(np.array([ph], dtype=np.int64))
        v, bh, bw = ic.block_means(ic.decode_image(data), grid)
        bla, blo = ic.block_centers(lat[0], lon[0], bh, bw, grid)
        cells.append(cx.cell_id(bla, blo, res))
        vals.append(v.astype(np.float64))
        imgs += [image_id] * grid * grid
    blocks = pd.DataFrame({"cell": np.concatenate(cells), "image_id": imgs,
                           "v": np.concatenate(vals)})
    return (blocks.groupby("cell")
            .agg(n_blocks=("v", "size"), n_images=("image_id", "nunique"),
                 avg_intensity=("v", "mean"))
            .reset_index())


def phash_of(data: bytes) -> int:
    return ic.phash64(ic.decode_image(data))


def near_pairs(ids, hashes, max_hamming: int, n_chunks: int = 4,
               bits: int = 64) -> set:
    """{(id_a, id_b, hamming)} with id_a < id_b, hamming <= max_hamming and
    at least one equal bits/n_chunks-wide chunk: the banded join's exact
    contract, by testing every pair."""
    ids = np.asarray(ids)
    order = np.argsort(ids)
    ids = ids[order]
    h = np.asarray(hashes, dtype=np.int64)[order].view(np.uint64)
    w = bits // n_chunks
    mask = np.uint64((1 << w) - 1)
    out = set()
    for a in range(len(h) - 1):
        x = h[a] ^ h[a + 1:]
        ham = np.zeros(len(x), dtype=np.int64)
        for byte in range(8):
            ham += _POPCOUNT8[((x >> np.uint64(8 * byte)) & np.uint64(255))
                              .astype(np.intp)]
        share = np.zeros(len(x), dtype=bool)
        for c in range(n_chunks):
            share |= ((x >> np.uint64(w * c)) & mask) == 0
        for b in np.nonzero((ham <= max_hamming) & share)[0]:
            out.add((ids[a], ids[a + 1 + b], int(ham[b])))
    return out


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
