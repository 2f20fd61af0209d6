"""Self-contained numpy image codec for the `images` table payloads.

The environment has no Pillow/OpenCV (SURVEY.md §7), so the engine defines
its own three formats for the `fmt` column of the hinted input shape
(image_id, bytes, w, h, fmt, caption, phash — repo BASELINE.json:15):

- ``raw``  : lossless packed RGB (header + uint8 pixels);
- ``rle``  : lossless byte run-length encoding;
- ``qdct`` : lossy 8x8 block DCT with uniform quantization — decoded
  pixels satisfy PSNR >= 40 dB vs the source (tested), the per-row
  invariant required by BASELINE.json:15.

Also here: the 64-bit perceptual hash (DCT sign hash, the `phash`
column) and the documented pure function ``geotag_from_phash`` that
derives the geo view (lat/lon) from `phash`, so the base table keeps
exactly the hinted shape and all geo columns are reproducible
(FIXTURES.md §1).  The geotag distribution is zipfian: ~80% of images
land in 5 "city-center" hotspots so skew handling is observable at toy
scale.

Everything is deterministic and pure numpy; codecs run inside Arrow
batched UDFs (mapInPandas) on the Spark side.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC_RAW = b"PBR1"
MAGIC_RLE = b"PBL1"
MAGIC_QDCT = b"PBQ1"

_QDCT_STEP = 4.0  # uniform AC quantizer; MSE ~ q^2/12 -> PSNR ~ 46 dB
_BLOCK = 8

__all__ = [
    "encode_image", "decode_image", "psnr", "phash64",
    "gen_pixels", "geotag_from_phash", "splitmix64",
]


# ---------------------------------------------------------------------------
# deterministic pixel synthesis
# ---------------------------------------------------------------------------

def gen_pixels(seq: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 image: smooth gradients whose phases
    are keyed by ``seq`` plus counter-based noise (Philox — stable across
    numpy versions)."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(0xC0FFEE ^ seq)))
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    phase = rng.uniform(0, 2 * np.pi, size=3)
    freq = rng.uniform(0.5, 3.0, size=3)
    img = np.empty((h, w, 3), dtype=np.float64)
    for c in range(3):
        img[:, :, c] = (
            127.5
            + 80.0 * np.sin(2 * np.pi * freq[c] * xx / w + phase[c])
            + 40.0 * np.cos(2 * np.pi * freq[(c + 1) % 3] * yy / h + phase[(c + 2) % 3])
        )
    img += rng.normal(0.0, 6.0, size=img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# codecs
# ---------------------------------------------------------------------------

def _header(magic: bytes, w: int, h: int) -> bytes:
    return magic + struct.pack(">HH", w, h)


def _rle_encode(flat: np.ndarray) -> bytes:
    # classic byte RLE: (run_len uint8 in 1..255, value uint8) pairs
    change = np.nonzero(np.diff(flat))[0] + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [flat.size]))
    out = bytearray()
    for s, e in zip(starts.tolist(), ends.tolist()):
        v = int(flat[s])
        n = e - s
        while n > 0:
            take = min(n, 255)
            out.append(take)
            out.append(v)
            n -= take
    return bytes(out)


def _rle_decode(data: bytes) -> np.ndarray:
    arr = np.frombuffer(data, dtype=np.uint8).reshape(-1, 2)
    return np.repeat(arr[:, 1], arr[:, 0])


def _dct_mat(n: int = _BLOCK) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0, :] = 1.0 / np.sqrt(n)
    return m


_D8 = _dct_mat(_BLOCK)
_D8_F32 = _D8.astype(np.float32)


def _blockify(ch: np.ndarray) -> np.ndarray:
    """(H, W) -> (nb, 8, 8) with zero padding to multiples of 8."""
    h, w = ch.shape
    ph, pw = (-h) % _BLOCK, (-w) % _BLOCK
    if ph or pw:
        ch = np.pad(ch, ((0, ph), (0, pw)), mode="edge")
    hh, ww = ch.shape
    return (ch.reshape(hh // _BLOCK, _BLOCK, ww // _BLOCK, _BLOCK)
              .transpose(0, 2, 1, 3).reshape(-1, _BLOCK, _BLOCK)), hh, ww


def _unblockify(blocks: np.ndarray, hh: int, ww: int, h: int, w: int) -> np.ndarray:
    ch = (blocks.reshape(hh // _BLOCK, ww // _BLOCK, _BLOCK, _BLOCK)
                .transpose(0, 2, 1, 3).reshape(hh, ww))
    return ch[:h, :w]


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode (h, w, 3) uint8 pixels into the given format's byte payload."""
    h, w = pixels.shape[:2]
    hdr = _header({"raw": MAGIC_RAW, "rle": MAGIC_RLE, "qdct": MAGIC_QDCT}[fmt], w, h)
    if fmt == "raw":
        return hdr + pixels.tobytes()
    if fmt == "rle":
        return hdr + _rle_encode(pixels.reshape(-1))
    # qdct: per-channel blockwise DCT, uniform quantization to int16
    coefs = []
    for c in range(3):
        blocks, hh, ww = _blockify(pixels[:, :, c].astype(np.float64) - 128.0)
        f = _D8 @ blocks @ _D8.T
        coefs.append(np.round(f / _QDCT_STEP).astype(np.int16))
    return hdr + np.concatenate([c.reshape(-1) for c in coefs]).tobytes()


def decode_image(data: bytes) -> np.ndarray:
    """Decode any of the three formats back to (h, w, 3) uint8 pixels."""
    magic, (w, h) = data[:4], struct.unpack(">HH", data[4:8])
    body = data[8:]
    if magic == MAGIC_RAW:
        return np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3).copy()
    if magic == MAGIC_RLE:
        return _rle_decode(body).reshape(h, w, 3).copy()
    if magic == MAGIC_QDCT:
        hh, ww = h + ((-h) % _BLOCK), w + ((-w) % _BLOCK)
        nb = (hh // _BLOCK) * (ww // _BLOCK)
        q = np.frombuffer(body, dtype=np.int16).reshape(3, nb, _BLOCK, _BLOCK)
        out = np.empty((h, w, 3), dtype=np.uint8)
        # float32 IDCT: decode is memory-bandwidth-bound at scale; single
        # precision halves the traffic and stays far above the PSNR>=40
        # invariant (quantization error ~q/2 >> float32 rounding)
        d8 = _D8_F32
        for c in range(3):
            f = q[c].astype(np.float32) * np.float32(_QDCT_STEP)
            blocks = d8.T @ f @ d8
            ch = _unblockify(blocks, hh, ww, h, w) + np.float32(128.0)
            out[:, :, c] = np.clip(np.round(ch), 0, 255).astype(np.uint8)
        return out
    raise ValueError(f"unknown image magic {magic!r}")


def block_means(pixels: np.ndarray, grid: int) -> tuple:
    """grid x grid mean-intensity blocks of an (h, w, 3) uint8 raster ->
    (flat float32 values (grid*grid,), bh, bw).

    This is THE shared float op sequence for raster block reduction:
    the Spark tile operators (operators/spatial.py) and the Spark-free
    oracle twin (sources/synth.gen_tile_blocks_pdf, which backs the
    q_tile_assignment DuckDB oracle fixture) both call it, so block
    values are bit-identical across engines and only the aggregation
    order can differ downstream."""
    px = pixels.astype(np.float32).mean(axis=2, dtype=np.float32)
    h, w = px.shape
    bh, bw = max(h // grid, 1), max(w // grid, 1)
    vals = px[:bh * grid, :bw * grid] \
        .reshape(grid, bh, grid, bw).mean(axis=(1, 3))
    return vals.reshape(-1), bh, bw


# footprint of an image on the ground, degrees per pixel (synthetic but
# fixed: raster extent scales with resolution like real imagery) —
# shared by the Spark operators and the Spark-free tile oracle twin
DEG_PER_PX = 0.0005


def block_centers(lat: float, lon: float, bh: int, bw: int,
                  grid: int) -> tuple:
    """(lats, lons) of the grid x grid block-center footprints of an
    image centered at (lat, lon) — the exact arithmetic the Spark tile
    operators use."""
    offs = np.arange(grid) - (grid - 1) / 2.0
    dy = offs * bh * DEG_PER_PX
    dx = offs * bw * DEG_PER_PX
    blas = (lat - dy[:, None] - np.zeros((1, grid))).reshape(-1)
    blos = (lon + dx[None, :] + np.zeros((grid, 1))).reshape(-1)
    return blas, blos


def _gather_rows(data: np.ndarray, body: np.ndarray, L: int,
                 m: int) -> np.ndarray:
    """(m, L) gather of equal-length byte slices.  Slice-assignment per
    row is a memcpy; a 2-D fancy-index gather here was the measured
    hot spot (element-wise gather, ~10x slower)."""
    out = np.empty((m, L), dtype=np.uint8)
    for j in range(m):
        s = body[j]
        out[j] = data[s:s + L]
    return out


def _channel_mean_qdct(data: np.ndarray, starts: np.ndarray,
                       w: int, h: int) -> np.ndarray:
    """(m, h, w) float32 channel-mean pixels for a group of same-(w, h)
    qdct images.  Bit-identical values to
    decode_image -> .astype(float32).mean(axis=2): the rounded/clipped
    float32 pixels ARE the uint8 values exactly (0..255 is exact in
    float32), so the uint8 materialization and the channels-last
    transpose are pure memory traffic and are skipped."""
    m = len(starts)
    body = starts + 8
    hh, ww = h + ((-h) % _BLOCK), w + ((-w) % _BLOCK)
    nb = (hh // _BLOCK) * (ww // _BLOCK)
    L = 3 * nb * _BLOCK * _BLOCK * 2
    q = _gather_rows(data, body, L, m).view(np.int16) \
        .reshape(m, 3, nb, _BLOCK, _BLOCK)
    f = q.astype(np.float32)
    f *= np.float32(_QDCT_STEP)
    d8 = _D8_F32
    blocks = d8.T @ f @ d8
    ch = (blocks.reshape(m, 3, hh // _BLOCK, ww // _BLOCK, _BLOCK, _BLOCK)
                .transpose(0, 1, 2, 4, 3, 5)
                .reshape(m, 3, hh, ww))[:, :, :h, :w]
    ch += np.float32(128.0)
    np.round(ch, out=ch)
    np.clip(ch, 0, 255, out=ch)
    return ch.mean(axis=1, dtype=np.float32)


def _decode_stack(data: np.ndarray, starts: np.ndarray,
                  ends: np.ndarray, magic: bytes,
                  w: int, h: int) -> np.ndarray:
    """Decode a group of same-(magic, w, h) raw/rle images out of one
    contiguous uint8 buffer into an (m, h, w, 3) uint8 stack.
    Bit-identical per image to decode_image (tested)."""
    m = len(starts)
    body = starts + 8
    if magic == MAGIC_RAW:
        L = h * w * 3
        return _gather_rows(data, body, L, m).reshape(m, h, w, 3)
    if magic == MAGIC_RLE:
        stack = np.empty((m, h, w, 3), dtype=np.uint8)
        for j in range(m):
            arr = data[body[j]:ends[j]].reshape(-1, 2)
            stack[j] = np.repeat(arr[:, 1], arr[:, 0]).reshape(h, w, 3)
        return stack
    raise ValueError(f"unknown image magic {magic!r}")


_MAGIC_BY_ID = {0: MAGIC_RAW, 1: MAGIC_RLE, 2: MAGIC_QDCT}
_ID_BY_MAGIC_U32 = {
    np.frombuffer(mg, dtype=np.uint32)[0]: i for i, mg in _MAGIC_BY_ID.items()}


def block_means_batch(data: np.ndarray, offsets: np.ndarray,
                      lat: np.ndarray, lon: np.ndarray, grid: int) -> tuple:
    """Vectorized decode -> block_means -> block_centers for a batch of
    images packed in ONE contiguous uint8 buffer (`data`) with int
    `offsets` (n+1, e.g. an Arrow BinaryArray's offsets) and per-image
    geotags.  Returns (vals (n, grid*grid) float64, blas, blos — same
    shapes) with values BIT-IDENTICAL to the per-image
    decode_image/block_means/block_centers sequence (the shared float
    op order is preserved; pinned in tests).  Images are grouped by
    (format, w, h) so the whole group decodes as stacked numpy ops
    instead of one Python iteration per image."""
    n = len(offsets) - 1
    g2 = grid * grid
    vals = np.empty((n, g2))
    blas = np.empty((n, g2))
    blos = np.empty((n, g2))
    if n == 0:
        return vals, blas, blos
    starts = offsets[:-1].astype(np.int64)
    ends = offsets[1:].astype(np.int64)
    lens = ends - starts
    if (lens < 8).any():
        bad = int(np.nonzero(lens < 8)[0][0])
        raise ValueError(f"image {bad}: blob is {int(lens[bad])} bytes, "
                         f"shorter than the 8-byte header")
    hdr = data[starts[:, None] + np.arange(8)]
    magic_u32 = np.ascontiguousarray(hdr[:, :4]).view(np.uint32).reshape(-1)
    w_all = (hdr[:, 4].astype(np.int64) << 8) | hdr[:, 5]
    h_all = (hdr[:, 6].astype(np.int64) << 8) | hdr[:, 7]
    mid = np.full(n, -1, dtype=np.int64)
    for u32, i in _ID_BY_MAGIC_U32.items():
        mid[magic_u32 == u32] = i
    if (mid < 0).any():
        bad = int(np.nonzero(mid < 0)[0][0])
        raise ValueError(
            f"image {bad}: unknown image magic {bytes(hdr[bad, :4])!r}")
    # raw and qdct bodies have a fixed size given (w, h); the stacked
    # gathers read exactly that many bytes, so a truncated blob would
    # read into the next image (rle slices stop at the blob's end)
    hh = (h_all + _BLOCK - 1) // _BLOCK * _BLOCK
    ww = (w_all + _BLOCK - 1) // _BLOCK * _BLOCK
    body = np.where(mid == 0, 3 * w_all * h_all, 6 * hh * ww)
    short = (mid != 1) & (lens - 8 < body)
    if short.any():
        bad = int(np.nonzero(short)[0][0])
        raise ValueError(
            f"image {bad}: {int(lens[bad]) - 8}-byte body is shorter than "
            f"the {int(body[bad])} bytes its {int(w_all[bad])}x"
            f"{int(h_all[bad])} header needs")
    key = (mid << 36) | (w_all << 18) | h_all
    offs = np.arange(grid) - (grid - 1) / 2.0
    for kv in np.unique(key):
        idx = np.nonzero(key == kv)[0]
        magic = _MAGIC_BY_ID[int(kv >> 36)]
        w = int((kv >> 18) & 0x3FFFF)
        h = int(kv & 0x3FFFF)
        # (m, h, w) float32 channel means; op sequence identical per
        # image to decode_image -> astype(f32).mean(axis=2) (a uint8
        # round-trip is value-exact in float32, and mean(dtype=f32)
        # over uint8 casts each element exactly as astype would)
        if magic == MAGIC_QDCT:
            px = _channel_mean_qdct(data, starts[idx], w, h)
        else:
            stack = _decode_stack(data, starts[idx], ends[idx],
                                  magic, w, h)
            px = stack.mean(axis=3, dtype=np.float32)
        bh, bw = max(h // grid, 1), max(w // grid, 1)
        gvals = px[:, :bh * grid, :bw * grid] \
            .reshape(len(idx), grid, bh, grid, bw).mean(axis=(2, 4))
        vals[idx] = gvals.reshape(len(idx), g2)
        # block centers: identical arithmetic to block_centers, batched
        dy = offs * bh * DEG_PER_PX
        dx = offs * bw * DEG_PER_PX
        blas[idx] = (lat[idx, None, None] - dy[None, :, None]
                     - np.zeros((1, 1, grid))).reshape(len(idx), g2)
        blos[idx] = (lon[idx, None, None] + dx[None, None, :]
                     + np.zeros((1, grid, 1))).reshape(len(idx), g2)
    return vals, blas, blos


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 ** 2 / mse))


# ---------------------------------------------------------------------------
# perceptual hash (DCT sign hash) + geotag derivation
# ---------------------------------------------------------------------------

def _resize_gray_32(pixels: np.ndarray) -> np.ndarray:
    """Grayscale + area-resample to 32x32 (supports any size via integer
    block-mean after nearest up-sampling to an LCM grid)."""
    g = pixels.astype(np.float64).mean(axis=2)
    h, w = g.shape
    t = 32
    # upsample by repeat so both dims are multiples of 32, then block-mean
    ry = int(np.lcm(h, t) // h)
    rx = int(np.lcm(w, t) // w)
    up = np.repeat(np.repeat(g, ry, axis=0), rx, axis=1)
    hh, ww = up.shape
    return up.reshape(t, hh // t, t, ww // t).mean(axis=(1, 3))


_D32 = _dct_mat(32)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: 32x32 grayscale DCT, top-left 8x8 block,
    bit i = coefficient > median.  Returned as signed int64."""
    small = _resize_gray_32(pixels)
    f = (_D32 @ small @ _D32.T)[:8, :8].reshape(-1)
    med = np.median(f)
    bits = np.uint64(0)
    for i, v in enumerate(f):
        if v > med:
            bits |= np.uint64(1) << np.uint64(i)
    return int(bits.view(np.int64) if hasattr(bits, "view") else bits)


def splitmix64(x):
    """SplitMix64 mix function, vectorized over uint64 arrays (wraparound
    multiplication is the algorithm, not an error)."""
    with np.errstate(over="ignore"):
        z = (np.asarray(x).astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


# 5 "city-center" hotspots (lat, lon) for the zipfian geo distribution
HOTSPOTS = np.array([
    (40.7128, -74.0060),   # NYC
    (51.5074, -0.1278),    # London
    (35.6762, 139.6503),   # Tokyo
    (-33.8688, 151.2093),  # Sydney
    (19.4326, -99.1332),   # Mexico City
])
HOTSPOT_FRACTION = 0.8
HOTSPOT_JITTER_DEG = 0.05


def geotag_from_phash(phash):
    """The documented pure geo derivation (FIXTURES.md §1): phash -> (lat,
    lon).  ~80% of rows are drawn into 5 hotspot neighbourhoods (zipfian
    city-center skew), the rest uniform over lat [-60, 90) x lon [-180,
    180).  Vectorized; int64 array in, (lat, lon) float64 arrays out."""
    p = np.asarray(phash, dtype=np.int64).view(np.uint64)
    h1 = splitmix64(p)
    h2 = splitmix64(p ^ np.uint64(0xDEADBEEFCAFEBABE))
    h3 = splitmix64(p ^ np.uint64(0x123456789ABCDEF0))
    u1 = (h1 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    u2 = (h2 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    u3 = (h3 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    hot = u1 < HOTSPOT_FRACTION
    idx = (h1 % np.uint64(len(HOTSPOTS))).astype(np.int64)
    lat = np.where(hot,
                   HOTSPOTS[idx, 0] + (u2 - 0.5) * 2 * HOTSPOT_JITTER_DEG,
                   -60.0 + 150.0 * u2)
    lon = np.where(hot,
                   HOTSPOTS[idx, 1] + (u3 - 0.5) * 2 * HOTSPOT_JITTER_DEG,
                   -180.0 + 360.0 * u3)
    return lat, lon
