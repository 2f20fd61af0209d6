"""Multimodal column operators: image payloads as opaque binary columns
with typed metadata, processed in Arrow-batched mapInPandas pipelines.

The Spark-side plumbing (schemas, batch shapes, partitioning, UDF
signatures) is real and tested.  Decoders for the engine's own formats
(raw/rle/qdct) are real numpy; external codecs (jpeg/png/webp) are
STUBBED — the container has no Pillow/ffmpeg (SURVEY.md §7) — behind
``NotImplementedError`` with a clearly marked seam where a real decoder
plugs in.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import imagecodec as ic

EXTERNAL_IMAGE_FORMATS = {"jpeg", "png", "webp"}


def decode_pixels(data: bytes, fmt: str) -> np.ndarray:
    """Decode seam: engine formats are real; external formats raise until
    a codec library is plugged in here."""
    if fmt in ("raw", "rle", "qdct"):
        return ic.decode_image(data)
    if fmt in EXTERNAL_IMAGE_FORMATS:
        raise NotImplementedError(
            f"external image codec '{fmt}' not available in this "
            f"environment — plug a decoder into multimodal.decode_pixels")
    raise ValueError(f"unknown image format {fmt!r}")


def phash_images(images: DataFrame) -> DataFrame:
    """(image_id, phash): recompute the 64-bit perceptual hash from the
    DECODED bytes — the ingest-side derivation (the stored phash column
    a source carries may predate a lossy re-encode; for qdct images the
    two genuinely differ).  One Arrow-batched mapInPandas pass over
    (image_id, bytes, fmt) only; column pruning keeps captions and
    metadata out of the scan."""

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, phs = [], []
            for r in pdf.itertuples():
                px = decode_pixels(bytes(r.bytes), r.fmt)
                ids.append(r.image_id)
                phs.append(ic.phash64(px))
            yield pd.DataFrame({"image_id": ids,
                                "phash": np.array(phs, dtype=np.int64)})

    return images.select("image_id", "bytes", "fmt") \
                 .mapInPandas(gen, "image_id string, phash long")


def phash_near_dup(images, max_hamming: int = 6):
    """(id_a, id_b, hamming): perceptual near-duplicate image pairs by
    banded phash hamming join (dedup.hash_near_pairs over the table's
    existing int64 phash column — pure JVM, the bytes column is never
    read).  Pigeonhole guarantees hamming <= 3 at the default 4x16-bit
    banding; larger max_hamming is banding-limited, which is the
    standard recall/cost dial for picture dedup at 10^12 rows."""
    from .dedup import hash_near_pairs
    return hash_near_pairs(images, "phash", max_hamming,
                           id_col="image_id", bits=64, n_chunks=4)


def image_duplicates(images, max_hamming: int = 6):
    """(id_a, id_b, hamming): candidate duplicate image pairs = phash
    near-dups REFINED by caption equality — the pair notion the north
    rule verifies (decoded-pixel closeness + caption equality).  The
    caption join touches only (image_id, caption); bytes stay unread
    until verify_pixel_duplicates."""
    from pyspark.sql import functions as F
    pairs = phash_near_dup(images, max_hamming)
    cap = images.select(F.col("image_id"), F.col("caption"))
    return (pairs
            .join(cap.select(F.col("image_id").alias("id_a"),
                             F.col("caption").alias("cap_a")), "id_a")
            .join(cap.select(F.col("image_id").alias("id_b"),
                             F.col("caption").alias("cap_b")), "id_b")
            .filter(F.col("cap_a") == F.col("cap_b"))
            .select("id_a", "id_b", "hamming"))


def verify_pixel_duplicates(images, pairs, min_psnr: float = 40.0):
    """(id_a, id_b, psnr, is_dup): decode ONLY the candidate pairs'
    bytes and verify pixel closeness (PSNR >= min_psnr, the north
    rule's lossy-equality bar; exact-equal pixels report inf -> 999.0).
    Decoding joins bytes to the (small) candidate set, so the corpus
    bytes column is never bulk-read."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ..functions import imagecodec as ic

    b = images.select("image_id", "bytes")
    j = (pairs.select("id_a", "id_b")
         .join(b.select(F.col("image_id").alias("id_a"),
                        F.col("bytes").alias("bytes_a")), "id_a")
         .join(b.select(F.col("image_id").alias("id_b"),
                        F.col("bytes").alias("bytes_b")), "id_b"))

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vals = []
            for ba, bb in zip(pdf["bytes_a"], pdf["bytes_b"]):
                pa = ic.decode_image(bytes(ba)).astype(np.float64)
                pb = ic.decode_image(bytes(bb)).astype(np.float64)
                if pa.shape != pb.shape:
                    vals.append(0.0)
                    continue
                p = ic.psnr(pa, pb)
                vals.append(999.0 if np.isinf(p) else float(p))
            yield pd.DataFrame({"id_a": pdf["id_a"], "id_b": pdf["id_b"],
                                "psnr": vals})

    scored = j.mapInPandas(gen, "id_a string, id_b string, psnr double")
    return scored.withColumn("is_dup", F.col("psnr") >= min_psnr)
