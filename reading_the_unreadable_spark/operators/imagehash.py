"""Perceptual image-hash near-duplicate detection (dHash).

Web corpora are full of byte-different re-encodings of the same image
(recompressed thumbnails, format conversions, metadata-stripped
copies) — exact binary dedup misses all of them.  The difference hash
(dHash) is the standard cheap perceptual fingerprint: resize the image
to a 9x8 grayscale grid and take the 64 horizontal-gradient sign bits
``gray[y, x+1] > gray[y, x]``.  Re-encodings and small edits perturb
few bits, so near-duplicates are pairs within a small Hamming radius.

Scale design (the SimHash discipline, `operators/dedup.py`):

- **Hashing** is one pass of :func:`..execution.decode_payloads` over
  the payload column — decode through the from-scratch codecs
  (`multimodal.decode_image`); the 64-bit hash leaves the stage as one
  BIGINT per image, payload bytes never shuffle.
- **Pairing** bit-slices the hash into ``n_bands`` disjoint slices and
  equi-joins on (band, slice-value): by pigeonhole, any pair within
  Hamming distance ``n_bands - 1`` agrees on at least one full slice,
  so with the default ``n_bands = max_hamming + 1`` the band join has
  NO false negatives — the output equals the exact all-pairs result,
  which is what lets the driver row hash-match a brute-force DuckDB
  replica.  Candidates are verified with JVM-side ``bit_count(a ^ b)``
  (no UDF) and de-duplicated across bands.  Hot slices (e.g. flat
  white thumbnails) are bounded with a document-frequency cap like the
  MinHash/winnow families.

Reference tie-in: the reference deduplicates at text grain only
(`analysis_functions.py`); image-grain near-dup is the multimodal
counterpart a 100 TB crawl pipeline needs before spending GPU decode
on duplicate figures.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..execution import decode_payloads, spread
from .multimodal import decode_image, resize_nearest

DHASH_SCHEMA = "id long, dhash long, decode_err string"


def dhash64(arr: np.ndarray) -> int:
    """64-bit difference hash of an HxWx3 image: grayscale, nearest
    resize to 9 wide x 8 tall, bit i (= y*8 + x, LSB first) set when
    gray[y, x+1] > gray[y, x]."""
    gray = arr.astype(np.float64).mean(axis=2)
    g = resize_nearest(gray[:, :, None], 8, 9)[:, :, 0]
    bits = (g[:, 1:] > g[:, :-1]).astype(np.uint64).ravel()
    return int(bits @ (np.uint64(1) << np.arange(64, dtype=np.uint64)))


def _signed64(h: int) -> int:
    """An unsigned 64-bit hash as the signed BIGINT that stores it
    (two's complement view)."""
    return h - (1 << 64) if h >= (1 << 63) else h


def image_dhash(media: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → (id, dhash bigint, decode_err), through
    :func:`..execution.decode_payloads`."""
    return decode_payloads(
        media.select("doc_id", "payload"), DHASH_SCHEMA, ("doc_id",),
        lambda b: [(_signed64(dhash64(decode_image(b))), None)],
    )


def dhash_pairs(hashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(id, dhash) → (doc_a, doc_b, hamming) for all pairs within
    ``max_hamming``.  With ``n_bands = max_hamming + 1`` slices the
    join is exhaustive (pigeonhole), so the result is the EXACT
    all-pairs set — certified by the driver row's brute-force oracle.
    A slice shared by more than 2 000 hashes (flat images) is dropped,
    the way the MinHash band join caps hot buckets; that recall
    boundary sits far above any real fixture."""
    n_bands = max_hamming + 1
    if 64 % n_bands != 0:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands
    mask = (1 << width) - 1
    h = hashes.filter(F.col("dhash").isNotNull()).select("id", "dhash")
    bands = h.select(
        "id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("dhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("id", "dhash", "bs.band", "bs.sig")
    # degenerate-slice cap (document frequency per (band, sig))
    w = Window.partitionBy("band", "sig")
    bands = bands.withColumn("df", F.count("*").over(w)).filter(
        F.col("df") <= 2000
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.sig") == F.col("b.sig"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.expr("bit_count(ha ^ hb)").cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------------- deterministic fixtures
def synth_dhash_images(documents: DataFrame) -> DataFrame:
    """Deterministic 9x8 grayscale-RGB images from the documents table,
    every pixel a closed-form function of doc_id so a DuckDB oracle can
    recompute the dHash bits without decoding anything:

        v(doc_id, y, x) = ((doc_id % 40) * 53 + y * 17 + x * 29
                           + [((doc_id // 40) % 8 == 1) and y == 0
                              and x == 0] * 128) % 256

    Docs sharing doc_id % 40 form exact-duplicate groups; the (0, 0)
    perturbation (keyed on doc_id // 40, so it varies WITHIN a group)
    creates near-duplicates at Hamming distance <= 1.  Encoding cycles
    the lossless codecs — BMP (doc_id % 3 == 0), PNG filter-1
    (% 3 == 1), TIFF LZW (% 3 == 2) — so the Spark side certifies a
    real decode round-trip while the oracle stays closed-form."""
    from .multimodal import encode_bmp, encode_png
    from .tiff import encode_tiff

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ys = np.arange(8)[:, None]
        xs = np.arange(9)[None, :]
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                v = ((doc_id % 40) * 53 + ys * 17 + xs * 29) % 256
                if (doc_id // 40) % 8 == 1:
                    v = v.copy()
                    v[0, 0] = (v[0, 0] + 128) % 256
                img = np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2)
                k = doc_id % 3
                if k == 0:
                    payload = encode_bmp(img)
                elif k == 1:
                    payload = encode_png(img, filter_type=1)
                else:
                    payload = encode_tiff(img, compression="lzw")
                ids.append(doc_id)
                payloads.append(bytearray(payload))
            yield pd.DataFrame(
                {"doc_id": ids,
                 "payload": pd.Series(payloads, dtype=object)}
            )

    # image synthesis + codec encode is compute-heavy map work:
    # rebalance under-split scans
    return spread(documents.select("doc_id")).mapInPandas(
        fn, schema="doc_id long, payload binary"
    )


def ahash64(arr: np.ndarray) -> int:
    """64-bit average hash: grayscale, nearest resize to 8x8, bit
    i (= y*8 + x, LSB first) set when the pixel EXCEEDS the 8x8 mean.
    The comparison is kept rational — ``64*pixel > sum`` over integer
    grays — so an oracle can replay every bit in exact arithmetic."""
    gray = arr.astype(np.int64).sum(axis=2)  # 3*gray keeps integers exact
    g = resize_nearest(gray[:, :, None], 8, 8)[:, :, 0]
    total = int(g.sum())
    bits = (g.ravel() * 64 > total).astype(np.uint64)
    return int(bits @ (np.uint64(1) << np.arange(64, dtype=np.uint64)))


def image_ahash(media: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → (id, ahash bigint, decode_err): average
    hash over the same decode stage — the member of the perceptual
    family whose bits an oracle can replay in EXACT integer arithmetic
    (see :func:`ahash64`)."""
    return decode_payloads(
        media, "id long, ahash long, decode_err string", ("doc_id",),
        lambda b: [(_signed64(ahash64(decode_image(b))), None)],
    )


def synth_ahash_images(documents: DataFrame) -> DataFrame:
    """Deterministic 8x8 grayscale-RGB images, every pixel closed-form
    over doc_id (the :func:`synth_dhash_images` recipe at aHash's
    grid):

        v(doc_id, y, x) = ((doc_id % 40) * 53 + y * 17 + x * 29) % 256

    Encoding cycles BMP / PNG filter-1 / TIFF LZW by doc_id % 3, so
    the Spark side certifies real decode round-trips while the oracle
    recomputes every bit as ``64 * 3*v > Σ 3*v`` in integers."""
    from .multimodal import encode_bmp, encode_png
    from .tiff import encode_tiff

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ys = np.arange(8)[:, None]
        xs = np.arange(8)[None, :]
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                v = ((doc_id % 40) * 53 + ys * 17 + xs * 29) % 256
                img = np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2)
                k = doc_id % 3
                if k == 0:
                    payload = encode_bmp(img)
                elif k == 1:
                    payload = encode_png(img, filter_type=1)
                else:
                    payload = encode_tiff(img, compression="lzw")
                ids.append(doc_id)
                payloads.append(bytearray(payload))
            yield pd.DataFrame(
                {"doc_id": ids,
                 "payload": pd.Series(payloads, dtype=object)}
            )

    # image synthesis + codec encode is compute-heavy map work:
    # rebalance under-split scans
    return spread(documents.select("doc_id")).mapInPandas(
        fn, schema="doc_id long, payload binary"
    )
