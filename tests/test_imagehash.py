"""Perceptual dHash family: known-answer bits, codec-path parity,
band-join exhaustiveness vs brute force, quarantine, and plan shape."""

from __future__ import annotations

import itertools
import random

import numpy as np
import pytest

from reading_the_unreadable_spark.operators.imagehash import (
    dhash64,
    dhash_pairs,
    image_dhash,
    synth_dhash_images,
)
from reading_the_unreadable_spark.operators.multimodal import (
    encode_bmp,
    encode_png,
)


def test_dhash_known_answer():
    # strictly increasing rows -> every gradient bit set
    v = np.tile(np.arange(9, dtype=np.uint8) * 10, (8, 1))
    img = np.repeat(v[:, :, None], 3, axis=2)
    assert dhash64(img) == (1 << 64) - 1
    # strictly decreasing -> no bit set
    img_dec = img[:, ::-1, :]
    assert dhash64(img_dec) == 0
    # flat -> no bit set (strict >)
    assert dhash64(np.full((8, 9, 3), 7, np.uint8)) == 0


def test_dhash_resize_path_and_reencode_stability():
    rng = np.random.Generator(np.random.PCG64(7))
    big = rng.integers(0, 256, size=(64, 72, 3)).astype(np.uint8)
    h = dhash64(big)
    # lossless re-encodings hash identically (the point of a
    # perceptual hash over byte-level dedup)
    from reading_the_unreadable_spark.operators.multimodal import decode_image

    assert dhash64(decode_image(encode_bmp(big))) == h
    assert dhash64(decode_image(encode_png(big, filter_type=2))) == h


def _brute_pairs(hashes: dict[int, int], max_h: int):
    out = set()
    for a, b in itertools.combinations(sorted(hashes), 2):
        d = bin(hashes[a] ^ hashes[b]).count("1")
        if d <= max_h:
            out.add((a, b, d))
    return out


@pytest.mark.parametrize("max_h", [1, 3, 7])
def test_band_join_is_exhaustive_vs_brute_force(spark, max_h):
    """Pigeonhole: with n_bands = max_hamming + 1 the band join finds
    EVERY pair within the radius — on adversarially clustered random
    hashes, not just the synth fixture."""
    rng = random.Random(42 + max_h)
    hashes: dict[int, int] = {}
    i = 0
    for _ in range(12):  # 12 clusters of 4 near-identical hashes
        base = rng.getrandbits(64)
        for _ in range(4):
            h = base
            for _ in range(rng.randrange(0, max_h + 2)):  # some beyond radius
                h ^= 1 << rng.randrange(64)
            hashes[i] = h
            i += 1
    df = spark.createDataFrame(
        [(k, v - (1 << 64) if v >= (1 << 63) else v)
         for k, v in hashes.items()],
        "id long, dhash long",
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dhash_pairs(df, max_hamming=max_h).collect()
    }
    assert got == _brute_pairs(hashes, max_h)


def test_image_dhash_quarantines_bad_payloads(spark):
    noisy = np.random.default_rng(5).integers(0, 256, (16, 18, 3), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_bmp(np.zeros((8, 9, 3), np.uint8)))),
        (2, bytearray(b"\x00\x01 not an image")),
        (3, bytearray(encode_bmp(noisy))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary").coalesce(1)
    got = {r["id"]: r for r in image_dhash(df).collect()}
    assert got[1]["dhash"] == 0 and got[1]["decode_err"] is None
    assert got[2]["dhash"] is None and "ValueError" in got[2]["decode_err"]
    # all 64 bits survive a batch that also holds a NULL hash
    h = dhash64(noisy)
    assert h >= 1 << 53
    assert got[3]["dhash"] == (h - (1 << 64) if h >= 1 << 63 else h)


def test_synth_fixture_group_structure(spark):
    docs = spark.createDataFrame([(i,) for i in range(120)], "doc_id long")
    hashes = {
        r["id"]: r["dhash"]
        for r in image_dhash(synth_dhash_images(docs)).collect()
    }
    assert len(hashes) == 120 and all(v is not None for v in hashes.values())
    # same group, same perturbation class -> identical
    assert hashes[0] == hashes[80]  # 0//40=0, 80//40=2: both unperturbed
    # perturbed member of group 0 is within hamming 1
    d = bin((hashes[0] ^ hashes[40]) & ((1 << 64) - 1)).count("1")
    assert d <= 1
    # different groups are far apart
    d2 = bin((hashes[0] ^ hashes[1]) & ((1 << 64) - 1)).count("1")
    assert d2 > 3


def test_dhash_pairs_plan_has_no_cartesian(spark):
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    df = dhash_pairs(image_dhash(synth_dhash_images(docs)), max_hamming=3)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan  # verify stays JVM-side
    # candidate join is keyed on the band slice, not all-pairs
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_ahash_exact_bits():
    import numpy as np

    from reading_the_unreadable_spark.operators.imagehash import ahash64

    # half-dark half-bright 8x8: bright half sets exactly those bits
    img = np.zeros((8, 8, 3), np.uint8)
    img[:, 4:] = 200
    h = ahash64(img)
    want = 0
    for y in range(8):
        for x in range(4, 8):
            want |= 1 << (y * 8 + x)
    assert h == want
    # uniform image: no pixel exceeds the mean -> hash 0
    assert ahash64(np.full((8, 8, 3), 77, np.uint8)) == 0
