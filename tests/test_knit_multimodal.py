"""Knitting path (custom_id decompose + LCS segment reassembly) and
multimodal plumbing (binary payloads through mapInPandas)."""

from __future__ import annotations

from media_fixtures import MEDIA_SCHEMA
from reading_the_unreadable_spark.operators.knit import (
    combine_segments,
    reclassify_long_titles,
)
from reading_the_unreadable_spark.operators.multimodal import (
    encode_bmp,
    extract_media_features,
)


def _segments_of(text: str, seg_words: int = 6, overlap: int = 2) -> list[str]:
    """Split text into overlapping word segments (mirrors the reference's
    tall-crop split: consecutive segments share an overlap region)."""
    words = text.split()
    out, i = [], 0
    while i < len(words):
        out.append(" ".join(words[i : i + seg_words]))
        if i + seg_words >= len(words):
            break
        i += seg_words - overlap
    return out


def test_knit_reconstructs_split_text(spark):
    text = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a slow march through the old market square at noon"
    )
    segs = _segments_of(text)
    assert len(segs) >= 3
    rows = [
        (f"NS-1850-01-01_page_3_text_B1C2R{box}_segment_{i}", s, 10, 20, 30, "stop")
        for box in (4, 5)
        for i, s in enumerate(segs)
    ]
    df = spark.createDataFrame(
        rows,
        "custom_id string, content string, prompt_tokens int, "
        "completion_tokens int, total_tokens int, finish_reason string",
    )
    out = combine_segments(df).orderBy("reading_order").collect()
    assert len(out) == 2
    for r in out:
        assert r["content"] == text
        assert r["segment_count"] == len(segs)
        assert r["prompt_tokens"] == 10 * len(segs)
        assert r["page_id"] == "NS-1850-01-01_page_3"
        assert r["box_page_id"] in ("B1C2R4", "B1C2R5")
        assert r["issue_id"] == "NS-1850-01-01"
        assert r["page_number"] == 3


def test_reclassify_long_titles(spark):
    df = spark.createDataFrame(
        [("title", 80), ("title", 20), ("text", 80)],
        "class string, completion_tokens int",
    )
    got = [r["class"] for r in reclassify_long_titles(df).collect()]
    assert got == ["text", "title", "text"]


def test_media_features_real_decode(spark):
    import numpy as np

    rows = []
    for i in range(10):
        rng = np.random.Generator(np.random.PCG64(i))
        grad = np.linspace(0, 255, 48, dtype=np.float32)[None, :, None]
        noise = rng.integers(0, 64, size=(32, 48, 3)).astype(np.float32)
        img = np.clip(grad + noise, 0, 255).astype(np.uint8)
        payload = bytearray(encode_bmp(img))
        rows.append((f"doc-{i}/img/0.bmp", "image", payload, 48, 32, None))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 10
    for r in rows:
        assert len(r["feat"]) == 20  # [w, h, mean, std] + 16 hist bins
        assert (r["width"], r["height"]) == (48, 32)
        assert r["feat"][0] == 48.0 and r["feat"][1] == 32.0
        assert 0.0 < r["feat"][2] < 255.0  # mean brightness of real pixels
        assert abs(sum(r["feat"][4:]) - 1.0) < 1e-5  # normalized histogram
        assert r["sha1"]
    # determinism: same ref -> same sha/feat
    again = {r["media_ref"]: r["sha1"] for r in extract_media_features(media).collect()}
    assert {r["media_ref"]: r["sha1"] for r in rows} == again


def test_codec_roundtrip_and_resize():
    import numpy as np

    from reading_the_unreadable_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        resize_nearest,
    )

    rng = np.random.Generator(np.random.PCG64(7))
    img = rng.integers(0, 256, size=(17, 23, 3)).astype(np.uint8)  # odd width: padding path
    assert np.array_equal(decode_image(encode_bmp(img)), img)
    # PGM grayscale decode
    pgm = b"P5\n# comment\n4 2\n255\n" + bytes(range(8))
    arr = decode_image(pgm)
    assert arr.shape == (2, 4, 3)
    assert arr[0, 0, 0] == 0 and arr[1, 3, 2] == 7
    small = resize_nearest(img, 8, 8)
    assert small.shape == (8, 8, 3)
    # formats without a pure-python decode fail loudly, not silently
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):  # arithmetic-coded (SOF9) JPEG
        decode_image(
            b"\xff\xd8\xff\xc9\x00\x0b" + b"\x08\x00\x10\x00\x10\x01\x01\x11\x00"
        )
    # 16-bit PNM decodes now (round-5 profile closure: maxval rescale)
    assert decode_image(b"P5\n2 2\n65535\n" + bytes(8)).shape == (2, 2, 3)


def test_png_roundtrip_all_filters():
    """Pure-zlib PNG decode: every scanline filter type (0 none, 1 sub,
    2 up, 3 average, 4 paeth) round-trips bit-exactly."""
    import numpy as np

    from reading_the_unreadable_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    img = rng.integers(0, 256, size=(9, 13, 3)).astype(np.uint8)
    for ftype in range(5):
        got = decode_image(encode_png(img, filter_type=ftype))
        assert np.array_equal(got, img), f"filter {ftype} mismatch"


def test_png_grayscale_and_unsupported():
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.multimodal import PNG_SIG, decode_image

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    # 2x3 8-bit grayscale, filter 0 rows
    gray = np.arange(6, dtype=np.uint8).reshape(2, 3)
    raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(2))
    png = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    arr = decode_image(png)
    assert arr.shape == (2, 3, 3)
    assert np.array_equal(arr[:, :, 0], gray)
    # 16-bit PNG decodes (round-5 profile closure: MSB rescale)...
    png16 = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
        + chunk(b"IEND", b"")
    )
    assert decode_image(png16).shape == (2, 3, 3)
    # 4-bit gray decodes too (sub-byte closure) ...
    png4 = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 4, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 6))
        + chunk(b"IEND", b"")
    )
    assert decode_image(png4).shape == (2, 3, 3)
    # ...while a spec-invalid depth still raises loudly
    png3 = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 3, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 6))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError):
        decode_image(png3)


def test_media_features_png_end_to_end(spark):
    """PNG payloads flow through the real mapInPandas decode path."""
    import numpy as np

    from reading_the_unreadable_spark.operators.multimodal import encode_png

    rng = np.random.Generator(np.random.PCG64(23))
    rows = []
    for i in range(6):
        img = rng.integers(0, 256, size=(16, 24, 3)).astype(np.uint8)
        rows.append(
            (f"p{i}.png", "image", bytearray(encode_png(img, filter_type=i % 5)), 24, 16, None)
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = extract_media_features(media).collect()
    assert len(got) == 6
    for r in got:
        assert (r["width"], r["height"]) == (24, 16)
        assert abs(sum(r["feat"][4:]) - 1.0) < 1e-5


def test_centroid_dendrogram(spark):
    """F17: numpy agglomerative linkage over label centroids — the two
    nearby labels merge first; k labels → k-1 merge steps."""
    from reading_the_unreadable_spark.operators.similarity import centroid_dendrogram

    rows = []
    base = {
        "a": [1.0, 0.0, 0.0, 0.0],
        "b": [0.99, 0.12, 0.0, 0.0],  # near 'a'
        "c": [0.0, 1.0, 0.0, 0.0],
        "d": [0.0, 0.0, 1.0, 0.0],
    }
    vid = 0
    for label, v in base.items():
        for k in range(3):  # 3 vectors per label, tiny jitter on dim 3
            vec = list(v)
            vec[3] = 0.01 * k
            rows.append((vid, label, vec))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id int, label string, embedding array<double>"
    )
    got = centroid_dendrogram(emb).orderBy("step").collect()
    assert len(got) == 3  # k-1 merges
    assert {got[0]["cluster_a"], got[0]["cluster_b"]} == {"a", "b"}
    assert got[0]["distance"] < got[-1]["distance"]
    assert got[-1]["size"] == 4


def test_jpeg_roundtrip_profiles():
    """From-scratch baseline JFIF codec: 4:4:4, 4:2:0, restart markers,
    grayscale, odd dimensions — decode(encode(x)) ~ x within lossy
    tolerance."""
    import numpy as np

    from reading_the_unreadable_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    img = (
        np.linspace(0, 255, 50)[None, :, None]
        + np.linspace(0, 60, 37)[:, None, None]
        + rng.integers(0, 20, (37, 50, 3))
    ).clip(0, 255).astype(np.uint8)
    for kwargs in (
        {},
        {"subsample": True},
        {"subsample": "422"},  # 2x1 sampling: asymmetric upsample path
        {"subsample": "411"},  # 4x1 sampling: 4-wide MCUs (DV layout)
        {"restart_interval": 3},
        {"subsample": True, "restart_interval": 2},
        {"subsample": "422", "restart_interval": 2},
        {"subsample": "411", "restart_interval": 2},
    ):
        dec = decode_jpeg(encode_jpeg(img, quality=90, **kwargs))
        assert dec.shape == img.shape
        err = np.abs(dec.astype(int) - img.astype(int)).mean()
        assert err < 8.0, (kwargs, err)
    gray = img[:, :, 0]
    dec = decode_jpeg(encode_jpeg(gray, quality=95))
    assert dec.shape == (37, 50, 3)
    assert np.abs(dec[:, :, 0].astype(int) - gray.astype(int)).mean() < 4.0


def test_jpeg_known_answer_entropy_bits():
    """Spec known-answer check (guards against a symmetric encoder+
    decoder bug): a uniform gray 8x8 single-component image encodes to
    exactly DC size-0 ('00') + EOB ('1010') + 1-padding = 0x2B, per the
    T.81 K.3.3 typical tables."""
    import numpy as np

    from reading_the_unreadable_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    enc = encode_jpeg(np.full((8, 8), 128, dtype=np.uint8), quality=90)
    sos_at = enc.find(b"\xff\xda")
    seglen = int.from_bytes(enc[sos_at + 2 : sos_at + 4], "big")
    entropy = enc[sos_at + 2 + seglen : enc.rfind(b"\xff\xd9")]
    assert entropy == b"\x2b", entropy.hex()
    assert np.all(decode_jpeg(enc) == 128)


def test_jpeg_via_decode_image_and_features(spark):
    """JPEG payloads flow through the SAME mapInPandas feature pipeline
    as the other codecs (media kind inferred, payload never collected)."""
    import numpy as np

    from reading_the_unreadable_spark.operators.multimodal import (
        decode_image,
        extract_media_features,
    )
    from reading_the_unreadable_spark.operators.jpeg import encode_jpeg

    rng = np.random.Generator(np.random.PCG64(3))
    rows = []
    for i in range(4):
        img = (
            np.linspace(0, 255, 32)[None, :, None]
            + rng.integers(0, 30, (24, 32, 3))
        ).clip(0, 255).astype(np.uint8)
        payload = encode_jpeg(img, subsample=(i % 2 == 0))
        assert decode_image(payload).shape == (24, 32, 3)
        rows.append((f"m{i}.jpg", "image", bytearray(payload), 32, 24, None))
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = extract_media_features(df).collect()
    assert len(got) == 4
    for r in got:
        assert r["width"] == 32 and r["height"] == 24
        assert len(r["feat"]) > 0


def test_wav_roundtrip_and_loud_failures():
    """RIFF/PCM WAV codec: bit depths, stereo, word-aligned odd chunks;
    non-PCM formats raise loudly."""
    import numpy as np
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.audio import (
        decode_wav,
        encode_wav,
    )

    t = np.arange(800) / 8000.0
    mono = (np.sin(2 * np.pi * 440 * t) * 32767).astype(np.int16)
    rate, got = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and got.shape == (800, 1)
    assert np.allclose(got[:, 0], mono / 32768.0, atol=1e-9)
    stereo = np.stack([mono, -mono], axis=1)
    rate, got = decode_wav(encode_wav(stereo, 16000))
    assert rate == 16000 and got.shape == (800, 2)
    assert np.allclose(got[:, 1], -mono / 32768.0, atol=1e-4)
    # float-format WAV (code 3) decodes for real: int16 PCM rebuilt as
    # IEEE float32 must round-trip to the same samples
    import struct as _struct

    f32 = mono.astype(np.float32) / 32768.0
    fmt3 = _struct.pack("<HHIIHH", 3, 1, 8000, 8000 * 4, 4, 32)
    data = f32.astype("<f4").tobytes()
    body = (
        b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt3)) + fmt3
        + b"data" + _struct.pack("<I", len(data)) + data
    )
    rate, got = decode_wav(b"RIFF" + _struct.pack("<I", len(body)) + body)
    assert rate == 8000 and np.allclose(got[:, 0], f32, atol=1e-7)
    # WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapping integer PCM
    ext = _struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
    ext += _struct.pack("<HHI", 22, 16, 0x4)  # cbSize, validBits, mask
    ext += _struct.pack("<H", 1) + b"\x00\x00" + bytes(12)  # SubFormat GUID
    data = mono.astype("<i2").tobytes()
    body = (
        b"WAVE"
        + b"fmt " + _struct.pack("<I", len(ext)) + ext
        + b"data" + _struct.pack("<I", len(data)) + data
    )
    rate, got = decode_wav(b"RIFF" + _struct.pack("<I", len(body)) + body)
    assert rate == 8000 and np.allclose(got[:, 0], mono / 32768.0, atol=1e-9)
    # 24-bit PCM: synthesize from int32 high bytes, compare
    v24 = (mono.astype(np.int32) << 8)  # 24-bit value in top bytes
    raw = np.zeros((len(v24), 3), np.uint8)
    u = np.where(v24 < 0, v24 + (1 << 24), v24)
    raw[:, 0], raw[:, 1], raw[:, 2] = u & 0xFF, (u >> 8) & 0xFF, (u >> 16) & 0xFF
    fmt24 = _struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    data = raw.tobytes()
    body = (
        b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt24)) + fmt24
        + b"data" + _struct.pack("<I", len(data)) + data
    )
    rate, got = decode_wav(b"RIFF" + _struct.pack("<I", len(body)) + body)
    assert np.allclose(got[:, 0], mono / 32768.0, atol=1e-4)
    # genuinely compressed formats still raise loudly (0x55 = MP3)
    pcm = encode_wav(mono, 8000)
    mp3 = pcm.replace(b"fmt \x10\x00\x00\x00\x01\x00", b"fmt \x10\x00\x00\x00\x55\x00", 1)
    with _pytest.raises(NotImplementedError):
        decode_wav(mp3)
    # a format-0x02 label on a PCM-shaped fmt (16-bit) is malformed, not
    # merely unsupported — MS-ADPCM decodes for real now
    ms_bad = pcm.replace(b"fmt \x10\x00\x00\x00\x01\x00", b"fmt \x10\x00\x00\x00\x02\x00", 1)
    with _pytest.raises(ValueError, match="4-bit"):
        decode_wav(ms_bad)
    with _pytest.raises(ValueError):
        decode_wav(b"ID3\x04" + b"\x00" * 64)  # MP3


def test_audio_features_spark(spark):
    """WAV payloads flow through the mapInPandas audio feature path:
    deterministic synth clips decode with correct rate/duration and a
    tone-dominant spectral profile."""
    import numpy as np

    from reading_the_unreadable_spark.operators.audio import (
        audio_features,
        decode_wav,
        extract_audio_features,
        synth_wav_bytes,
    )

    rows = [
        (f"clip{i}.wav", "audio", bytearray(synth_wav_bytes(f"clip{i}.wav")), None, None, None)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in extract_audio_features(df).collect()}
    assert len(got) == 5
    for ref, r in got.items():
        assert r["sample_rate"] == 8000
        assert r["n_channels"] == 1
        assert r["duration_ms"] == 250
        feat = r["feat"]
        assert 0.2 < feat[0] < 0.6  # RMS of a 0.5-amplitude tone
        assert sum(feat[4:]) > 0.9  # band energies normalized
        # determinism vs local decode
        rate, samples = decode_wav(bytes(synth_wav_bytes(ref)))
        want = audio_features(samples, rate)
        assert np.allclose(feat, want, atol=1e-6)


def test_avi_mjpeg_roundtrip_and_sampling():
    """RIFF-AVI/MJPG: full decode preserves frame order (observable via
    the per-frame brightness ramp), every_n sampling decodes only the
    sampled indices, non-MJPG streams raise."""
    import numpy as np
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.video import (
        decode_avi_frames,
        synth_avi_bytes,
    )

    avi = synth_avi_bytes("clip.avi")
    fps, n, sampled = decode_avi_frames(avi)
    assert (fps, n, len(sampled)) == (10.0, 4, 4)
    means = [s[1].mean() for s in sampled]
    assert all(means[i] < means[i + 1] for i in range(3))  # frame order
    _, _, every3 = decode_avi_frames(avi, every_n=3)
    assert [i for i, _ in every3] == [0, 3]
    with _pytest.raises(NotImplementedError):
        decode_avi_frames(avi.replace(b"vidsMJPG", b"vidsH264", 1))
    with _pytest.raises(ValueError):
        decode_avi_frames(b"\x00\x00\x00\x00GARBAGE!")


def test_video_frame_features_spark(spark):
    """AVI payloads flow through the mapInPandas frame-sampling path:
    one output row per sampled frame, image-path feature vectors."""
    from reading_the_unreadable_spark.operators.video import (
        sample_frame_features,
        synth_avi_bytes,
    )

    rows = [
        (f"v{i}.avi", "video", bytearray(synth_avi_bytes(f"v{i}.avi")), 32, 24, 600)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = sample_frame_features(df).collect()
    assert len(got) == 3 * 2  # 4 frames, every 2nd
    for r in got:
        assert r["n_frames"] == 4 and r["fps"] == 10.0
        assert (r["width"], r["height"]) == (32, 24)
        assert r["frame_idx"] in (0, 2)
        assert abs(sum(r["feat"][4:]) - 1.0) < 1e-5  # normalized histogram


def test_media_pipeline_driver_query(spark):
    """The rows-only driver query runs all three from-scratch codec
    families end-to-end and is deterministic run-to-run (codecs and
    features are pure functions of doc_id)."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["media_pipeline"]
    a = q(spark, "/root/testdata/sf0.01").toPandas().sort_values("kind").reset_index(drop=True)
    b = q(spark, "/root/testdata/sf0.01").toPandas().sort_values("kind").reset_index(drop=True)
    assert a.equals(b)
    assert set(a["kind"]) == {"image", "audio", "video"}
    assert (a["n_rows"] > 0).all()


def test_codec_malformed_inputs_raise_contract_types():
    """Quarantining callers catch ValueError/NotImplementedError only:
    truncated JPEGs and fuzzed WAVs must not leak IndexError /
    ZeroDivisionError / EOFError."""
    import numpy as np
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.audio import (
        decode_wav,
        encode_wav,
    )
    from reading_the_unreadable_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    img = (np.linspace(0, 255, 20)[None, :, None] * np.ones((16, 20, 3))).astype(
        np.uint8
    )
    enc = encode_jpeg(img)
    for bad in (enc[: len(enc) // 2], b"\xff\xd8\xff", enc[:-20]):
        with _pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(bad)

    # a JPEG whose scan references undefined Huffman tables (DHT
    # segments stripped) is malformed input, not a decoder bug: the
    # contract demands ValueError, never a raw KeyError
    no_dht = bytearray()
    pos = 2
    no_dht += enc[:2]
    import struct as _struct

    while pos < len(enc):
        marker = enc[pos + 1]
        if marker in (0xD9,):
            no_dht += enc[pos:]
            break
        seglen = _struct.unpack_from(">H", enc, pos + 2)[0]
        if marker != 0xC4:  # drop DHT
            no_dht += enc[pos : pos + 2 + seglen]
        if marker == 0xDA:  # SOS: rest is entropy data
            no_dht += enc[pos + 2 + seglen :]
            break
        pos += 2 + seglen
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(no_dht))

    wav = encode_wav(np.zeros(100, dtype=np.int16), 8000)
    zero_ch = wav.replace(
        b"fmt \x10\x00\x00\x00\x01\x00\x01\x00",
        b"fmt \x10\x00\x00\x00\x01\x00\x00\x00", 1,
    )
    with _pytest.raises(ValueError):
        decode_wav(zero_ch)
    with _pytest.raises(ValueError):
        decode_wav(wav[: len(wav) // 2])  # truncated data chunk
    # fmt chunk honestly declaring < 16 bytes: ValueError, not struct.error
    short_fmt = wav.replace(
        b"fmt \x10\x00\x00\x00\x01\x00\x01\x00",
        b"fmt \x08\x00\x00\x00\x01\x00\x01\x00", 1,
    )
    with _pytest.raises(ValueError):
        decode_wav(short_fmt)


def test_progressive_jpeg_exact_vs_baseline():
    """Progressive (SOF2) is a lossless reorganization of the same
    quantized coefficients, so decode(progressive) must equal
    decode(baseline) PIXEL-FOR-PIXEL at the same quality — across
    4:4:4, 4:2:0, grayscale, odd dims, and qualities."""
    import numpy as np

    from reading_the_unreadable_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.Generator(np.random.PCG64(7))
    cases = [
        (
            (np.linspace(0, 255, 32)[None, :, None] * np.ones((24, 32, 3))).astype(
                np.uint8
            ),
            {},
        ),
        (rng.integers(0, 256, (33, 47, 3)).astype(np.uint8), {"subsample": True}),
        (rng.integers(0, 256, (17, 25)).astype(np.uint8), {}),
        # flat 64x64: long all-zero AC bands exercise EOBn runs > 1
        (np.full((64, 64, 3), 130, np.uint8), {"subsample": True}),
    ]
    for img, kw in cases:
        for q in (50, 90):
            base = decode_jpeg(encode_jpeg(img, quality=q, **kw))
            prog = decode_jpeg(encode_jpeg_progressive(img, quality=q, **kw))
            assert np.array_equal(base, prog), (img.shape, kw, q)


def test_jpeg_16bit_quant_tables():
    """Pq=1 (16-bit big-endian DQT, T.81 B.2.4.1): promoting an 8-bit
    stream's quant tables to the 16-bit layout is a pure container
    change, so decode must be pixel-identical; truncated 16-bit tables
    raise ValueError per the quarantine contract."""
    import struct

    import numpy as np
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    def promote_dqt(enc: bytes) -> bytes:
        # rewrite every \xff\xdb segment: Pq 0->1, each byte -> >u2
        out, pos = bytearray(), 0
        while pos < len(enc):
            at = enc.find(b"\xff\xdb", pos)
            if at < 0:
                out += enc[pos:]
                break
            seglen = struct.unpack_from(">H", enc, at + 2)[0]
            assert seglen == 67, "encoder emits one 8-bit table per DQT"
            tq = enc[at + 4] & 0x0F
            vals = enc[at + 5 : at + 69]
            out += enc[pos:at]
            out += b"\xff\xdb" + struct.pack(">H", 131) + bytes([0x10 | tq])
            out += b"".join(struct.pack(">H", v) for v in vals)
            pos = at + 2 + seglen
        return bytes(out)

    rng = np.random.Generator(np.random.PCG64(23))
    img = rng.integers(0, 256, (33, 47, 3)).astype(np.uint8)
    for kw in ({}, {"subsample": True}):
        enc = encode_jpeg(img, quality=85, **kw)
        enc16 = promote_dqt(enc)
        assert enc16 != enc and len(enc16) > len(enc)
        assert np.array_equal(decode_jpeg(enc16), decode_jpeg(enc)), kw

    # truncated 16-bit table (cut mid-segment) -> ValueError, not a
    # silent short table or raw numpy error
    enc16 = promote_dqt(encode_jpeg(img, quality=85))
    at = enc16.find(b"\xff\xdb")
    cut = enc16[: at + 4] + enc16[at + 4 : at + 40]  # 36 of 130 body bytes
    bad = cut + enc16[at + 135 :]
    # re-stamp the declared length so the parser walks into the short body
    bad = bytearray(bad)
    bad[at + 2 : at + 4] = struct.pack(">H", 38)
    with _pytest.raises(ValueError, match="truncated DQT"):
        decode_jpeg(bytes(bad))
    # Pq>1 is invalid per spec
    bad2 = bytearray(promote_dqt(encode_jpeg(img, quality=85)))
    at = bad2.find(b"\xff\xdb")
    bad2[at + 4] = 0x20 | (bad2[at + 4] & 0x0F)
    with _pytest.raises(ValueError, match="invalid DQT precision"):
        decode_jpeg(bytes(bad2))


def test_progressive_jpeg_malformed_contract():
    """Progressive decode obeys the same error contract: truncated or
    table-less streams raise ValueError, never raw IndexError/KeyError/
    AttributeError."""
    import numpy as np
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    img = np.arange(16 * 24 * 3, dtype=np.uint8).reshape(16, 24, 3)
    enc = encode_jpeg_progressive(img)
    for bad in (enc[: len(enc) // 3], enc[: len(enc) - 10]):
        with _pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(bad)
    # strip every DHT: the first Huffman-coded scan must fail loudly
    import struct as _struct

    out = bytearray(enc[:2])
    pos = 2
    while pos < len(enc) - 1:
        marker = enc[pos + 1]
        if marker == 0xD9:
            out += enc[pos : pos + 2]
            break
        seglen = _struct.unpack_from(">H", enc, pos + 2)[0]
        if marker != 0xC4:
            out += enc[pos : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDA:  # copy entropy bytes up to the next marker
            while pos < len(enc) - 1 and not (
                enc[pos] == 0xFF and enc[pos + 1] not in (0x00,) and not (0xD0 <= enc[pos + 1] <= 0xD7)
            ):
                out.append(enc[pos])
                pos += 1
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(out))


def test_png_adam7_and_palette():
    """Adam7-interlaced PNG round-trips bit-exactly across every filter
    type and awkward dims (passes can be empty); palette (color type 3)
    decodes through the PLTE lookup."""
    import struct
    import zlib

    import numpy as np

    from reading_the_unreadable_spark.operators.multimodal import (
        PNG_SIG,
        decode_image,
        encode_png,
    )

    rng = np.random.Generator(np.random.PCG64(3))
    for shape in [(9, 13), (1, 1), (7, 8), (16, 5)]:
        img = rng.integers(0, 256, size=(*shape, 3)).astype(np.uint8)
        for ft in range(5):
            got = decode_image(encode_png(img, filter_type=ft, interlace=True))
            assert np.array_equal(got, img), (shape, ft)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]], np.uint8)
    idx = np.array([[0, 1, 2], [3, 2, 1]], np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    png = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_image(png), pal[idx])
    # palette without PLTE is malformed, not a crash
    import pytest as _pytest

    bad = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError):
        decode_image(bad)


def test_gif_roundtrip_and_contract():
    """GIF87a/89a decode: LZW, palette lookup, 4-pass interlace; the
    minimal writer round-trips exactly for ≤256-color images, and
    truncation surfaces as ValueError."""
    import numpy as np
    import pytest as _pytest

    from media_fixtures import encode_gif
    from reading_the_unreadable_spark.operators.multimodal import decode_image

    rng = np.random.Generator(np.random.PCG64(13))
    for shape, ncol in [((9, 13), 5), ((16, 16), 256), ((1, 1), 1), ((7, 31), 17)]:
        pal = rng.integers(0, 256, (ncol, 3)).astype(np.uint8)
        img = pal[rng.integers(0, ncol, shape)]
        for inter in (False, True):
            got = decode_image(encode_gif(img, interlace=inter))
            assert np.array_equal(got, img), (shape, ncol, inter)
    pal = rng.integers(0, 256, (17, 3)).astype(np.uint8)
    enc = encode_gif(pal[rng.integers(0, 17, (7, 31))])
    for cut in (10, len(enc) // 2, len(enc) - 3):
        with _pytest.raises(ValueError):
            decode_image(enc[:cut])
    with _pytest.raises(ValueError):
        encode_gif(rng.integers(0, 256, (32, 32, 3)).astype(np.uint8))


def test_media_quarantine_corrupt_payloads(spark):
    """At corpus scale corrupt payloads are certain: a bad byte stream
    must quarantine into a decode_err row, never kill the Spark task —
    across the image, audio, and video extractors."""
    import numpy as np

    from reading_the_unreadable_spark.operators.audio import (
        encode_wav,
        extract_audio_features,
    )
    from reading_the_unreadable_spark.operators.jpeg import encode_jpeg
    from reading_the_unreadable_spark.operators.video import (
        sample_frame_features,
        synth_avi_bytes,
    )

    rng = np.random.Generator(np.random.PCG64(47))
    good_img = encode_jpeg(rng.integers(0, 256, (16, 24, 3)).astype(np.uint8))
    rows = [
        ("ok.jpg", "image", bytearray(good_img), 24, 16, None),
        ("bad.jpg", "image", bytearray(good_img[: len(good_img) // 2]), 0, 0, None),
        ("junk.bin", "image", bytearray(b"\x00\x01\x02\x03" * 10), 0, 0, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in extract_media_features(media).collect()}
    assert len(got) == 3
    assert got["ok.jpg"]["decode_err"] is None and got["ok.jpg"]["width"] == 24
    assert got["bad.jpg"]["decode_err"] and got["bad.jpg"]["width"] == 0
    assert "unknown image magic" in got["junk.bin"]["decode_err"]

    wav = encode_wav(np.zeros(100, dtype=np.int16), 8000)
    rows = [
        ("ok.wav", "audio", bytearray(wav), None, None, 12),
        ("bad.wav", "audio", bytearray(wav[:20]), None, None, 0),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in extract_audio_features(media).collect()}
    assert got["ok.wav"]["decode_err"] is None and got["ok.wav"]["sample_rate"] == 8000
    assert got["bad.wav"]["decode_err"] and got["bad.wav"]["sample_rate"] == 0

    avi = synth_avi_bytes("clip.avi")
    rows = [
        ("ok.avi", "video", bytearray(avi), None, None, 300),
        ("bad.avi", "video", bytearray(avi[:40]), None, None, 0),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_frame_features(media).collect()
    ok = [r for r in frames if r["media_ref"] == "ok.avi"]
    bad = [r for r in frames if r["media_ref"] == "bad.avi"]
    assert len(ok) == 2 and all(r["decode_err"] is None for r in ok)  # frames 0, 2
    assert len(bad) == 1 and bad[0]["frame_idx"] == -1 and bad[0]["decode_err"]


def test_scan_preprocess_otsu_deskew(spark):
    """Scan preprocessing: Otsu binarization splits a bimodal page at
    the histogram valley, projection-profile skew estimation recovers a
    known rotation within the sweep step, and the Spark extractor runs
    the whole chain over G4-TIFF payloads with quarantine."""
    import numpy as np

    from reading_the_unreadable_spark.operators.scans import (
        binarize_otsu,
        deskew,
        estimate_skew,
        scan_preprocess_features,
    )
    from reading_the_unreadable_spark.operators.tiff import encode_tiff

    def make_page(h=120, w=240):
        img = np.full((h, w), 235, np.uint8)
        rng = np.random.Generator(np.random.PCG64(3))
        for y0 in range(20, 100, 10):
            for x0 in range(15, 225, 9):
                if rng.random() < 0.75:
                    img[y0 : y0 + 3, x0 : x0 + 6] = 40
        return np.stack([img] * 3, -1)

    base = make_page()
    rows = []
    for i, s in enumerate((0.0, 2.0, -3.0)):
        skewed = deskew(base, -s) if s else base
        page, t = binarize_otsu(skewed)
        assert 40 <= t < 235
        assert abs(estimate_skew(page) - s) <= 0.5
        rows.append(
            (f"p{i}.tif", "image", bytearray(encode_tiff(page, "g4")), None, None, None)
        )
    rows.append(("bad.tif", "image", bytearray(b"II*\x00garbage"), None, None, None))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in scan_preprocess_features(media).collect()}
    assert len(got) == 4
    for i, s in enumerate((0.0, 2.0, -3.0)):
        r = got[f"p{i}.tif"]
        assert r["decode_err"] is None
        assert abs(r["skew_deg"] - s) <= 0.5
        assert 0.02 < r["ink_ratio"] < 0.4
    assert got["bad.tif"]["decode_err"]


def test_detect_page_blocks_spark(spark):
    """Pixels → layout blocks end-to-end: CC glyph boxes merge into the
    constructed text blocks, through the G4 codec and mapInPandas, with
    quarantine for corrupt payloads."""
    import numpy as np

    from reading_the_unreadable_spark.operators.scans import detect_page_blocks
    from reading_the_unreadable_spark.operators.tiff import encode_tiff

    def make_page(n_blocks):
        page = np.ones((10 + n_blocks * 30, 220), bool)
        for b in range(n_blocks):
            y0 = 10 + b * 30
            for ly in range(y0, y0 + 18, 6):
                for wx in range(10, 200, 10):
                    page[ly : ly + 3, wx : wx + 7] = False
        return page

    rows = []
    for i, k in enumerate((2, 3, 4)):
        rows.append(
            (f"p{i}.tif", "image", bytearray(encode_tiff(make_page(k), "g4")),
             None, None, None)
        )
    rows.append(("bad.tif", "image", bytearray(b"II*\x00xx"), None, None, None))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = detect_page_blocks(media).collect()
    per_ref = {}
    for r in got:
        per_ref.setdefault(r["media_ref"], []).append(r)
    for i, k in enumerate((2, 3, 4)):
        blocks = sorted(per_ref[f"p{i}.tif"], key=lambda r: r["block_idx"])
        assert len(blocks) == k, (i, k, blocks)
        for b, r in enumerate(blocks):
            assert r["decode_err"] is None
            assert abs(r["y1"] - (10 + b * 30)) <= 1
            assert r["x1"] == 10 and r["x2"] <= 206
    assert per_ref["bad.tif"][0]["decode_err"]


def test_xy_cut_reading_order(spark):
    """North-rule XY-cut: two-column pages read column-major (plain
    (y,x) raster order cannot produce this), full-width banners peel
    off first, and the Spark applyInPandas wrapper assigns 1-based
    reading_order per page."""
    import numpy as np

    from reading_the_unreadable_spark.operators.scans import (
        add_xy_cut_order,
        detect_page_blocks,
        xy_cut_order,
    )
    from reading_the_unreadable_spark.operators.tiff import encode_tiff

    boxes = [
        (cx, by, cx + 80, by + 30) for cx in (10, 120) for by in (10, 60, 110)
    ]
    assert xy_cut_order(boxes) == [0, 1, 2, 3, 4, 5]
    banner = [(10, 0, 200, 5)] + boxes
    assert xy_cut_order(banner) == list(range(7))

    # end-to-end: build a 2-column page, detect blocks, order them
    page = np.ones((160, 240), bool)
    for cx in (10, 130):
        for by in (10, 60, 110):
            for ly in range(by, by + 24, 6):
                for wx in range(cx, cx + 90, 10):
                    page[ly : ly + 3, wx : wx + 7] = False
    media = spark.createDataFrame(
        [("page.tif", "image", bytearray(encode_tiff(page, "g4")), None, None, None)],
        MEDIA_SCHEMA,
    )
    blocks = detect_page_blocks(media)
    ordered = add_xy_cut_order(blocks).orderBy("reading_order").collect()
    assert [r["reading_order"] for r in ordered] == [1, 2, 3, 4, 5, 6]
    # column-major: first three blocks share the LEFT column x-range
    assert all(r["x1"] < 120 for r in ordered[:3])
    assert all(r["x1"] >= 120 for r in ordered[3:])
    # and within each column, top to bottom
    assert [r["y1"] for r in ordered[:3]] == sorted(r["y1"] for r in ordered[:3])


def test_review_regressions_codecs():
    """Round-5 review fixes: progressive JPEG with a zero sampling
    factor must not leak ZeroDivisionError; encode_jpeg_progressive
    rejects modes it cannot honor instead of silently changing the
    subsampling; GIF frames exceeding the logical screen raise."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from media_fixtures import encode_gif
    from reading_the_unreadable_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )
    from reading_the_unreadable_spark.operators.multimodal import decode_image

    img = np.arange(16 * 24 * 3, dtype=np.uint8).reshape(16, 24, 3)
    enc = bytearray(encode_jpeg_progressive(img))
    # patch the SOF2 Y-component sampling byte to 0x00
    pos = 2
    while pos < len(enc):
        marker = enc[pos + 1]
        seglen = _struct.unpack_from(">H", enc, pos + 2)[0]
        if marker == 0xC2:
            enc[pos + 4 + 7] = 0x00  # comps start at seg+6, samp at +1
            break
        pos += 2 + seglen
    with _pytest.raises((ValueError, NotImplementedError)):
        decode_jpeg(bytes(enc))

    with _pytest.raises(ValueError):
        encode_jpeg_progressive(img, subsample="422")

    pal = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)
    g = encode_gif(pal[np.zeros((4, 6), np.uint8)])
    bad = bytearray(g)
    # image descriptor follows header(13) + palette(6): widen frame w
    desc = g.index(b"\x2c")
    _struct.pack_into("<H", bad, desc + 5, 60000)
    with _pytest.raises(ValueError):
        decode_image(bytes(bad))


def test_g711_known_answers_and_roundtrip():
    """G.711 LUTs match the published expansion-table anchor values;
    companding any int16 signal and expanding it back stays within one
    top-segment quantization step (the format's contract)."""
    import numpy as np

    from reading_the_unreadable_spark.operators.audio import (
        _ALAW_TO_LINEAR,
        _ULAW_TO_LINEAR,
        decode_wav,
        encode_g711,
        encode_wav_g711,
    )

    # anchor values from the ITU-T G.711 tables
    assert _ULAW_TO_LINEAR[0xFF] == 0 and _ULAW_TO_LINEAR[0x7F] == 0
    assert _ULAW_TO_LINEAR[0x00] == -32124 and _ULAW_TO_LINEAR[0x80] == 32124
    assert _ALAW_TO_LINEAR[0x55] == 8 and _ALAW_TO_LINEAR[0xD5] == -8
    assert _ALAW_TO_LINEAR[0x2A] == 32256 and _ALAW_TO_LINEAR[0xAA] == -32256
    # LUTs are odd-symmetric about the sign bit
    assert np.array_equal(_ULAW_TO_LINEAR[:128], -_ULAW_TO_LINEAR[128:])
    assert np.array_equal(-_ALAW_TO_LINEAR[:128], _ALAW_TO_LINEAR[128:])

    rng = np.random.Generator(np.random.PCG64(7))
    lin = rng.integers(-32768, 32768, 4000).astype(np.int16)
    for law in ("ulaw", "alaw"):
        comp = encode_g711(lin, law)
        rate, out = decode_wav(encode_wav_g711(comp, rate=8000, law=law))
        assert rate == 8000 and out.shape == (4000, 1)
        err = np.abs(out[:, 0] * 32768.0 - lin)
        assert err.max() <= 650  # half a top-segment step + clip headroom
        # expansion is exact for representable levels
        lut = _ULAW_TO_LINEAR if law == "ulaw" else _ALAW_TO_LINEAR
        again = encode_g711(lut[comp].astype(np.int16), law)
        assert np.array_equal(lut[again], lut[comp])


def test_g711_wav_through_spark_features(spark):
    """A mu-law telephone clip flows through the same mapInPandas
    feature path as linear PCM — no quarantine row, sane features."""
    import numpy as np

    from reading_the_unreadable_spark.operators.audio import (
        encode_g711,
        encode_wav_g711,
        extract_audio_features,
    )

    t = np.arange(1600) / 8000.0
    tone = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype(np.int16)
    payload = encode_wav_g711(encode_g711(tone, "ulaw"), rate=8000, law="ulaw")
    media = spark.createDataFrame(
        [("clip-1", "audio", bytearray(payload))],
        "media_ref string, kind string, payload binary",
    )
    row = extract_audio_features(media).collect()[0]
    assert row["decode_err"] is None
    assert row["sample_rate"] == 8000 and row["duration_ms"] == 200
    assert row["n_channels"] == 1
    feat = row["feat"]
    assert 0.2 < feat[0] < 0.5  # RMS of a half-scale sine ≈ 0.35
    assert 350 < feat[2] < 550  # spectral centroid near 440 Hz


def test_ima_adpcm_matches_scalar_reference_and_roundtrips():
    """The block-vectorized IMA ADPCM expansion must equal a scalar
    transcription of the IMA reference algorithm nibble-for-nibble;
    encode->decode on a tone stays within ADPCM's ~2% error envelope;
    malformed blocks raise ValueError (quarantine contract)."""
    import numpy as np
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.audio import (
        _IMA_INDEX_ADJ,
        _IMA_STEPS,
        _ima_decode_blocks,
        decode_wav,
        encode_wav_ima_adpcm,
    )

    def ref_decode(nibs, pred, idx):
        out = [pred]
        for n in nibs:
            step = int(_IMA_STEPS[idx])
            diff = step >> 3
            if n & 1:
                diff += step >> 2
            if n & 2:
                diff += step >> 1
            if n & 4:
                diff += step
            pred = max(-32768, min(32767, pred + (-diff if n & 8 else diff)))
            idx = max(0, min(88, idx + int(_IMA_INDEX_ADJ[n & 7])))
            out.append(pred)
        return out

    rng = np.random.Generator(np.random.PCG64(11))
    nib = rng.integers(0, 16, (6, 96)).astype(np.uint8)
    p0 = rng.integers(-32768, 32768, 6).astype(np.int32)
    i0 = rng.integers(0, 89, 6).astype(np.int32)
    vec = _ima_decode_blocks(nib, p0, i0)
    for b in range(6):
        assert vec[b].tolist() == ref_decode(nib[b], int(p0[b]), int(i0[b]))

    t = np.arange(4040) / 8000.0
    sig = (0.6 * np.sin(2 * np.pi * 300 * t) * 32767).astype(np.int16)
    rate, out = decode_wav(encode_wav_ima_adpcm(sig, 8000))
    assert rate == 8000
    err = out[: len(sig), 0] * 32768.0 - sig
    assert float(np.sqrt(np.mean(err**2))) < 0.03 * 32768
    assert float(np.abs(err).max()) < 1500

    # corrupt step index in the first block header must raise, not wrap
    wav = bytearray(encode_wav_ima_adpcm(sig[:505], 8000))
    data_off = wav.index(b"data") + 8
    wav[data_off + 2] = 99  # step index > 88
    with _pytest.raises(ValueError, match="step index"):
        decode_wav(bytes(wav))


def test_ima_adpcm_through_spark_features(spark):
    """A format-0x11 clip flows through the mapInPandas feature path
    with no quarantine row and sane descriptors."""
    import numpy as np

    from reading_the_unreadable_spark.operators.audio import (
        encode_wav_ima_adpcm,
        extract_audio_features,
    )

    t = np.arange(2020) / 8000.0
    tone = (0.5 * np.sin(2 * np.pi * 500 * t) * 32767).astype(np.int16)
    payload = encode_wav_ima_adpcm(tone, rate=8000)
    media = spark.createDataFrame(
        [("clip-a", "audio", bytearray(payload))],
        "media_ref string, kind string, payload binary",
    )
    row = extract_audio_features(media).collect()[0]
    assert row["decode_err"] is None
    assert row["sample_rate"] == 8000 and row["n_channels"] == 1
    # 2020 samples = exactly 4 blocks of 505, no padding
    assert row["duration_ms"] == round(1000 * 2020 / 8000)
    assert 400 < row["feat"][2] < 600  # centroid near 500 Hz


def test_ms_adpcm_matches_scalar_reference_and_roundtrips():
    """The block-vectorized MS-ADPCM expansion must equal a scalar
    transcription of the Microsoft ADPCM algorithm nibble-for-nibble;
    encode->decode on a tone stays within the 4-bit error envelope;
    malformed headers raise ValueError (quarantine contract)."""
    import numpy as np
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.audio import (
        _MS_ADAPT,
        _MS_COEF1,
        _MS_COEF2,
        _ms_decode_blocks,
        decode_wav,
        encode_wav_ms_adpcm,
    )

    def ref_decode(nibs, p, delta, s1, s2):
        c1, c2 = int(_MS_COEF1[p]), int(_MS_COEF2[p])
        out = [s2, s1]
        for code in nibs:
            signed = code - 16 if code >= 8 else code
            pred = ((s1 * c1 + s2 * c2) >> 8) + signed * delta
            pred = max(-32768, min(32767, pred))
            s2, s1 = s1, pred
            delta = min(max((int(_MS_ADAPT[code]) * delta) >> 8, 16), 32767)
            out.append(pred)
        return out

    rng = np.random.Generator(np.random.PCG64(13))
    n_blk = 7
    nib = rng.integers(0, 16, (n_blk, 96)).astype(np.uint8)
    preds = rng.integers(0, 7, n_blk)
    d0 = rng.integers(16, 4000, n_blk).astype(np.int64)
    s1 = rng.integers(-32768, 32768, n_blk).astype(np.int64)
    s2 = rng.integers(-32768, 32768, n_blk).astype(np.int64)
    vec = _ms_decode_blocks(
        nib, _MS_COEF1[preds], _MS_COEF2[preds], d0, s1, s2
    )
    for b in range(n_blk):
        assert vec[b].tolist() == ref_decode(
            nib[b], int(preds[b]), int(d0[b]), int(s1[b]), int(s2[b])
        )

    t = np.arange(4040) / 8000.0
    sig = (0.6 * np.sin(2 * np.pi * 300 * t) * 32767).astype(np.int16)
    rate, out = decode_wav(encode_wav_ms_adpcm(sig, 8000))
    assert rate == 8000 and out.shape[1] == 1
    err = out[: len(sig), 0] * 32768.0 - sig
    assert float(np.sqrt(np.mean(err**2))) < 0.03 * 32768

    # corrupt predictor index in the first block header must raise
    wav = bytearray(encode_wav_ms_adpcm(sig[:506], 8000))
    data_off = wav.index(b"data", 36) + 8
    wav[data_off] = 9  # predictor index > 6
    with _pytest.raises(ValueError, match="predictor index"):
        decode_wav(bytes(wav))


def test_ms_adpcm_stereo_block_layout():
    """Hand-built 1-block stereo MS-ADPCM payload: channel-interleaved
    header fields and alternating nibbles land in the right channels."""
    import struct as _struct

    import numpy as np

    from reading_the_unreadable_spark.operators.audio import decode_wav

    ch, block_align = 2, 18
    spb = (block_align - 7 * ch) * 2 // ch + 2  # = 6
    # block: pred L=0 (coef 256,0 -> pred = s1), pred R=2 (coef 0,0 -> 0)
    body = bytes([0, 2])
    body += _struct.pack("<hh", 16, 16)  # deltas
    body += _struct.pack("<hh", 100, -50)  # sample1 L, R
    body += _struct.pack("<hh", 200, -80)  # sample2 L, R
    # nibbles: L,R alternate, high nibble first: codes L=[1,2,...], R=[0,15,...]
    codes_l = [1, 2, 3, 7]
    codes_r = [0, 15, 8, 1]
    nib_stream = [v for pair in zip(codes_l, codes_r) for v in pair]
    body += bytes(
        (nib_stream[i] << 4) | nib_stream[i + 1]
        for i in range(0, len(nib_stream), 2)
    )
    assert len(body) == block_align
    fmt = _struct.pack("<HHIIHHHH", 2, ch, 8000, 8000, block_align, 4, 4, spb)
    wav = (
        b"RIFF" + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
        + b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", len(body)) + body
    )
    rate, out = decode_wav(wav)
    got = np.round(out * 32768.0).astype(int)
    # first two output samples per channel are (sample2, sample1)
    assert got[0].tolist() == [200, -50 * 0 - 80]  # s2 L, s2 R
    assert got[1].tolist() == [100, -50]  # s1 L, s1 R
    # L chan, pred idx 0: pred = s1; code 1 -> 100 + 16 = 116
    assert got[2][0] == 116
    # R chan, pred idx 2: pred = 0; code 0 -> 0
    assert got[2][1] == 0
    # next L: s1=116, s2=100 -> pred 116; delta = max(230*16>>8,16)=16
    # code 2 -> 116 + 32 = 148
    assert got[3][0] == 148
    # next R: code 15 -> signed -1; delta unchanged 16 -> 0 - 16 = -16
    assert got[3][1] == -16


def test_small_codec_extended_profiles():
    """Round-5 profile closures: 8-bit palette BMP, 16-bit PNM
    (maxval rescale), 16-bit grayscale TIFF (incl. LZW + predictor-2
    on 16-bit samples), and 16-bit PNG (MSB rescale, filters running
    at the 2-byte-per-sample distance)."""
    import struct
    import zlib

    import numpy as np

    from reading_the_unreadable_spark.operators.multimodal import (
        _decode_bmp,
        _decode_png,
        _decode_pnm,
    )
    from reading_the_unreadable_spark.operators.tiff import (
        _tiff_lzw_encode,
        decode_tiff,
    )

    rng = np.random.Generator(np.random.PCG64(3))

    # 8-bit palette BMP (bottom-up, padded rows)
    h, w = 5, 7
    pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.integers(0, 256, (h, w)).astype(np.uint8)
    row_size = (w + 3) // 4 * 4
    off = 14 + 40 + 256 * 4
    bmp8 = (
        struct.pack("<2sIHHI", b"BM", off + row_size * h, 0, 0, off)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 0, row_size * h, 2835, 2835, 0, 0
        )
        + b"".join(bytes([b, g, r, 0]) for r, g, b in pal.tolist())
        + b"".join(
            idx[y].tobytes() + b"\x00" * (row_size - w)
            for y in range(h - 1, -1, -1)
        )
    )
    import pytest

    assert np.array_equal(_decode_bmp(bmp8), pal[idx])
    # out-of-range palette index is rejected
    bad = bytearray(bmp8)
    struct.pack_into("<I", bad, 46, 4)  # claim only 4 palette colors
    with pytest.raises(ValueError, match="palette index"):
        _decode_bmp(bytes(bad))

    # 16-bit PNM: rescaled against the declared maxval
    g16 = rng.integers(0, 65536, (4, 6)).astype(">u2")
    want = np.round(g16.astype(np.float64) * (255.0 / 65535)).astype(np.uint8)
    assert np.array_equal(
        _decode_pnm(b"P5 6 4 65535\n" + g16.tobytes())[:, :, 0], want
    )
    with pytest.raises(ValueError, match="maxval"):
        _decode_pnm(b"P5 6 4 99999\n" + g16.tobytes())

    # 16-bit grayscale TIFF: none, and LZW with predictor-2 over
    # 16-bit samples (mod-65536 row differencing)
    gh, gw = 5, 8
    g = rng.integers(0, 65536, (gh, gw)).astype("<u2")

    def build_tiff16(strip, comp, pred=1):
        tags = [
            (256, 4, 1, gw), (257, 4, 1, gh), (258, 3, 1, 16),
            (259, 3, 1, comp), (262, 3, 1, 1), (273, 4, 1, 0),
            (277, 3, 1, 1), (278, 4, 1, gh), (279, 4, 1, len(strip)),
            (284, 3, 1, 1),
        ]
        if pred == 2:
            tags.append((317, 3, 1, 2))
        data_off = 8 + 2 + len(tags) * 12 + 4
        ifd = struct.pack("<H", len(tags))
        for tid, typ, cnt, val in tags:
            if tid == 273:
                val = data_off
            ifd += struct.pack("<HHII", tid, typ, cnt, val)
        ifd += struct.pack("<I", 0)
        return struct.pack("<2sHI", b"II", 42, 8) + ifd + strip

    want8 = np.round(g.astype(np.float64) / 257).astype(np.uint8)
    assert np.array_equal(
        decode_tiff(build_tiff16(g.tobytes(), 1))[:, :, 0], want8
    )
    d = g.astype(np.int64).copy()
    d[:, 1:] -= g.astype(np.int64)[:, :-1]
    t2 = build_tiff16(
        _tiff_lzw_encode((d % 65536).astype("<u2").tobytes()), 5, pred=2
    )
    assert np.array_equal(decode_tiff(t2)[:, :, 0], want8)

    # 16-bit PNG: gray and RGB, filter 0 AND filter 1 (sub at the
    # 2-byte-per-sample distance)
    def png16(arr16, filt):
        hh, ww = arr16.shape[:2]
        ct = 0 if arr16.ndim == 2 else 2
        bch = (1 if ct == 0 else 3) * 2
        ihdr = struct.pack(">IIBBBBB", ww, hh, 16, ct, 0, 0, 0)
        lines = []
        for y in range(hh):
            rb = np.frombuffer(arr16[y].astype(">u2").tobytes(), np.uint8)
            if filt == 0:
                lines.append(b"\x00" + rb.tobytes())
            else:  # sub
                enc = rb.astype(np.int32).copy()
                enc[bch:] -= rb.astype(np.int32)[:-bch]
                lines.append(b"\x01" + (enc % 256).astype(np.uint8).tobytes())
        raw = b"".join(lines)

        def chunk(t, d):
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d))
            )

        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    pg = rng.integers(0, 65536, (6, 5)).astype(np.uint16)
    pc = rng.integers(0, 65536, (6, 5, 3)).astype(np.uint16)
    for filt in (0, 1):
        assert np.array_equal(
            _decode_png(png16(pg, filt))[:, :, 0], (pg >> 8).astype(np.uint8)
        ), filt
        assert np.array_equal(
            _decode_png(png16(pc, filt)), (pc >> 8).astype(np.uint8)
        ), filt


def test_avi_uncompressed_dib():
    """Uncompressed 24-bit DIB AVI (00db chunks, bottom-up BGR padded
    rows): LOSSLESS round-trip frame-for-frame, every_n sampling slices
    without decoding, truncated frames and implausible dims raise."""
    import struct

    import numpy as np
    import pytest

    from media_fixtures import encode_avi_dib
    from reading_the_unreadable_spark.operators.video import decode_avi_frames

    rng = np.random.Generator(np.random.PCG64(5))
    frames = [rng.integers(0, 256, (24, 33, 3)).astype(np.uint8) for _ in range(5)]
    fps, n, sampled = decode_avi_frames(encode_avi_dib(frames, fps=12.0))
    assert (n, abs(fps - 12.0) < 0.01, len(sampled)) == (5, True, 5)
    for (i, got), want in zip(sampled, frames):
        assert np.array_equal(got, want), i  # lossless, unlike MJPG
    _fps, _n, s2 = decode_avi_frames(encode_avi_dib(frames), every_n=2)
    assert [i for i, _ in s2] == [0, 2, 4]

    enc = bytearray(encode_avi_dib(frames))
    at = bytes(enc).find(b"00db")
    struct.pack_into("<I", enc, at + 4, 10)  # lie about the frame size
    with pytest.raises(ValueError, match="truncated"):
        decode_avi_frames(bytes(enc))
    enc2 = bytearray(encode_avi_dib(frames))
    at = bytes(enc2).find(b"strf")
    struct.pack_into("<i", enc2, at + 8 + 4, 1 << 20)  # absurd width
    with pytest.raises(ValueError, match="implausible"):
        decode_avi_frames(bytes(enc2))


def test_aiff_roundtrip_and_spark_features(spark):
    """AIFF (big-endian Mac-archive PCM): exact int16 round-trip, the
    80-bit-extended sample-rate field survives, 8/24-bit variants
    decode, AIFC raises, and AIFF payloads flow through the SAME
    extract_audio_features path as WAV via the container sniff."""
    import struct as _struct

    import numpy as np
    import pytest

    from media_fixtures import encode_aiff
    from reading_the_unreadable_spark.operators.audio import (
        decode_aiff,
        decode_audio,
        extract_audio_features,
    )

    rng = np.random.Generator(np.random.PCG64(5))
    s = rng.integers(-32768, 32768, (800, 2)).astype(np.int16)
    rate, got = decode_audio(encode_aiff(s, 44100))
    assert rate == 44100 and got.shape == (800, 2)
    assert np.array_equal((got * 32768.0).round().astype(np.int16), s)

    # 8-bit (SIGNED in AIFF) and 24-bit big-endian variants: hand-build
    def build(bits, data, ch=1, frames=4, r=8000.0):
        from media_fixtures import float_to_f80

        comm = _struct.pack(">hLh", ch, frames, bits) + float_to_f80(r)
        ssnd = _struct.pack(">LL", 0, 0) + data

        def chunk(cid, body):
            return cid + _struct.pack(">I", len(body)) + body + (
                b"\x00" if len(body) % 2 else b""
            )

        body = b"AIFF" + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
        return b"FORM" + _struct.pack(">I", len(body)) + body

    _r, a8 = decode_aiff(build(8, np.array([-128, -1, 0, 127], np.int8).tobytes()))
    assert np.allclose(a8[:, 0], [-1.0, -1 / 128, 0.0, 127 / 128])
    v24 = [-(1 << 23), -1, 1, (1 << 23) - 1]
    raw24 = b"".join(int(x & 0xFFFFFF).to_bytes(3, "big") for x in v24)
    _r, a24 = decode_aiff(build(24, raw24))
    assert np.allclose(a24[:, 0], [x / 8388608.0 for x in v24])

    with pytest.raises(NotImplementedError, match="AIFC"):
        decode_aiff(b"FORM\x00\x00\x00\x04AIFC")
    with pytest.raises(ValueError):
        decode_aiff(encode_aiff(s, 44100)[:40])

    df = spark.createDataFrame(
        [("clip.aiff", "audio", bytearray(encode_aiff(s, 16000)))],
        "media_ref string, kind string, payload binary",
    )
    row = extract_audio_features(df).first()
    assert (row["sample_rate"], row["n_channels"], row["decode_err"]) == (
        16000, 2, None,
    )


def test_png_sub_byte_depths():
    """1/2/4-bit PNGs (old web graphics): bit-packed gray scales to
    0..255, 4-bit palette maps through PLTE, filter 1 runs at the
    packed-byte distance, and sub-byte RGB stays a loud boundary."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from reading_the_unreadable_spark.operators.multimodal import (
        _decode_png,
    )

    def png(depth, ct, rows_bits, plte=None, filt=0):
        h = len(rows_bits)
        w = len(rows_bits[0])
        row_bytes = (w * depth + 7) // 8
        lines = []
        prev = None
        for r in rows_bits:
            packed = np.zeros(row_bytes * 8, np.uint8)
            for x, val in enumerate(r):
                for b in range(depth):
                    packed[x * depth + b] = (val >> (depth - 1 - b)) & 1
            pb = np.packbits(packed)[:row_bytes]
            if filt == 1:
                enc = pb.astype(np.int32).copy()
                enc[1:] -= pb.astype(np.int32)[:-1]
                lines.append(b"\x01" + (enc % 256).astype(np.uint8).tobytes())
            else:
                lines.append(b"\x00" + pb.tobytes())
        raw = b"".join(lines)
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, 0)

        def chunk(t, d):
            return struct.pack(">I", len(d)) + t + d + struct.pack(
                ">I", zlib.crc32(t + d)
            )

        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte.tobytes())
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    rng = np.random.Generator(np.random.PCG64(7))
    for depth in (1, 2, 4):
        top = (1 << depth) - 1
        vals = rng.integers(0, top + 1, (5, 9))
        for filt in (0, 1):
            got = _decode_png(png(depth, 0, vals.tolist(), filt=filt))
            assert np.array_equal(
                got[:, :, 0], (vals * (255 // top)).astype(np.uint8)
            ), (depth, filt)
    # 4-bit palette
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (4, 7))
    got = _decode_png(png(4, 3, idx.tolist(), plte=pal))
    assert np.array_equal(got, pal[idx])
    # sub-byte RGB is invalid per spec and stays loud
    with pytest.raises(NotImplementedError):
        _decode_png(png(4, 2, idx.tolist()))


def test_png_16bit_interlaced():
    """Adam7 + 16-bit samples: each reduced image unfilters at the
    doubled byte stride, scatter reassembles, MSB rescale last —
    closing the 'interlaced 16-bit PNG' boundary.  Gray and RGB, filter
    0 and filter 1 (sub at the 2-byte distance) per pass."""
    import struct
    import zlib

    import numpy as np

    from reading_the_unreadable_spark.operators.multimodal import (
        _adam7_dims,
        decode_image,
    )

    def png16i(arr16, filt):
        hh, ww = arr16.shape[:2]
        ct = 0 if arr16.ndim == 2 else 2
        bch = (1 if ct == 0 else 3) * 2
        ihdr = struct.pack(">IIBBBBB", ww, hh, 16, ct, 0, 0, 1)
        lines = []
        for x0, y0, xs, ys, pw, ph in _adam7_dims(ww, hh):
            sub = arr16[y0::ys, x0::xs]
            for y in range(ph):
                rb = np.frombuffer(sub[y].astype(">u2").tobytes(), np.uint8)
                if filt == 0:
                    lines.append(b"\x00" + rb.tobytes())
                else:  # sub at the byte-per-pixel distance
                    enc = rb.astype(np.int32).copy()
                    enc[bch:] -= rb.astype(np.int32)[:-bch]
                    lines.append(
                        b"\x01" + (enc % 256).astype(np.uint8).tobytes()
                    )
        raw = b"".join(lines)

        def chunk(t, d):
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d))
            )

        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    rng = np.random.Generator(np.random.PCG64(67))
    pg = rng.integers(0, 65536, (11, 9)).astype(np.uint16)
    pc = rng.integers(0, 65536, (7, 6, 3)).astype(np.uint16)
    for filt in (0, 1):
        assert np.array_equal(
            decode_image(png16i(pg, filt))[:, :, 0],
            (pg >> 8).astype(np.uint8),
        ), filt
        assert np.array_equal(
            decode_image(png16i(pc, filt)), (pc >> 8).astype(np.uint8)
        ), filt
    # 16-bit palette stays invalid per spec
    bad = bytearray(png16i(pg, 0))
    # patch color type to 3 (palette) in IHDR
    bad[8 + 8 + 9] = 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_image(bytes(bad))


def test_png_sub_byte_interlaced():
    """Adam7 + 1/2/4-bit packing: each reduced image packs and filters
    its own scanlines — closing the 'sub-byte interlaced PNG'
    boundary.  Gray ramps and palette, filter 0 per pass."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.multimodal import (
        _adam7_dims,
        decode_image,
    )

    def pack_rows(vals, depth):
        hh, ww = vals.shape
        per = 8 // depth
        padded_w = -(-ww // per) * per
        padded = np.zeros((hh, padded_w), np.uint8)
        padded[:, :ww] = vals
        bits = np.zeros((hh, padded_w * depth), np.uint8)
        for b in range(depth):
            bits[:, b::depth] = (padded >> (depth - 1 - b)) & 1
        return np.packbits(bits, axis=1)

    def png_sub_i(vals, depth, palette=None):
        hh, ww = vals.shape
        ct = 3 if palette is not None else 0
        ihdr = struct.pack(">IIBBBBB", ww, hh, depth, ct, 0, 0, 1)
        lines = []
        for x0, y0, xs, ys, pw, ph in _adam7_dims(ww, hh):
            sub = vals[y0::ys, x0::xs]
            packed = pack_rows(sub, depth)
            for y in range(ph):
                lines.append(b"\x00" + packed[y].tobytes())
        raw = b"".join(lines)

        def chunk(t, d):
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d))
            )

        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if palette is not None:
            out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    rng = np.random.Generator(np.random.PCG64(73))
    for depth in (1, 2, 4):
        lv = (1 << depth) - 1
        vals = rng.integers(0, lv + 1, (11, 9)).astype(np.uint8)
        got = decode_image(png_sub_i(vals, depth))
        want = (vals * (255 // lv)).astype(np.uint8)
        assert np.array_equal(got[:, :, 0], want), depth
        # palette variant
        pal = rng.integers(0, 256, (lv + 1, 3)).astype(np.uint8)
        gotp = decode_image(png_sub_i(vals, depth, palette=pal))
        assert np.array_equal(gotp, pal[vals]), depth
    # corrupt (truncated) zlib stream inside IDAT raises ValueError —
    # the quarantine contract, not a raw zlib.error
    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    vals = rng.integers(0, 2, (9, 9)).astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", 9, 9, 1, 0, 0, 0, 1)
    lines = []
    for x0, y0, xs, ys, pw, ph in _adam7_dims(9, 9):
        packed = pack_rows(vals[y0::ys, x0::xs], 1)
        for y in range(ph):
            lines.append(b"\x00" + packed[y].tobytes())
    bad_idat = zlib.compress(b"".join(lines))[:-5]
    blob = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bad_idat) + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="IDAT"):
        decode_image(blob)


def test_jpeg_12bit_precision():
    """12-bit JPEG: extended-sequential (SOF1) encode→decode round
    trip within lossy tolerance, the fold-into-dequantization identity
    on a progressive stream, and the precision gates."""
    import struct

    import numpy as np
    import pytest as _pytest

    from media_fixtures import encode_jpeg_12
    from reading_the_unreadable_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.Generator(np.random.PCG64(79))
    base = rng.integers(0, 4096, (6, 8)).astype(np.float64)
    img12 = np.clip(
        np.kron(base, np.ones((8, 8))) + rng.normal(0, 40, (48, 64)),
        0, 4095,
    ).astype(np.uint16)
    dec = decode_jpeg(encode_jpeg_12(img12, quality=90))
    err = np.abs(
        dec[:, :, 0].astype(np.int32) - (img12 >> 4).astype(np.int32)
    ).mean()
    assert err < 2.0, err
    # decoder consistency: an 8-bit progressive stream re-labelled as
    # 12-bit must decode to (x - 128)/16 + 128 (IDCT linearity — the
    # exact identity the 12-bit path is built on)
    gray8 = (img12 >> 4).astype(np.uint8)
    prog = bytearray(encode_jpeg_progressive(gray8))
    sof = prog.index(b"\xff\xc2")
    assert prog[sof + 4] == 8
    prog[sof + 4] = 12
    got = decode_jpeg(bytes(prog))[:, :, 0].astype(np.float64)
    want = (decode_jpeg(encode_jpeg_progressive(gray8))[:, :, 0].astype(
        np.float64) - 128.0) / 16.0 + 128.0
    assert np.abs(got - want).max() <= 1.0
    # gates
    seq = bytearray(encode_jpeg_12(img12))
    sof1 = seq.index(b"\xff\xc1")
    bad0 = seq.copy(); bad0[sof1 + 1] = 0xC0  # 12-bit in baseline SOF0
    with _pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(bad0))
    bad10 = seq.copy(); bad10[sof1 + 4] = 10
    with _pytest.raises(NotImplementedError, match="10-bit"):
        decode_jpeg(bytes(bad10))
    with _pytest.raises(ValueError, match="grayscale"):
        encode_jpeg_12(np.zeros((8, 8, 3), np.uint16))
    with _pytest.raises(ValueError, match="4095"):
        encode_jpeg_12(np.full((8, 8), 5000, np.uint16))
