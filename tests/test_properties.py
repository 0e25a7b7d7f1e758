"""Property-based tests (hypothesis) for the pure text functions — the
invariants that hold for ALL inputs, not just the curated fixtures."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from reading_the_unreadable_spark.functions.text import (
    is_title,
    knit_string_list,
    knit_strings,
    normalize_text,
    strip_fences,
)

# text alphabet including the OCR specials the normalizer handles
TEXT = st.text(
    alphabet=st.sampled_from(
        list("abcdefgzABCZ .,!?\n-") + ["ﬁ", "ﬂ", "ſ", " ", "\t"]
    ),
    max_size=80,
)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_normalize_idempotent(s):
    once = normalize_text(s)
    twice = normalize_text(once)
    assert once == twice


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_normalize_output_clean(s):
    out = normalize_text(s)
    # no ligatures survive, no lone \n, no double spaces, no edge whitespace
    assert not any(lig in out for lig in ("ﬁ", "ﬂ", "ﬀ", "ﬃ", "ﬄ", "ſ"))
    assert "  " not in out
    assert out == out.strip()
    for chunk in out.split("\n\n"):
        assert "\n" not in chunk


@settings(max_examples=200, deadline=None)
@given(TEXT, TEXT)
def test_knit_boundary_properties(a, b):
    out = knit_strings(a, b)
    if not a:
        assert out == b
    elif not b:
        assert out == a
    else:
        # the knit never loses the head of a or the tail of b
        assert out.startswith(a[:1])
        assert out.endswith(b[-1:])
        assert len(out) <= len(a) + len(b)


@settings(max_examples=100, deadline=None)
@given(st.lists(TEXT, max_size=5))
def test_knit_list_total(texts):
    out = knit_string_list(texts)
    assert isinstance(out, str)
    if texts and all(texts):
        assert len(out) <= sum(len(t) for t in texts)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_title_requires_uppercase(s):
    if is_title(s):
        assert s == s.upper()
        assert sum(c.isalpha() and c.isupper() for c in s) >= 5


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_strip_fences_removes_fences(s):
    out = strip_fences(s)
    assert not out.startswith("`") and not out.endswith("`")


# ------------------------------------------------------------------ PDF codec
PDF_LINE = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=50
)


@settings(max_examples=150, deadline=None)
@given(PDF_LINE)
def test_pdf_string_escape_roundtrip(s):
    from reading_the_unreadable_spark.operators.pdf import (
        _escape_pdf_string,
        parse_content_text,
    )

    stream = (
        b"BT 1 0 0 1 5 5 Tm ("
        + _escape_pdf_string(s).encode("latin-1")
        + b") Tj ET"
    )
    assert parse_content_text(stream) == [(5.0, 5.0, s)]


@settings(max_examples=60, deadline=None)
@given(st.lists(PDF_LINE, min_size=1, max_size=6), st.booleans())
def test_pdf_document_roundtrip(lines, compress):
    from reading_the_unreadable_spark.operators.pdf import decode_pdf, encode_pdf

    pages = decode_pdf(encode_pdf([lines], compress=compress))
    assert len(pages) == 1
    assert [t for _, _, t in pages[0]] == lines
    ys = [y for _, y, _ in pages[0]]
    assert ys == sorted(ys, reverse=True)  # descending line grid


# ------------------------------------------------------------------ HTML strip
HTML_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60
)


@settings(max_examples=100, deadline=None)
@given(HTML_TEXT)
def test_html_visible_text_never_leaks_tags(s):
    """Whatever the input, stripped output contains no tag remnants and
    no unnormalized whitespace."""
    from reading_the_unreadable_spark.operators.html import (
        HTML_ENTITIES,
        REMOVAL_PATTERNS,
    )

    # the operator's OWN patterns, applied with Python re (same RE2-safe
    # subset) — validates the pattern constants hold the invariant for
    # arbitrary input, cheaper than a Spark job per example
    import re as _re

    out = s
    for pat in REMOVAL_PATTERNS:
        out = _re.sub(pat, " ", out)
    out = _re.sub(r"<[^>]+>", " ", out)
    for ent, rep in HTML_ENTITIES:
        out = out.replace(ent, rep)
    out = _re.sub(r"\s+", " ", out).strip()
    assert "<script" not in out.lower() and "<style" not in out.lower()
    assert "  " not in out and out == out.strip()


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 20),
    seed=st.integers(0, 2**31 - 1),
    subsample=st.sampled_from([False, True, "422", "411"]),
    rst=st.integers(0, 3),
)
def test_jpeg_roundtrip_property(w, h, seed, subsample, rst):
    """Any small RGB image round-trips through the from-scratch JFIF
    codec within lossy tolerance, across dims (incl. non-multiples of
    8/16), sampling modes, and restart intervals."""
    import numpy as np

    from reading_the_unreadable_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.Generator(np.random.PCG64(seed))
    # low-frequency content (quantization is tuned for it); pure noise
    # at quality 90 still bounds at a looser tolerance
    base = rng.integers(0, 256, (1, 1, 3)).astype(np.float64)
    ramp = np.linspace(0, 60, w)[None, :, None] + np.linspace(0, 40, h)[:, None, None]
    img = np.clip(base + ramp, 0, 255).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=90, subsample=subsample,
                                  restart_interval=rst))
    assert dec.shape == img.shape
    # chroma subsampling averages color over 2-4 px: a tiny saturated
    # image legitimately loses more than 4:4:4's quantization-only
    # error (hypothesis found a 2x2 high-chroma case at 12.8 mean)
    tol = 12.0 if subsample in (False, None) else 20.0
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < tol


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(1, 500),
    ch=st.integers(1, 3),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_property(n, ch, rate, seed):
    """int16 PCM WAV round-trips EXACTLY for any length/channels/rate."""
    import numpy as np

    from reading_the_unreadable_spark.operators.audio import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.Generator(np.random.PCG64(seed))
    samples = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
    got_rate, got = decode_wav(encode_wav(samples, rate))
    assert got_rate == rate and got.shape == (n, ch)
    assert np.array_equal((got * 32768.0).round().astype(np.int16), samples)


# ---------------------------------------------------- codec fuzz contracts
@settings(max_examples=40, deadline=None)
@given(
    st.integers(0, 2**32 - 1),
    st.integers(0, 400),
    st.integers(0, 255),
    st.integers(0, 60),
)
def test_archive_codec_fuzz_contract(seed, cut, flip_val, flip_pos):
    """GIF / TIFF (every compression incl. G4) under truncation AND a
    byte flip: decode either succeeds or raises ValueError /
    NotImplementedError — no IndexError/KeyError/struct.error/infinite
    loop ever escapes to a quarantining caller."""
    import numpy as np

    from media_fixtures import encode_gif, encode_jpeg_12
    from reading_the_unreadable_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )
    from reading_the_unreadable_spark.operators.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from reading_the_unreadable_spark.operators.tiff import encode_tiff

    rng = np.random.Generator(np.random.PCG64(seed))
    pal = rng.integers(0, 256, (8, 3)).astype(np.uint8)
    img = pal[rng.integers(0, 8, (9, 14))]
    bil = rng.random((9, 14)) > 0.5
    payloads = [
        encode_gif(img),
        encode_png(img, filter_type=4),
        encode_png(img, interlace=True),
        encode_tiff(img, "lzw"),
        encode_tiff(img, "packbits"),
        encode_tiff(bil, "g4"),
        encode_tiff(bil, "mh"),
        encode_tiff(bil, "g3-2d"),
        encode_tiff(img, "lzw", tile=(8, 8)),
        encode_jpeg(img, subsample="422"),
        encode_jpeg_progressive(img),
        encode_jpeg_12((rng.integers(0, 4096, (9, 14))).astype(np.uint16)),
    ]
    for enc in payloads:
        mut = bytearray(enc[: max(8, len(enc) - cut)])
        mut[flip_pos % len(mut)] = flip_val
        try:
            decode_image(bytes(mut))
        except (ValueError, NotImplementedError):
            pass  # the contract: exactly these may escape


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    run_len=st.integers(8, 20),  # >= w + k - 1 = 8 guarantees a match
    pre=st.integers(0, 10),
    post=st.integers(0, 10),
)
def test_winnowing_guarantee_property(spark, seed, run_len, pre, post):
    """Schleimer et al. 2003's core guarantee: two documents sharing a
    run of >= w + k - 1 tokens share at least one winnowing
    fingerprint, wherever the run sits in either document."""
    import numpy as np

    from reading_the_unreadable_spark.operators.dedup import winnow_fingerprints

    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = [f"w{i}" for i in range(50)]
    run = [vocab[i] for i in rng.integers(0, 50, run_len)]
    mk = lambda n: [vocab[i] for i in rng.integers(0, 50, n)]
    doc_a = " ".join(mk(pre) + run + mk(post))
    doc_b = " ".join(mk(post) + run + mk(pre))
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    )
    fps = {r["doc_id"]: set(r["fingerprints"]) for r in winnow_fingerprints(docs).collect()}
    assert fps[1] & fps[2], (doc_a, doc_b)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(0, 2**32 - 1),
    st.integers(0, 300),
    st.integers(0, 255),
    st.integers(0, 60),
)
def test_audio_codec_fuzz_contract(seed, cut, flip_val, flip_pos):
    """WAV (all codec families) and AIFF under truncation AND a byte
    flip: decode_audio either succeeds or raises ValueError /
    NotImplementedError — no struct.error/IndexError/OverflowError
    escapes to the quarantining feature path."""
    import numpy as np

    from media_fixtures import encode_aiff
    from reading_the_unreadable_spark.operators.audio import (
        decode_audio,
        encode_g711,
        encode_wav,
        encode_wav_g711,
        encode_wav_ima_adpcm,
        encode_wav_ms_adpcm,
    )

    rng = np.random.Generator(np.random.PCG64(seed))
    s = rng.integers(-32768, 32768, (200, 2)).astype(np.int16)
    mono = s[:, 0]
    payloads = [
        encode_wav(s, 8000),
        encode_wav_g711(encode_g711(mono, "ulaw"), rate=8000, law="ulaw"),
        encode_wav_ima_adpcm(mono, 8000),
        encode_wav_ms_adpcm(mono, 8000),
        encode_aiff(s, 8000),
    ]
    for enc in payloads:
        mut = bytearray(enc[: max(12, len(enc) - cut)])
        mut[flip_pos % len(mut)] = flip_val
        try:
            decode_audio(bytes(mut))
        except (ValueError, NotImplementedError):
            pass  # the contract: exactly these may escape
