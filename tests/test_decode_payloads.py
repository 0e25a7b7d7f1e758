"""The payload-decoder contract: every codec and container reader runs
through ``execution.decode_payloads``, so a frame of one valid payload,
one null payload and one garbage payload never fails the task.  Each
bad payload gets exactly one quarantine row with its key and a reason,
and the valid payload's rows are what the decoder gives it alone."""

from __future__ import annotations

import numpy as np
import pytest
from media_fixtures import MEDIA_SCHEMA

from reading_the_unreadable_spark.operators.audio import (
    extract_audio_features,
    synth_wav_bytes,
)
from reading_the_unreadable_spark.operators.exif import (
    build_exif,
    exif_features,
    wrap_jpeg,
)
from reading_the_unreadable_spark.operators.imagehash import image_ahash, image_dhash
from reading_the_unreadable_spark.operators.multimodal import (
    encode_bmp,
    extract_media_features,
)
from reading_the_unreadable_spark.operators.pdf import encode_pdf, parse_pdf_spans
from reading_the_unreadable_spark.operators.scans import (
    detect_page_blocks,
    scan_preprocess_features,
)
from reading_the_unreadable_spark.operators.tiff import encode_tiff
from reading_the_unreadable_spark.operators.video import (
    sample_frame_features,
    synth_avi_bytes,
)
from reading_the_unreadable_spark.sources.archives import build_zip, parse_archive_frame
from reading_the_unreadable_spark.sources.docx import build_docx, parse_docx_frame
from reading_the_unreadable_spark.sources.epub import build_epub, parse_epub_frame
from reading_the_unreadable_spark.sources.mail import build_mbox, parse_mbox_frame
from reading_the_unreadable_spark.sources.subtitles import (
    build_srt,
    parse_subtitles_frame,
)
from reading_the_unreadable_spark.sources.warc import (
    build_warc,
    build_warc_record,
    parse_warc_frame,
)

GARBAGE = b"\x00\x01garbage\xff" * 8

EXIF = {
    "make": "Maker1", "model": "Model2", "orientation": 6,
    "datetime": "2020:01:02 03:04:05", "exposure": (1, 60), "fnumber": (28, 10),
    "iso": 400, "width": 642, "height": 483,
    "gps_lat_ref": "N", "gps_lat": [(51, 1), (30, 1), (125, 10)],
    "gps_lon_ref": "W", "gps_lon": [(0, 1), (7, 1), (390, 10)],
}


def _image() -> np.ndarray:
    return (np.arange(24 * 32 * 3) % 251).astype(np.uint8).reshape(24, 32, 3)


def _page() -> bytes:
    page = np.ones((60, 120), bool)
    for ly in range(10, 40, 6):
        page[ly : ly + 3, 10:100] = False
    return encode_tiff(page, "g4")


# input frame: (schema, key per row, build one row)
MEDIA = (MEDIA_SCHEMA, ("ok", "null", "junk"),
         lambda key, p: (key, "image", p, None, None, None))
DOC_LONG = ("doc_id long, payload binary", (1, 2, 3), lambda key, p: (key, p))
DOC_STR = ("doc_id string, payload binary", ("ok", "null", "junk"), lambda key, p: (key, p))
FILES = ("source string, content binary", ("ok", "null", "junk"), lambda key, p: (key, p))

# decoder, output key column, input frame, valid payload
DECODERS = {
    "extract_audio_features": (extract_audio_features, "media_ref", MEDIA,
                               lambda: synth_wav_bytes("ok.wav")),
    "exif_features": (exif_features, "doc_id", DOC_LONG,
                      lambda: wrap_jpeg(build_exif(EXIF))),
    "image_dhash": (image_dhash, "id", DOC_LONG, lambda: encode_bmp(_image())),
    "image_ahash": (image_ahash, "id", DOC_LONG, lambda: encode_bmp(_image())),
    "extract_media_features": (extract_media_features, "media_ref", MEDIA,
                               lambda: encode_bmp(_image())),
    "parse_pdf_spans": (parse_pdf_spans, "doc_id", DOC_STR,
                        lambda: encode_pdf([["line one", "line two"], ["p2"]])),
    "scan_preprocess_features": (scan_preprocess_features, "media_ref", MEDIA, _page),
    "detect_page_blocks": (detect_page_blocks, "media_ref", MEDIA, _page),
    "sample_frame_features": (sample_frame_features, "media_ref", MEDIA,
                              lambda: synth_avi_bytes("ok.avi")),
    "parse_archive_frame": (parse_archive_frame, "source_file", FILES,
                            lambda: build_zip([("a.txt", b"hi", "stored"),
                                               ("b.txt", b"there", "deflate")])),
    "parse_docx_frame": (parse_docx_frame, "source_file", FILES,
                         lambda: build_docx([{"kind": "title", "text": "T"},
                                             {"kind": "text", "text": "body"}])),
    "parse_epub_frame": (parse_epub_frame, "source_file", FILES,
                         lambda: build_epub([("a.xhtml", "<html><p>A</p></html>"),
                                             ("b.xhtml", "<html><p>B</p></html>")])),
    "parse_mbox_frame": (parse_mbox_frame, "source_file", FILES,
                         lambda: build_mbox([b"From: a@b\nSubject: s\n\nbody\n"])),
    "parse_subtitles_frame": (parse_subtitles_frame, "source_file", FILES,
                              lambda: build_srt([(0, 1000, "hi"), (1000, 2500, "there")])),
    "parse_warc_frame": (parse_warc_frame, "source_file", FILES,
                         lambda: build_warc([build_warc_record(
                             "conversion", b"plain text", target_uri="http://x/1",
                             content_type="text/plain")])),
}


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize(
    "name, empty",
    [
        ("detect_page_blocks", lambda: encode_tiff(np.ones((40, 80), bool), "g4")),
        ("parse_pdf_spans", lambda: encode_pdf([[]])),
        ("parse_archive_frame", lambda: build_zip([])),
    ],
)
def test_zero_row_payload_gets_one_quarantine_row(spark, name, empty):
    """A payload that decodes to no rows (a blank page, a PDF without
    text runs, an empty ZIP) still gets its one outcome row."""
    decoder, key_out, (schema, keys, make_row), _ = DECODERS[name]
    df = spark.createDataFrame([make_row(keys[0], bytearray(empty()))], schema)
    got = decoder(df).collect()
    assert [(r[key_out], r[-1]) for r in got] == [(keys[0], "no rows")]


@pytest.mark.parametrize("name", sorted(DECODERS))
def test_decoder_contract(spark, name):
    decoder, key_out, (schema, keys, make_row), valid = DECODERS[name]
    ok, null, junk = keys
    payload = bytearray(valid())
    mixed = spark.createDataFrame(
        [make_row(ok, payload), make_row(null, None), make_row(junk, bytearray(GARBAGE))],
        schema,
    )
    alone = spark.createDataFrame([make_row(ok, payload)], schema)

    got = decoder(mixed).collect()
    by_key = {k: [r for r in got if r[key_out] == k] for k in keys}
    assert len(got) == sum(map(len, by_key.values()))
    # the reason is the last column of every decoder's output
    for bad in (null, junk):
        assert len(by_key[bad]) == 1, (bad, by_key[bad])
        assert by_key[bad][0][-1] is not None
    assert by_key[null][0][-1] == "null payload"
    good = by_key[ok]
    assert good and all(r[-1] is None for r in good)
    assert sorted(map(tuple, good), key=repr) == _rows(decoder(alone))
