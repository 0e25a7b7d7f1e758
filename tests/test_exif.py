"""EXIF build/parse round trip, endianness, error contract."""

from __future__ import annotations

import pytest

from media_fixtures import inject_exif
from reading_the_unreadable_spark.operators.exif import (
    build_exif,
    exif_features,
    parse_exif,
    wrap_jpeg,
)

FIELDS = {
    "make": "Maker1",
    "model": "Model2",
    "orientation": 6,
    "datetime": "2020:01:02 03:04:05",
    "exposure": (1, 60),
    "fnumber": (28, 10),
    "iso": 400,
    "width": 642,
    "height": 483,
    "gps_lat_ref": "N",
    "gps_lat": [(51, 1), (30, 1), (125, 10)],
    "gps_lon_ref": "W",
    "gps_lon": [(0, 1), (7, 1), (390, 10)],
}


@pytest.mark.parametrize("bo", ["II", "MM"])
def test_round_trip_both_endiannesses(bo):
    got = parse_exif(wrap_jpeg(build_exif(FIELDS, byte_order=bo)))
    assert got["make"] == "Maker1" and got["model"] == "Model2"
    assert got["orientation"] == 6
    assert got["datetime"] == "2020:01:02 03:04:05"
    assert got["exposure_s"] == 1 / 60
    assert got["f_number"] == 2.8
    assert got["iso"] == 400
    assert (got["width"], got["height"]) == (642, 483)
    assert got["gps_lat"] == 51 + 30 / 60 + 12.5 / 3600
    assert got["gps_lon"] == -(0 + 7 / 60 + 39.0 / 3600)


def test_inject_into_real_jpeg_and_absence():
    import numpy as np

    from reading_the_unreadable_spark.operators.jpeg import encode_jpeg

    img = np.tile(
        np.linspace(0, 255, 16, dtype=np.uint8)[None, :, None], (16, 1, 3)
    )
    plain = encode_jpeg(img, quality=80)
    assert parse_exif(plain) is None  # absence is data, not an error
    tagged = inject_exif(plain, build_exif(FIELDS))
    got = parse_exif(tagged)
    assert got is not None and got["orientation"] == 6
    # the image stream itself is untouched
    from reading_the_unreadable_spark.operators.jpeg import decode_jpeg

    assert (decode_jpeg(tagged) == decode_jpeg(plain)).all()


def test_malformed_raises_value_error():
    good = wrap_jpeg(build_exif(FIELDS))
    with pytest.raises(ValueError):
        parse_exif(b"\x00\x00junk")
    # flip the byte order marker to garbage
    bad = good.replace(b"Exif\x00\x00II", b"Exif\x00\x00XX")
    with pytest.raises(ValueError):
        parse_exif(bad)
    # truncate inside the IFD
    with pytest.raises(ValueError):
        parse_exif(good[:40] + b"\xff\xd9")


def test_exif_features_frame(spark):
    rows = [
        (0, bytearray(wrap_jpeg(build_exif(FIELDS, "II")))),
        (1, bytearray(wrap_jpeg(build_exif(FIELDS, "MM")))),
        (2, bytearray(b"\xff\xd8\xff\xd9")),  # no EXIF → nulls
        (3, bytearray(b"not a jpeg")),  # malformed → quarantine row
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in exif_features(df).collect()}
    assert out[0]["orientation"] == 6 and out[1]["orientation"] == 6
    assert out[0]["gps_lat"] == out[1]["gps_lat"]
    assert out[2]["orientation"] is None and out[2]["err"] is None
    assert out[3]["err"] is not None
    assert len(out) == 4
