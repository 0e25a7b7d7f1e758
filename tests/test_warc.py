"""WARC/WET container source: writer↔parser round-trips, gzip members,
corruption contracts, and the Spark binaryFile surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reading_the_unreadable_spark.sources.warc import (
    build_http_response,
    build_warc,
    build_warc_record,
    parse_warc,
    parse_warc_frame,
    split_http_response,
    warc_from_documents,
)


def _sample_records():
    html = b"<html><body><p>hello \r\n\r\n world</p></body></html>"
    return [
        build_warc_record("warcinfo", b"software: rtu-spark\r\n",
                          content_type="application/warc-fields"),
        build_warc_record(
            "request",
            b"GET /doc/1 HTTP/1.1\r\nHost: example.org\r\n\r\n",
            target_uri="http://example.org/doc/1",
            content_type="application/http; msgtype=request",
        ),
        build_warc_record(
            "response",
            build_http_response(html),
            target_uri="http://example.org/doc/1",
            content_type="application/http; msgtype=response",
        ),
        build_warc_record(
            "conversion",
            b"hello world plain text",
            target_uri="http://example.org/doc/2",
            content_type="text/plain",
        ),
    ]


@pytest.mark.parametrize("gz", [False, True])
def test_round_trip(gz):
    recs = _sample_records()
    got = parse_warc(build_warc(recs, gzip_members=gz))
    assert [r["record_type"] for r in got] == [
        "warcinfo", "request", "response", "conversion",
    ]
    assert got[2]["target_uri"] == "http://example.org/doc/1"
    status, ctype, body = split_http_response(got[2]["payload"])
    assert (status, ctype) == (200, "text/html")
    assert body == b"<html><body><p>hello \r\n\r\n world</p></body></html>"
    assert got[3]["payload"] == b"hello world plain text"
    # record ids are deterministic
    again = parse_warc(build_warc(_sample_records(), gzip_members=gz))
    assert [r["record_id"] for r in again] == [r["record_id"] for r in got]


def test_header_names_case_insensitive():
    rec = _sample_records()[3]
    mangled = rec.replace(b"Content-Length:", b"CONTENT-LENGTH:").replace(
        b"WARC-Type:", b"warc-type:"
    )
    got = parse_warc(mangled)
    assert got[0]["record_type"] == "conversion"


def test_corruption_contracts():
    rec = _sample_records()[2]
    with pytest.raises(ValueError, match="truncated|not terminated"):
        parse_warc(rec[: len(rec) - 10])
    with pytest.raises(ValueError, match="version"):
        parse_warc(b"HARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n")
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nx\r\n\r\n")
    gz = build_warc([rec], gzip_members=True)
    with pytest.raises(ValueError, match="gzip"):
        parse_warc(gz[: len(gz) - 6])
    with pytest.raises(ValueError, match="HTTP"):
        split_http_response(b"not http at all\r\n\r\nbody")


def test_spark_folder_read_and_quarantine(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "a.warc").write_bytes(build_warc(_sample_records()))
    (d / "b.warc.gz").write_bytes(
        build_warc(_sample_records()[2:], gzip_members=True)
    )
    (d / "c.warc").write_bytes(b"WARC/1.0\r\nbroken")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(str(d))
        .select(F.col("path").alias("source"), "content")
    )
    rows = parse_warc_frame(files).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["source_file"].rsplit("/", 1)[-1], []).append(r)
    assert len(by_file["a.warc"]) == 4
    assert len(by_file["b.warc.gz"]) == 2
    resp = [r for r in by_file["a.warc"] if r["record_type"] == "response"][0]
    assert resp["http_status"] == 200
    assert bytes(resp["payload"]).startswith(b"<html>")
    quarantined = by_file["c.warc"]
    assert len(quarantined) == 1 and quarantined[0]["parse_err"]
    assert quarantined[0]["record_type"] is None


def test_warc_from_documents_round_trips(spark):
    docs = spark.createDataFrame(
        [(i, f"text of doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    rows = parse_warc_frame(warc_from_documents(docs)).collect()
    assert len(rows) == 20
    by_uri = {r["target_uri"]: r for r in rows}
    conv = by_uri["http://example.org/doc/7"]
    assert conv["record_type"] == "conversion"
    assert bytes(conv["payload"]) == b"text of doc 7"
    resp = by_uri["http://example.org/doc/3"]
    assert resp["record_type"] == "response" and resp["http_status"] == 200
    assert b"<p>text of doc 3</p>" in bytes(resp["payload"])


# ----------------------------------------------------------- property fuzz
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PAYLOAD = st.binary(min_size=0, max_size=300)
_TYPES = st.sampled_from(["response", "conversion", "resource", "metadata"])


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(_TYPES, _PAYLOAD), min_size=1, max_size=5),
       st.booleans())
def test_arbitrary_payloads_round_trip(recs, gz):
    """Any byte payload — including ones containing CRLF CRLF, WARC/
    magic, or gzip magic — survives the container round trip exactly."""
    blob = build_warc(
        [build_warc_record(t, p) for t, p in recs], gzip_members=gz
    )
    got = parse_warc(blob)
    assert [(r["record_type"], r["payload"]) for r in got] == recs


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(_TYPES, _PAYLOAD), min_size=1, max_size=3),
       st.booleans(), st.data())
def test_truncation_never_returns_wrong_records(recs, gz, data):
    """Cutting a WARC anywhere either raises ValueError or yields a
    strict prefix of the true record list — never corrupt records."""
    blob = build_warc(
        [build_warc_record(t, p) for t, p in recs], gzip_members=gz
    )
    cut = data.draw(st.integers(min_value=0, max_value=len(blob) - 1))
    want = [(r["record_type"], r["payload"]) for r in parse_warc(blob)]
    try:
        got = [(r["record_type"], r["payload"]) for r in parse_warc(blob[:cut])]
    except ValueError:
        return
    assert got == want[: len(got)]
