"""ZIP/TAR/tar.gz container sources: writer↔parser round-trips, stdlib
interop both directions, corruption contracts, fuzz, and the Spark
binaryFile surface with quarantine."""

from __future__ import annotations

import io
import struct
import tarfile
import zipfile
import zlib

import pytest
from pyspark.sql import functions as F

from reading_the_unreadable_spark.sources.archives import (
    archives_from_documents,
    build_tar,
    build_zip,
    parse_archive,
    parse_archive_frame,
    parse_tar,
    parse_zip,
)

_ZIP_MEMBERS = [
    ("a.txt", b"hello world" * 40, "deflate"),
    ("b.txt", b"stored payload", "stored"),
    ("nested/dir/c.bin", b"\x00\x01\x02PK\x03\x04", "deflate"),
    ("empty.txt", b"", "stored"),
]
_TAR_MEMBERS = [
    ("a.txt", b"A" * 513),  # spans a block boundary
    ("b.txt", b"bee"),
    ("empty.txt", b""),
]


def test_zip_round_trip():
    got = parse_zip(build_zip(_ZIP_MEMBERS))
    assert [(m["member_name"], m["payload"], m["method"]) for m in got] == [
        (n, p, meth) for n, p, meth in _ZIP_MEMBERS
    ]
    assert all(m["crc_ok"] for m in got)


def test_zip_stdlib_interop_both_directions():
    # stdlib reads ours (and its CRC check passes)
    blob = build_zip(_ZIP_MEMBERS)
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert zf.testzip() is None
    for name, payload, _ in _ZIP_MEMBERS:
        assert zf.read(name) == payload
    # we read stdlib's
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf2:
        zf2.writestr("x.txt", "from stdlib")
        zf2.writestr("y.bin", b"\x00\x01\x02")
    got = {m["member_name"]: m["payload"] for m in parse_zip(buf.getvalue())}
    assert got == {"x.txt": b"from stdlib", "y.bin": b"\x00\x01\x02"}


def test_tar_round_trip_and_stdlib_interop():
    blob = build_tar(_TAR_MEMBERS)
    got = parse_tar(blob)
    assert [(m["member_name"], m["payload"]) for m in got] == _TAR_MEMBERS
    tf = tarfile.open(fileobj=io.BytesIO(blob))
    for name, payload in _TAR_MEMBERS:
        assert tf.extractfile(name).read() == payload
    # stdlib-written stream, incl. a directory entry we must skip
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf2:
        d = tarfile.TarInfo("sub"); d.type = tarfile.DIRTYPE
        tf2.addfile(d)
        ti = tarfile.TarInfo("sub/z.txt"); data = b"stdlib tar"
        ti.size = len(data)
        tf2.addfile(ti, io.BytesIO(data))
    got = {m["member_name"]: m["payload"] for m in parse_tar(buf.getvalue())}
    assert got == {"sub/z.txt": b"stdlib tar"}


def test_sniff_routes_by_magic():
    assert parse_archive(build_zip(_ZIP_MEMBERS))[0] == "zip"
    assert parse_archive(build_tar(_TAR_MEMBERS))[0] == "tar"
    c, ms = parse_archive(build_tar(_TAR_MEMBERS, gzip_frame=True))
    assert c == "tar.gz"
    assert [(m["member_name"], m["payload"]) for m in ms] == _TAR_MEMBERS
    with pytest.raises(ValueError, match="unknown archive magic"):
        parse_archive(b"\x89PNG\r\n\x1a\n not an archive")
    with pytest.raises(ValueError, match="not a tar stream"):
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        parse_archive(co.compress(b"plain gz text, no tar") + co.flush())


def test_zip_corruption_contracts():
    blob = build_zip(_ZIP_MEMBERS)
    with pytest.raises(ValueError, match="end-of-central-directory"):
        parse_zip(blob[: blob.rfind(b"PK\x05\x06")])
    with pytest.raises(ValueError, match="truncated|central directory"):
        parse_zip(blob[:40] + blob[-100:])
    # flip a deflate byte -> either bad-deflate ValueError or crc_ok False
    body_at = blob.find(b"a.txt") + 5
    bad = bytearray(blob); bad[body_at + 3] ^= 0xFF
    try:
        got = parse_zip(bytes(bad))
        assert not got[0]["crc_ok"]
    except ValueError:
        pass
    # encrypted flag raises NotImplementedError
    cd_at = blob.find(b"PK\x01\x02")
    enc = bytearray(blob)
    flags_at = cd_at + 8
    enc[flags_at] |= 0x1
    with pytest.raises(NotImplementedError, match="encrypted"):
        parse_zip(bytes(enc))
    # data-descriptor flag raises NotImplementedError
    dd = bytearray(blob); dd[flags_at] |= 0x8
    with pytest.raises(NotImplementedError, match="data descriptor"):
        parse_zip(bytes(dd))
    # zip64 marker raises NotImplementedError
    eocd_at = blob.rfind(b"PK\x05\x06")
    z64 = bytearray(blob)
    struct.pack_into("<H", z64, eocd_at + 10, 0xFFFF)
    with pytest.raises(NotImplementedError, match="zip64"):
        parse_zip(bytes(z64))


def test_zip_crc_mismatch_flagged_not_fatal():
    blob = bytearray(build_zip([("s.txt", b"stored bytes", "stored")]))
    at = blob.find(b"stored bytes")
    blob[at] ^= 0xFF  # stored payload: corrupt byte is caught only by CRC
    got = parse_zip(bytes(blob))
    assert len(got) == 1 and got[0]["crc_ok"] is False


def test_tar_corruption_contracts():
    blob = build_tar(_TAR_MEMBERS)
    bad = bytearray(blob); bad[0] ^= 0x01  # name byte -> checksum mismatch
    with pytest.raises(ValueError, match="checksum"):
        parse_tar(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        parse_tar(blob[:600])
    with pytest.raises(ValueError, match="ustar"):
        parse_tar(b"\x01" * 512)
    # GNU long-name typeflag raises loudly (rebuild checksum for 'L')
    gnu = bytearray(blob)
    gnu[156] = ord("L")
    gnu[148:156] = b" " * 8
    chk = sum(gnu[:512])
    gnu[148:156] = f"{chk:06o}".encode() + b"\x00 "
    with pytest.raises(NotImplementedError, match="typeflag"):
        parse_tar(bytes(gnu))


def test_spark_folder_read_and_quarantine(spark, tmp_path):
    d = tmp_path / "archives"
    d.mkdir()
    (d / "a.zip").write_bytes(build_zip(_ZIP_MEMBERS))
    (d / "b.tar.gz").write_bytes(build_tar(_TAR_MEMBERS, gzip_frame=True))
    (d / "c.tar").write_bytes(build_tar(_TAR_MEMBERS))
    (d / "broken.zip").write_bytes(b"PK\x03\x04 truncated nonsense")
    files = spark.read.format("binaryFile").load(str(d)).select(
        F.col("path").alias("source"), "content"
    )
    rows = parse_archive_frame(files).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["source_file"].rsplit("/", 1)[-1], []).append(r)
    assert len(by_file["a.zip"]) == len(_ZIP_MEMBERS)
    assert {r["container"] for r in by_file["a.zip"]} == {"zip"}
    assert len(by_file["b.tar.gz"]) == len(_TAR_MEMBERS)
    assert {r["container"] for r in by_file["b.tar.gz"]} == {"tar.gz"}
    assert len(by_file["c.tar"]) == len(_TAR_MEMBERS)
    a = {r["member_name"]: r for r in by_file["a.zip"]}
    assert bytes(a["b.txt"]["payload"]) == b"stored payload"
    assert a["a.txt"]["method"] == "deflate" and a["a.txt"]["crc_ok"]
    assert a["a.txt"]["member_bytes"] == len(b"hello world" * 40)
    q = by_file["broken.zip"]
    assert len(q) == 1 and q[0]["parse_err"] and q[0]["container"] is None


def test_archives_from_documents_round_trips(spark):
    docs = spark.createDataFrame(
        [(i, f"text of doc {i} " + "x" * (i % 37)) for i in range(30)],
        "doc_id long, text string",
    )
    rows = parse_archive_frame(archives_from_documents(docs)).collect()
    assert len(rows) == 30
    by_name = {r["member_name"]: r for r in rows}
    for i in range(30):
        r = by_name[f"doc_{i}.txt"]
        want_container = "zip" if i % 2 == 0 else "tar.gz"
        assert r["container"] == want_container
        if i % 2 == 0:
            assert r["method"] == ("stored" if i % 3 == 0 else "deflate")
        else:
            assert r["method"] == "tar"
        assert bytes(r["payload"]).decode() == f"text of doc {i} " + "x" * (i % 37)
        assert r["crc_ok"]


# ----------------------------------------------------------- property fuzz
from hypothesis import example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_NAME = st.text(
    alphabet=st.characters(min_codepoint=48, max_codepoint=122), min_size=1,
    max_size=24,
)
_PAYLOAD = st.binary(min_size=0, max_size=400)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(_NAME, _PAYLOAD), min_size=1, max_size=5,
                unique_by=lambda t: t[0]),
       st.sampled_from(["zip", "tar", "tar.gz"]))
@example([("PK", b"")], "tar")  # a tar header starts with the member name
def test_arbitrary_payloads_round_trip(members, kind):
    """Any byte payload — including PK / ustar / gzip magic inside —
    survives the container round trip exactly."""
    if kind == "zip":
        blob = build_zip(
            [(n, p, "deflate" if len(p) % 2 else "stored")
             for n, p in members]
        )
    else:
        blob = build_tar(members, gzip_frame=(kind == "tar.gz"))
    container, got = parse_archive(blob)
    assert container == kind
    assert [(m["member_name"], m["payload"]) for m in got] == members
    assert all(m["crc_ok"] for m in got)


@settings(max_examples=100, deadline=None)
@given(st.sampled_from(["zip", "tar", "tar.gz"]), st.data())
def test_byte_flip_never_silently_corrupts(kind, data):
    """Flipping any byte either raises (ValueError/NotImplementedError),
    flags crc_ok=False, or leaves payloads byte-identical — never a
    silently different payload with crc_ok=True.  (tar members carry no
    payload CRC — a flip inside payload bytes is the documented
    detection boundary, so tar asserts name/count sanity only.)"""
    members = [("m0.txt", b"payload zero" * 3), ("m1.txt", b"\x00PK\x05\x06")]
    if kind == "zip":
        blob = build_zip([(n, p, "deflate") for n, p in members])
    else:
        blob = build_tar(members, gzip_frame=(kind == "tar.gz"))
    at = data.draw(st.integers(min_value=0, max_value=len(blob) - 1))
    bad = bytearray(blob)
    bad[at] ^= data.draw(st.integers(min_value=1, max_value=255))
    try:
        container, got = parse_archive(bytes(bad))
    except (ValueError, NotImplementedError):
        return
    if kind == "zip":
        for m in got:
            orig = dict(members).get(m["member_name"])
            if m["crc_ok"] and orig is not None:
                assert m["payload"] == orig
    else:
        assert len(got) <= len(members)
