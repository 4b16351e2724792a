"""ZIP kernel (kernels/zipfmt.py) + archive ingest operator:
stdlib-zipfile cross-validation both directions, CRC/size
verification, per-member vs whole-archive dead-letters, hostile fuzz."""

import io
import random
import zipfile

import pytest

from irivermetrics_offpaper.kernels import zipfmt

MEMBERS = [
    ("0001.jpg", b"\xff\xd8 not really a jpeg \x00\x01"),
    ("docs/readme.txt", ("text that deflates well " * 40).encode()),
    ("unicode-é中.bin", bytes(range(256))),
    ("empty", b""),
]


def _stdlib_read(blob):
    out = []
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        for info in zf.infolist():
            if not info.is_dir():
                out.append((info.filename, zf.read(info)))
    return out


def test_writer_read_by_stdlib_zipfile():
    for compress in (True, False):
        blob = zipfmt.write_zip(MEMBERS, compress=compress)
        assert _stdlib_read(blob) == MEMBERS
        assert zipfmt.write_zip(MEMBERS, compress=compress) == blob  # deterministic
    # compression actually used for the compressible member
    entries = {e["name"]: e for e in zipfmt.list_zip(zipfmt.write_zip(MEMBERS))}
    assert entries["docs/readme.txt"]["method"] == 8
    assert entries["0001.jpg"]["method"] == 0  # incompressible stays stored


def test_reader_reads_stdlib_zipfile_both_methods():
    for method in (zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", method) as zf:
            for name, data in MEMBERS:
                zf.writestr(name, data)
            zf.writestr("adir/", b"")  # directory entry: skipped
        got = list(zipfmt.iter_zip(buf.getvalue()))
        assert got == MEMBERS, method


def test_round_trip_own_kernel_and_comment_tail():
    blob = zipfmt.write_zip(MEMBERS)
    assert list(zipfmt.iter_zip(blob)) == MEMBERS
    # an archive comment moves the EOCD off the tail — must still parse
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.txt", b"data")
        zf.comment = b"trailing comment " * 10
    assert list(zipfmt.iter_zip(buf.getvalue())) == [("a.txt", b"data")]


def test_corruption_detection():
    blob = bytearray(zipfmt.write_zip(MEMBERS))
    entries = zipfmt.list_zip(bytes(blob))
    e = next(x for x in entries if x["name"] == "0001.jpg")
    # flip a payload byte: CRC must catch it (stored member)
    name_len = len(e["name"].encode())
    blob[e["header_off"] + 30 + name_len] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        zipfmt.read_member(bytes(blob), e)
    with pytest.raises(ValueError, match="end-of-central"):
        zipfmt.list_zip(b"PK\x03\x04 not a full archive")
    with pytest.raises(ValueError, match="cap"):
        big = next(x for x in zipfmt.list_zip(zipfmt.write_zip(MEMBERS))
                   if x["name"] == "docs/readme.txt")
        zipfmt.read_member(zipfmt.write_zip(MEMBERS), big, max_bytes=10)


def test_fuzz_never_hangs():
    rng = random.Random(21)
    base = zipfmt.write_zip(MEMBERS)
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] ^= 1 + rng.randrange(255)
        try:
            list(zipfmt.iter_zip(bytes(b[:rng.randrange(len(b) + 1)])))
        except ValueError:
            pass


def test_read_zip_members_spark(spark, tmp_path):
    from irivermetrics_offpaper.operators import archives

    good = zipfmt.write_zip(MEMBERS)
    (tmp_path / "a.zip").write_bytes(good)
    (tmp_path / "evil.zip").write_bytes(b"garbage" * 30)
    # archive with one poisoned member: others must still extract
    poisoned = bytearray(good)
    e = next(x for x in zipfmt.list_zip(good) if x["name"] == "0001.jpg")
    poisoned[e["header_off"] + 30 + len(e["name"].encode())] ^= 0xFF
    (tmp_path / "part.zip").write_bytes(bytes(poisoned))

    out = archives.read_zip_members(spark, str(tmp_path))
    rows = out.collect()
    by = {}
    for r in rows:
        by.setdefault(r.archive_path.split("/")[-1], []).append(r)
    assert len([r for r in by["a.zip"] if r.error is None]) == len(MEMBERS)
    got = {r.name: bytes(r.bytes) for r in by["a.zip"] if r.error is None}
    assert got == dict(MEMBERS)
    assert len(by["evil.zip"]) == 1 and by["evil.zip"][0].name is None
    part_ok = [r for r in by["part.zip"] if r.error is None]
    part_bad = [r for r in by["part.zip"] if r.error is not None]
    assert len(part_ok) == len(MEMBERS) - 1 and len(part_bad) == 1
    assert part_bad[0].name == "0001.jpg" and "CRC" in part_bad[0].error


def test_member_count_guard():
    """r7 review find: >65535 members must be a clear ValueError, not
    a struct.error from the 16-bit EOCD counts."""
    with pytest.raises(ValueError, match="65535"):
        zipfmt.write_zip([("m", b"")] * 65536)
