"""ID3v2 kernel (kernels/id3.py) + with_audio_tags operator: writer
round-trip, hand-built v2.2/v2.4 truth independent of the writer,
encodings, unsynchronisation, hostile fuzz, and interop with the mp3
probe's tag skip."""

import random
import struct

import pytest

from irivermetrics_offpaper.kernels import id3 as id3k


def test_writer_parser_round_trip():
    tag = id3k.build_id3v23(title="A Song", artist="Bänd ünïcode",
                            album="LP", year="1999", genre="Rock",
                            track="3/12")
    d = id3k.parse_id3(tag)
    assert d.get("error") is None or "error" not in d
    assert d["id3_version"] == "2.3"
    assert d["title"] == "A Song"
    assert d["artist"] == "Bänd ünïcode"
    assert d["album"] == "LP" and d["year"] == "1999"
    assert d["genre"] == "Rock" and d["track"] == "3/12"
    # deterministic
    assert id3k.build_id3v23(title="x", artist="y") == \
        id3k.build_id3v23(title="x", artist="y")
    assert id3k.parse_id3(b"") == {} and id3k.parse_id3(None) == {}
    assert id3k.parse_id3(b"\xff\xfb\x90\x00 bare mp3 frame") == {}


def _ss(n: int) -> bytes:
    return bytes(((n >> s) & 0x7F) for s in (21, 14, 7, 0))


def test_hand_built_v24_with_syncsafe_frame_sizes():
    """v2.4 frame sizes are syncsafe — a parser that reads them as
    plain big-endian would overrun on sizes >= 128."""
    payload = b"\x03" + ("t" * 130).encode() + b"\x00"  # utf-8, 132 bytes
    frame = b"TIT2" + _ss(len(payload)) + b"\x00\x00" + payload
    frame += b"TPE1" + _ss(9) + b"\x00\x00" + b"\x00artist\x00\x00"
    body = frame
    tag = b"ID3\x04\x00\x00" + _ss(len(body)) + body
    d = id3k.parse_id3(tag + b"\xff\xfb audio follows")
    assert d["title"] == "t" * 130
    assert d["artist"] == "artist"
    assert d["id3_version"] == "2.4"


def test_hand_built_v22_three_byte_frames():
    payload = b"\x00Old Title\x00"
    frame = b"TT2" + bytes([0, 0, len(payload)]) + payload
    tag = b"ID3\x02\x00\x00" + _ss(len(frame)) + frame
    d = id3k.parse_id3(tag)
    assert d["title"] == "Old Title" and d["id3_version"] == "2.2"


def test_utf16_bom_and_be_encodings():
    p16 = b"\x01" + "söng".encode("utf-16") + b"\x00\x00"
    f1 = b"TIT2" + struct.pack(">I", len(p16)) + b"\x00\x00" + p16
    p16be = b"\x02" + "ärtist".encode("utf-16-be") + b"\x00\x00"
    f2 = b"TPE1" + struct.pack(">I", len(p16be)) + b"\x00\x00" + p16be
    tag = b"ID3\x03\x00\x00" + _ss(len(f1 + f2)) + f1 + f2
    d = id3k.parse_id3(tag)
    assert d["title"] == "söng" and d["artist"] == "ärtist"


def test_unsynchronisation_flag():
    # body where a frame payload legitimately contains FF 00 stuffing
    payload = b"\x00AB\x00"
    frame = b"TALB" + struct.pack(">I", len(payload)) + b"\x00\x00" + payload
    stuffed = frame.replace(b"\xff", b"\xff\x00")  # no FF here, but flag set
    tag = b"ID3\x03\x00\x80" + _ss(len(stuffed)) + stuffed
    assert id3k.parse_id3(tag)["album"] == "AB"


def test_overrun_and_padding():
    # frame claims more bytes than the tag body has -> error noted
    frame = b"TIT2" + struct.pack(">I", 1000) + b"\x00\x00" + b"\x00hi"
    tag = b"ID3\x03\x00\x00" + _ss(len(frame)) + frame
    d = id3k.parse_id3(tag)
    assert "overruns" in d.get("error", "")
    # padding (zero bytes) after frames terminates cleanly
    f = b"TIT2" + struct.pack(">I", 4) + b"\x00\x00" + b"\x00ok\x00"
    body = f + b"\x00" * 32
    tag2 = b"ID3\x03\x00\x00" + _ss(len(body)) + body
    d2 = id3k.parse_id3(tag2)
    assert d2["title"] == "ok" and "error" not in d2


def test_fuzz_never_raises():
    rng = random.Random(9)
    base = id3k.build_id3v23(title="T", artist="A", album="B", year="2001")
    for _ in range(400):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 5)):
            b[rng.randrange(len(b))] ^= 1 + rng.randrange(255)
        out = id3k.parse_id3(bytes(b[:rng.randrange(len(b) + 1)]))
        assert isinstance(out, dict)


def test_id3_size_matches_audioprobe_skip():
    """The id3_size the tag parser reports equals the skip the mp3
    probe computes — the two header walks agree on framing."""
    from irivermetrics_offpaper.kernels import audioprobe

    tag = id3k.build_id3v23(title="X", artist="Y")
    assert id3k.parse_id3(tag)["id3_size"] == audioprobe._id3v2_size(tag)


def test_with_audio_tags_spark(spark):
    import numpy as np

    from irivermetrics_offpaper.kernels import wav
    from irivermetrics_offpaper.operators import multimodal

    tag = id3k.build_id3v23(title="Song", artist="Band", year="2010")
    mp3ish = tag + b"\xff\xfb\x90\x00" + bytes(400)
    rows = [("a", bytearray(mp3ish)),
            ("b", bytearray(wav.write_wav(np.zeros(100, np.int16), 8000))),
            ("c", None), ("d", b"garbage")]
    df = spark.createDataFrame(rows, "audio_id string, bytes binary")
    got = {r.audio_id: r for r in multimodal.with_audio_tags(df).collect()}
    assert got["a"].title == "Song" and got["a"].artist == "Band"
    assert got["a"].year == "2010" and got["a"].id3_version == "2.3"
    for k in "bcd":
        assert got[k].title is None and got[k].id3_version is None


def test_frame_format_flags_v23_v24():
    """r7 review find: frames flagged compressed/encrypted can't be
    text-decoded (skip), v2.4 DLI adds 4 size bytes, grouping adds an
    id byte — decoding must honor the 2nd flag byte."""
    # v2.3 compressed TIT2 -> skipped; clean TPE1 still decodes
    p = b"\x00garbage\x00"
    f1 = b"TIT2" + struct.pack(">I", len(p)) + b"\x00\x80" + p
    p2 = b"\x00Artist\x00"
    f2 = b"TPE1" + struct.pack(">I", len(p2)) + b"\x00\x00" + p2
    tag = b"ID3\x03\x00\x00" + _ss(len(f1 + f2)) + f1 + f2
    d = id3k.parse_id3(tag)
    assert "title" not in d and d["artist"] == "Artist"
    # v2.4 DLI: 4 extra bytes precede the payload
    payload = b"\x00\x00\x00\x05" + b"\x03Hi\x00"
    f3 = b"TIT2" + _ss(len(payload)) + b"\x00\x01" + payload
    tag4 = b"ID3\x04\x00\x00" + _ss(len(f3)) + f3
    assert id3k.parse_id3(tag4)["title"] == "Hi"
    # v2.3 grouping identity byte
    gp = b"\xaa" + b"\x00GroupedAlbum\x00"
    f4 = b"TALB" + struct.pack(">I", len(gp)) + b"\x00\x20" + gp
    tag5 = b"ID3\x03\x00\x00" + _ss(len(f4)) + f4
    assert id3k.parse_id3(tag5)["album"] == "GroupedAlbum"
