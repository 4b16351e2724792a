"""Per-row payload decompression (textops.decompress_payloads):
gzip/zlib/raw sniffing, zip-bomb guard, dead-letter diversion."""
import gzip
import zlib

import pandas as pd
import pytest

from irivermetrics_offpaper.operators import textops


def test_mixed_batch_decompresses(spark):
    body = "the quick brown fox " * 50
    rows = [
        ("g", gzip.compress(body.encode())),
        ("z", zlib.compress(body.encode())),
        ("r", body.encode()),
        ("bad_utf8", b"\xff\xfe\x00raw bytes that are not text"),
        ("corrupt_gz", b"\x1f\x8b" + b"\x00" * 20),
        ("null", None),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    out = {r.doc_id: r for r in textops.decompress_payloads(df).collect()}
    assert out["g"].text == body and out["g"].compression == "gzip"
    assert out["z"].text == body and out["z"].compression == "zlib"
    assert out["r"].text == body and out["r"].compression == "none"
    assert out["g"].decomp_error is None
    for bad in ("bad_utf8", "corrupt_gz", "null"):
        assert out[bad].text is None and out[bad].decomp_error is not None
    assert "payload" not in out["g"].asDict()


def test_zip_bomb_guard(spark):
    bomb = gzip.compress(b"\x00" * 10_000_000)  # ~10k-fold expansion
    df = spark.createDataFrame(
        pd.DataFrame([("b", bomb)], columns=["doc_id", "payload"]))
    out = textops.decompress_payloads(df, max_ratio=100).collect()[0]
    assert out.text is None
    assert "bomb guard" in out.decomp_error
    # generous ratio: decompresses fine
    ok = textops.decompress_payloads(df, max_ratio=10_000).collect()[0]
    assert ok.text == "\x00" * 10_000_000 and ok.decomp_error is None


def test_zlib_header_check_rejects_lookalikes(spark):
    # 0x78 first byte but an invalid fletcher check: treated as raw text
    fake = b"x1 this is plain ascii starting with x"
    df = spark.createDataFrame(
        pd.DataFrame([("f", fake)], columns=["doc_id", "payload"]))
    out = textops.decompress_payloads(df).collect()[0]
    assert out.compression == "none" and out.text.startswith("x1 ")


def test_truncated_and_multimember_gzip(spark):
    """Review finds: a truncated gzip body must dead-letter (stdlib
    returns partial output silently) and concatenated members — the
    WARC norm — must ALL decode."""
    body = "the quick brown fox jumps " * 40
    full = gzip.compress(body.encode())
    rows = [
        ("trunc", full[:len(full) // 2]),
        ("multi", gzip.compress(b"first member. ") + gzip.compress(b"second member.")),
        ("padded", gzip.compress(b"padded member") + b"\x00" * 8),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    out = {r.doc_id: r for r in textops.decompress_payloads(df).collect()}
    assert out["trunc"].text is None and "truncated" in out["trunc"].decomp_error
    assert out["multi"].text == "first member. second member."
    assert out["padded"].text == "padded member"


def test_zlib_lookalike_text_falls_back_to_raw(spark):
    """'x ' passes the fletcher check ((0x78<<8|0x20) % 31 == 0): the
    kernel must fall back to raw text instead of dead-lettering."""
    assert ((0x78 << 8) | 0x20) % 31 == 0
    rows = [("xspace", b"x = 5 is plain source code"),
            ("realz", zlib.compress(b"actual zlib data here"))]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    out = {r.doc_id: r for r in textops.decompress_payloads(df).collect()}
    assert out["xspace"].compression == "none"
    assert out["xspace"].text.startswith("x = 5")
    assert out["realz"].compression == "zlib"
    assert out["realz"].text == "actual zlib data here"


def test_output_column_collision_raises(spark):
    df = spark.createDataFrame(
        pd.DataFrame([("a", b"x", "already")], columns=["doc_id", "payload", "text"]))
    with pytest.raises(ValueError, match="output column"):
        textops.decompress_payloads(df)


def test_bz2_and_xz_payloads(spark):
    import bz2
    import lzma

    body = "compressed crawl body ünïcode " * 60
    rows = [
        ("b", bz2.compress(body.encode())),
        ("x", lzma.compress(body.encode())),  # .xz container
        ("b2", bz2.compress(b"one") + bz2.compress(b"two")),   # multi-stream
        ("x2", lzma.compress(b"one") + lzma.compress(b"two")),
        ("bz_trunc", bz2.compress(body.encode())[:-8]),
        ("xz_trunc", lzma.compress(body.encode())[:-8]),
        ("bzh_fake", b"BZh but actually plain text, no level digit"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    out = {r.doc_id: r for r in textops.decompress_payloads(df).collect()}
    assert out["b"].text == body and out["b"].compression == "bz2"
    assert out["x"].text == body and out["x"].compression == "xz"
    assert out["b2"].text == "onetwo" and out["x2"].text == "onetwo"
    for bad in ("bz_trunc", "xz_trunc"):
        assert out[bad].text is None and out[bad].decomp_error is not None
    # 'BZh' followed by a space is not a valid level digit -> raw text
    assert out["bzh_fake"].compression == "none"
    assert out["bzh_fake"].text.startswith("BZh but")


def test_bz2_xz_bomb_guard(spark):
    import bz2
    import lzma

    rows = [("b", bz2.compress(b"\x00" * 5_000_000)),
            ("x", lzma.compress(b"\x00" * 5_000_000))]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    out = {r.doc_id: r
           for r in textops.decompress_payloads(df, max_ratio=10).collect()}
    for k in "bx":
        assert out[k].text is None and "bomb guard" in out[k].decomp_error
    ok = {r.doc_id: r
          for r in textops.decompress_payloads(df, max_ratio=10_000_000).collect()}
    for k in "bx":
        assert ok[k].text == "\x00" * 5_000_000 and ok[k].decomp_error is None
