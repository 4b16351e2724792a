"""WARC ingest (kernels/warc.py + operators/warcingest.py): kernel
truth on hand-built byte streams (independent of the module's own
writer), gzip member handling, HTTP splitting, charset detection, the
Spark reader's dead-letter contract and the e2e hop into html_text."""

import gzip
import random
import zlib

import pytest
from pyspark.sql import functions as F

from irivermetrics_offpaper.kernels import warc as warck
from irivermetrics_offpaper.operators import warcingest

CRLF = b"\r\n"


def _rec(wtype, payload, uri=None, extra=()):
    """Hand-rolled record builder — deliberately NOT the module's
    build_record, so writer bugs can't hide parser bugs."""
    h = [b"WARC/1.0",
         b"WARC-Type: " + wtype.encode(),
         b"WARC-Date: 2024-05-01T00:00:00Z",
         b"WARC-Record-ID: <urn:test:" + wtype.encode() + b">",
         b"Content-Length: " + str(len(payload)).encode()]
    if uri:
        h.append(b"WARC-Target-URI: " + uri.encode())
    h.extend(extra)
    return CRLF.join(h) + CRLF + CRLF + payload + CRLF + CRLF


def _http(body, ct=b"text/html", status=b"200 OK", extra=b""):
    return (b"HTTP/1.1 " + status + CRLF + b"Content-Type: " + ct + CRLF
            + extra + b"Content-Length: " + str(len(body)).encode() + CRLF
            + CRLF + body)


HTML = b"<html><body><p>Hello crawl world, this is the body text.</p></body></html>"


def _response_rec(uri="http://example.com/a", body=HTML, **kw):
    return _rec("response", _http(body, **kw), uri=uri,
                extra=(b"Content-Type: application/http; msgtype=response",))


def test_plain_warc_parses_all_records():
    data = (_rec("warcinfo", b"software: test\r\n")
            + _rec("request", b"GET /a HTTP/1.1\r\n\r\n", uri="http://example.com/a")
            + _response_rec())
    recs = list(warck.parse_warc_records(data))
    assert [r["error"] for r in recs] == [None, None, None]
    assert [r["headers"]["warc-type"] for r in recs] == ["warcinfo", "request", "response"]
    assert recs[2]["payload"].endswith(HTML)


def test_payload_containing_warc_magic_does_not_desync():
    evil = b"look: WARC/1.0\r\nContent-Length: 9999\r\n\r\n inside a body"
    data = _rec("resource", evil) + _rec("resource", b"after")
    recs = list(warck.parse_warc_records(data))
    assert [r["error"] for r in recs] == [None, None]
    assert recs[0]["payload"] == evil
    assert recs[1]["payload"] == b"after"


def test_header_continuation_and_case():
    payload = b"x"
    raw = (b"WARC/1.1" + CRLF
           + b"WARC-Type: metadata" + CRLF
           + b"X-Long: part one" + CRLF
           + b"   part two" + CRLF
           + b"CONTENT-LENGTH: 1" + CRLF + CRLF + payload + CRLF + CRLF)
    (r,) = list(warck.parse_warc_records(raw))
    assert r["error"] is None
    assert r["headers"]["x-long"] == "part one part two"
    assert r["payload"] == payload


def test_truncated_and_malformed_streams():
    good = _rec("resource", b"ok")
    # truncated payload
    recs = list(warck.parse_warc_records(good + _rec("resource", b"full")[:-8]))
    assert recs[0]["error"] is None
    assert "truncated" in recs[-1]["error"]
    # bad content-length
    bad = good + b"WARC/1.0\r\nContent-Length: soup\r\n\r\n"
    recs = list(warck.parse_warc_records(bad))
    assert recs[0]["error"] is None and "Content-Length" in recs[-1]["error"]
    # junk at start
    recs = list(warck.parse_warc_records(b"PK\x03\x04 not a warc" * 10))
    assert len(recs) == 1 and "version line" in recs[0]["error"]


def test_gzip_member_per_record_and_whole_file():
    records = [_rec("warcinfo", b"v"), _response_rec(), _rec("resource", b"tail")]
    per_member = b"".join(gzip.compress(r) for r in records)
    whole = gzip.compress(b"".join(records))
    for raw in (per_member, whole):
        recs = list(warck.iter_records(raw))
        assert [r["error"] for r in recs] == [None, None, None]
        assert recs[2]["payload"] == b"tail"
    # offsets must be the uncompressed stream offsets in both layouts
    lens = [len(r) for r in records]
    got = [r["offset"] for r in warck.iter_records(per_member)]
    assert got == [0, lens[0], lens[0] + lens[1]]


def test_gzip_truncated_member_keeps_earlier_records():
    records = [_rec("resource", b"first"), _rec("resource", b"second")]
    raw = gzip.compress(records[0]) + gzip.compress(records[1])[:-6]
    recs = list(warck.iter_records(raw))
    assert recs[0]["error"] is None and recs[0]["payload"] == b"first"
    assert any(r["error"] and "truncat" in r["error"] for r in recs)


def test_record_split_across_gzip_members():
    rec = _rec("resource", b"A" * 500)
    raw = gzip.compress(rec[:100]) + gzip.compress(rec[100:]) + gzip.compress(
        _rec("resource", b"next"))
    recs = list(warck.iter_records(raw))
    assert [r["error"] for r in recs] == [None, None]
    assert recs[0]["payload"] == b"A" * 500 and recs[1]["payload"] == b"next"


def test_http_split_plain_and_chunked():
    status, headers, body, err = warck.split_http_response(_http(HTML))
    assert (status, err) == (200, None)
    assert headers["content-type"] == "text/html"
    assert body == HTML
    chunked = warck.build_http_response(HTML, chunked=True)
    status, headers, body, err = warck.split_http_response(chunked)
    assert (status, err) == (200, None)
    assert body == HTML
    # malformed chunk size falls back with an error note
    bad = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nboom")
    status, _, body, err = warck.split_http_response(bad)
    assert status == 200 and err is not None


def test_http_split_degenerate():
    status, _, body, err = warck.split_http_response(b"no header end here")
    assert status is None and err is not None
    status, _, _, err = warck.split_http_response(b"GARBAGE line\r\n\r\nbody")
    assert status is None and "status line" in err


@pytest.mark.parametrize("body,ct,want", [
    (HTML, "text/html", "utf-8"),
    (b"caf\xe9 latin body", None, "latin-1"),
    (b"abc", "text/html; charset=ISO-8859-2", "iso-8859-2"),
    (b"<html><meta charset='windows-1251'><body>x", None, "windows-1251"),
    (b'<meta http-equiv="Content-Type" content="text/html; charset=gb2312">', None, "gb2312"),
    (b"\xef\xbb\xbfBOM text", "text/plain; charset=latin-1", "utf-8-sig"),
    (b"\xff\xfeh\x00i\x00", None, "utf-16-le"),
    (b"abc", "text/html; charset=no-such-codec", "utf-8"),
])
def test_detect_charset(body, ct, want):
    assert warck.detect_charset(body, ct) == want


def test_decode_text_never_raises():
    text, cs = warck.decode_text(b"\xff\xfe\xfd broken utf8 \xc3", "text/html; charset=utf-8")
    assert isinstance(text, str) and cs  # replacement chars, no raise


def test_fuzz_iter_records_never_raises():
    rng = random.Random(11)
    base = (_rec("warcinfo", b"v") + _response_rec()
            + gzip.compress(_rec("resource", b"z")))
    for _ in range(300):
        cut = rng.randrange(0, len(base))
        mode = rng.randrange(3)
        if mode == 0:
            raw = base[:cut]
        elif mode == 1:
            raw = base[:cut] + bytes(rng.randrange(256) for _ in range(rng.randrange(40)))
        else:
            b = bytearray(base)
            b[cut % len(b)] ^= 1 + rng.randrange(255)
            raw = bytes(b)
        for r in warck.iter_records(raw):
            assert isinstance(r["headers"], dict)


def test_zero_length_gzip_member_guard():
    # a raw deflate-empty gzip member still consumes bytes; a crafted
    # zero-consumption loop must raise WarcError, not hang
    empty = gzip.compress(b"")
    recs = list(warck.iter_records(empty + gzip.compress(_rec("resource", b"x"))))
    assert any(r["error"] is None and r["payload"] == b"x" for r in recs)


def test_member_bomb_guard():
    bomb = gzip.compress(b"\x00" * (2 * 1024 * 1024))
    with pytest.raises(warck.WarcError):
        list(warck.iter_gzip_members(bomb, cap=1024 * 1024))


# ------------------------------------------------------------- Spark layer

@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("warcs")
    latin_body = b"<html><body><p>caf\xe9 au lait et du texte ici pour la taille.</p></body></html>"
    records = [
        _rec("warcinfo", b"software: synth\r\n"),
        _rec("request", b"GET /a HTTP/1.1\r\n\r\n", uri="http://example.com/a"),
        _response_rec(uri="http://example.com/a"),
        _response_rec(uri="http://example.com/b",
                      body=b"<html><body><p>Second page body text, long enough to keep.</p></body></html>"),
        _response_rec(uri="http://example.com/miss", body=b"gone", status=b"404 Not Found"),
        _response_rec(uri="http://example.com/latin", body=latin_body,
                      ct=b"text/html; charset=iso-8859-1"),
        _response_rec(uri="http://example.com/img", body=b"\x89PNG fake", ct=b"image/png"),
    ]
    (d / "good.warc.gz").write_bytes(b"".join(gzip.compress(r) for r in records))
    (d / "plain.warc").write_bytes(_response_rec(uri="http://plain.org/x"))
    (d / "broken.warc.gz").write_bytes(b"\x1f\x8b\x08\x00garbage-not-gzip")
    (d / "ignored.txt").write_bytes(b"not a warc")
    return str(d)


def test_read_warc_rows_and_dead_letter(spark, warc_dir):
    df = warcingest.read_warc(spark, warc_dir)
    rows = df.collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r.warc_file.rsplit("/", 1)[-1], []).append(r)
    assert len(by_file["good.warc.gz"]) == 7
    assert len(by_file["plain.warc"]) == 1
    (err,) = by_file["broken.warc.gz"]
    assert err.warc_error is not None and err.warc_type is None
    assert "ignored.txt" not in by_file
    resp = [r for r in by_file["good.warc.gz"] if r.warc_type == "response"]
    assert {r.http_status for r in resp} == {200, 404}
    a = next(r for r in resp if r.target_uri == "http://example.com/a")
    assert bytes(a.payload) == HTML and a.http_content_type == "text/html"


def test_read_warc_responses_decodes_charsets(spark, warc_dir):
    df = warcingest.read_warc_responses(spark, warc_dir)
    rows = {r.target_uri: r for r in df.collect()}
    # 404 and image/png filtered; plain.warc response included
    assert set(rows) == {"http://example.com/a", "http://example.com/b",
                         "http://example.com/latin", "http://plain.org/x"}
    assert rows["http://example.com/latin"].charset == "iso-8859-1"
    assert "café au lait" in rows["http://example.com/latin"].text
    assert rows["http://example.com/a"].charset == "utf-8"


def test_warc_to_html_text_e2e(spark, warc_dir):
    from irivermetrics_offpaper.operators import htmltext

    pages = warcingest.read_warc_responses(spark, warc_dir).select(
        "target_uri", F.col("text").alias("html"))
    out = {r.target_uri: r.text for r in htmltext.with_html_text(pages).collect()}
    assert out["http://example.com/a"] == "Hello crawl world, this is the body text."
    assert "Second page body text" in out["http://example.com/b"]


def test_read_warc_plan_is_one_python_stage(spark, warc_dir):
    plan = (warcingest.read_warc(spark, warc_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_payload_cap_truncates_with_note(spark, warc_dir):
    df = warcingest.read_warc(spark, warc_dir, payload_cap=10)
    r = next(r for r in df.collect()
             if r.target_uri == "http://example.com/a" and r.warc_type == "response")
    assert len(bytes(r.payload)) == 10 and "cap" in r.warc_error
