"""Sitemap ingest — from-scratch parser for the sitemaps.org XML
protocol (urlset / sitemapindex), the crawl-frontier companion to the
robots.txt filter (whose parser surfaces the ``Sitemap:`` pointers
this operator consumes).

Why it matters at 100 TB: sitemaps are how publishers enumerate what
SHOULD be crawled — a crawl pipeline diffing its URL table against
sitemap entries finds both coverage gaps and stale captures, and
``lastmod`` drives re-crawl scheduling. The sitemap dimension is
per-host like robots: bounded, parsed once, joined/unioned into the
URL table.

Parser scope (public sitemaps.org schema, reimplemented): ``<urlset>``
entries (``loc`` required; ``lastmod``/``changefreq``/``priority``
optional) and ``<sitemapindex>`` entries (``loc``/``lastmod``), via a
forgiving tag scan — namespace prefixes, attribute junk, CDATA
sections and XML entities are handled; gzipped bodies (the .xml.gz
convention, magic-sniffed) are inflated with a bomb cap. Never raises:
malformed input yields the entries that could be parsed plus an
``error`` note. The spec's 50k-entries/50MB caps are enforced as
parse bounds."""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_BODY = 64 * 1024 * 1024  # spec cap is 50 MB uncompressed
_MAX_ENTRIES = 50_000

# one linear pass pairs open/close tags (a lazy `<url>(.*?)</url>`
# regex is QUADRATIC on unclosed-tag spam — 200k bare '<url ' openers
# would each rescan to end-of-string); blocks are additionally capped:
# a single sitemap entry is tiny by spec, so an oversized "block" is
# hostile input, not data
_TAG_RE = re.compile(r"<(/?)(?:\w+:)?(url|sitemap)[\s>/]", re.I)
_FIELD_RE = re.compile(
    r"<(?:\w+:)?(loc|lastmod|changefreq|priority)\s*>(.*?)"
    r"</(?:\w+:)?\1\s*>", re.S | re.I)
_ROOT_INDEX_RE = re.compile(r"<(?:\w+:)?sitemapindex[\s>]", re.I)
_ROOT_URLSET_RE = re.compile(r"<(?:\w+:)?urlset[\s>]", re.I)
_MAX_BLOCK = 65536


def _iter_blocks(text: str):
    """Yield the inner text of each <url>/<sitemap> element — linear
    scan, no backtracking; unclosed openers are simply skipped."""
    open_pos = None
    open_kind = None
    for m in _TAG_RE.finditer(text):
        closing, kind = m.group(1) == "/", m.group(2).lower()
        if not closing:
            open_pos, open_kind = m.end(), kind
        elif open_pos is not None and kind == open_kind:
            if m.start() - open_pos <= _MAX_BLOCK:
                yield text[open_pos:m.start()]
            open_pos = open_kind = None


def _decode_xml_text(s: str) -> str:
    # CDATA passthrough, then the shared entity decoder (htmltext's —
    # digit caps, 0x10FFFF bound and the lone-surrogate guard live
    # there; a weaker local copy once crashed Arrow serialization on
    # &#55296;)
    from irivermetrics_offpaper.operators.htmltext import _decode_entities

    s = s.strip()
    if s.startswith("<![CDATA[") and s.endswith("]]>"):
        return s[9:-3].strip()
    return _decode_entities(s)


def parse_sitemap(body) -> dict:
    """One sitemap body (str or bytes; gzip/zlib sniffed) ->
    {'kind': 'urlset'|'sitemapindex'|None, 'entries': [{'loc',
    'lastmod', 'changefreq', 'priority'}...], 'error': str|None}.
    Never raises."""
    out: dict = {"kind": None, "entries": [], "error": None}
    try:
        if body is None:
            out["error"] = "NULL body"
            return out
        if isinstance(body, (bytes, bytearray, memoryview)):
            b = bytes(body)
            if b[:2] == b"\x1f\x8b":
                # the warc kernel's member walk: multi-member gzip
                # (cat'd / block-gzip output) decodes FULLY — a single
                # decompressobj pass silently drops unused_data
                from irivermetrics_offpaper.kernels import warc as warck

                try:
                    parts = list(warck.iter_gzip_members(b, cap=_MAX_BODY + 1))
                except warck.WarcError as e:
                    out["error"] = f"gzip: {e}"
                    return out
                b = b"".join(parts)
                if len(b) > _MAX_BODY:
                    out["error"] = "decompressed body exceeds the spec cap"
                    return out
            text = b.decode("utf-8", "replace")
        else:
            text = str(body)
        if len(text) > _MAX_BODY:
            out["error"] = "body exceeds the spec cap"
            return out
        if _ROOT_INDEX_RE.search(text):
            out["kind"] = "sitemapindex"
        elif _ROOT_URLSET_RE.search(text):
            out["kind"] = "urlset"
        else:
            out["error"] = "no urlset/sitemapindex root element"
            return out
        for inner in _iter_blocks(text):
            if len(out["entries"]) >= _MAX_ENTRIES:
                out["error"] = f"entry count exceeds {_MAX_ENTRIES} (truncated)"
                break
            fields = {"loc": None, "lastmod": None, "changefreq": None,
                      "priority": None}
            for fm in _FIELD_RE.finditer(inner):
                key = fm.group(1).lower()
                if fields[key] is None:
                    fields[key] = _decode_xml_text(fm.group(2))
            if fields["loc"]:
                out["entries"].append(fields)
        return out
    except Exception as e:  # hostile input: inventory, don't fail tasks
        out["error"] = f"{type(e).__name__}: {e}"
        return out


_ENTRY_SCHEMA = ("host string, kind string, loc string, lastmod string, "
                 "changefreq string, priority double, sitemap_error string")


def parse_sitemaps_df(sitemaps: DataFrame, host_col: str = "host",
                      body_col: str = "sitemap_xml") -> DataFrame:
    """(host, sitemap_xml) -> one row per entry: (host, kind, loc,
    lastmod, changefreq, priority, sitemap_error). ``kind`` =
    'sitemapindex' rows are pointers to child sitemaps (feed them back
    through a fetch + this operator — the index recursion is a crawl
    I/O step, not a parse step). A body with no parseable entries
    emits one dead-letter row. One Arrow pass; each body parsed
    once."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                d = parse_sitemap(body)
                if not d["entries"]:
                    rows.append(dict(host=host, kind=d["kind"], loc=None,
                                     lastmod=None, changefreq=None,
                                     priority=None,
                                     sitemap_error=d["error"] or "no entries"))
                    continue
                for e in d["entries"]:
                    try:
                        pr = (float(e["priority"])
                              if e["priority"] is not None else None)
                    except ValueError:
                        pr = None
                    rows.append(dict(host=host, kind=d["kind"], loc=e["loc"],
                                     lastmod=e["lastmod"],
                                     changefreq=e["changefreq"], priority=pr,
                                     sitemap_error=d["error"]))
            yield pd.DataFrame(rows, columns=["host", "kind", "loc",
                                              "lastmod", "changefreq",
                                              "priority", "sitemap_error"])

    return (sitemaps.select(F.col(host_col).alias(host_col),
                            F.col(body_col).alias(body_col))
            .mapInPandas(kernel, schema=_ENTRY_SCHEMA))


def coverage_gaps(urls: DataFrame, sitemap_entries: DataFrame,
                  url_col: str = "url_norm") -> DataFrame:
    """Sitemap entries whose ``loc`` has no row in the URL table —
    the publisher-declared pages the crawl is missing. Normalizes the
    loc with the same urlops canonicalization the URL table uses, so
    the anti-join compares like with like; one shuffle."""
    from irivermetrics_offpaper.operators import urlops

    ent = (sitemap_entries
           .where(F.col("loc").isNotNull() & (F.col("kind") == "urlset"))
           .withColumn("_loc_norm", urlops.normalized_url(F.col("loc")))
           # a loc the normalizer rejects (NULL key) can't be compared
           # — a NULL never anti-joins away, so it would be reported
           # as a gap even when the crawl has that page; drop it here
           # rather than inflate the gap count with uncomparables
           .where(F.col("_loc_norm").isNotNull()))
    return (ent.join(urls.select(F.col(url_col).alias("_loc_norm")).distinct(),
                     "_loc_norm", "left_anti")
            .drop("_loc_norm"))
