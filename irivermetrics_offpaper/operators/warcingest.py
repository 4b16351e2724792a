"""Distributed WARC ingest — the crawl front door ahead of
operators/htmltext.py: Common-Crawl-style ``*.warc.gz`` archives in,
one row per record out, with HTTP responses split and charset-decoded
so the text surface (html_text → urlops → dedup → quality) starts from
honest strings.

Spark shape: ``binaryFile`` scan → ONE Arrow-batched ``mapInPandas``
stage per step (plan-asserted in tests). The parallel grain is the
FILE: per-record gzip members are not byte-range splittable without an
external index, and the production layout (Common Crawl: ~64k files of
~1 GB per crawl) is many-files — at 100 TB the scan fans out across
files, not within them, which is exactly how the ecosystem's own
readers schedule WARC work. Record parsing streams member-by-member,
so executor memory is bounded by the largest record, not the file.

Never raises: container-level failures produce a single dead-letter
row (``warc_error`` set, other fields NULL) and per-record HTTP/charset
problems land in their row's error column, mirroring the codec
quarantine contract.

Reference: the reference engine has no web surface; this is
beyond-reference LLM-pipeline infrastructure (SURVEY §2.12 L37).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

from irivermetrics_offpaper.kernels import warc as warck

RECORD_SCHEMA = StructType([
    StructField("warc_file", StringType()),
    StructField("record_offset", LongType()),
    StructField("warc_type", StringType()),
    StructField("record_id", StringType()),
    StructField("target_uri", StringType()),
    StructField("warc_date", StringType()),
    StructField("warc_content_type", StringType()),
    StructField("http_status", IntegerType()),
    StructField("http_content_type", StringType()),
    StructField("payload", BinaryType()),
    StructField("warc_error", StringType()),
])


def _records_from_file(path: str, raw: bytes, payload_cap: int) -> Iterator[dict]:
    try:
        for rec in warck.iter_records(raw):
            if rec["error"] is not None:
                yield {"warc_file": path, "record_offset": rec["offset"],
                       "warc_type": None, "record_id": None, "target_uri": None,
                       "warc_date": None, "warc_content_type": None,
                       "http_status": None, "http_content_type": None,
                       "payload": None, "warc_error": rec["error"]}
                continue
            h = rec["headers"]
            wtype = h.get("warc-type")
            payload = rec["payload"]
            status = None
            http_ct = None
            err = None
            if wtype == "response" and h.get("content-type", "").startswith(
                    "application/http"):
                status, hh, body, err = warck.split_http_response(payload)
                if status is not None:
                    http_ct = hh.get("content-type")
                    payload = body
            if len(payload) > payload_cap:
                payload = payload[:payload_cap]
                err = (err + "; " if err else "") + "payload truncated to cap"
            yield {"warc_file": path, "record_offset": rec["offset"],
                   "warc_type": wtype, "record_id": h.get("warc-record-id"),
                   "target_uri": h.get("warc-target-uri"),
                   "warc_date": h.get("warc-date"),
                   "warc_content_type": h.get("content-type"),
                   "http_status": status, "http_content_type": http_ct,
                   "payload": payload, "warc_error": err}
    except Exception as e:  # the never-raises contract
        yield {"warc_file": path, "record_offset": None, "warc_type": None,
               "record_id": None, "target_uri": None, "warc_date": None,
               "warc_content_type": None, "http_status": None,
               "http_content_type": None, "payload": None,
               "warc_error": f"{type(e).__name__}: {e}"}


def read_warc(spark: SparkSession, path: str,
              payload_cap: int = 64 * 1024 * 1024) -> DataFrame:
    """One row per WARC record under ``path`` (``*.warc`` /
    ``*.warc.gz``, case-insensitive). Response records arrive with the
    HTTP envelope split off: ``http_status`` / ``http_content_type``
    set and ``payload`` = the (de-chunked) body."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.[wW][aA][rR][cC]*")
             .option("recursiveFileLookup", "true")
             .load(path)
             .select("path", "content"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path_, raw in zip(pdf["path"], pdf["content"]):
                rows.extend(_records_from_file(path_, bytes(raw), payload_cap))
            yield pd.DataFrame(rows, columns=[f.name for f in RECORD_SCHEMA.fields])

    return files.mapInPandas(kernel, RECORD_SCHEMA)


def with_decoded_text(records: DataFrame, payload_col: str = "payload",
                      ct_col: str = "http_content_type") -> DataFrame:
    """Charset-sniffed text decode (BOM → Content-Type → meta charset →
    strict-UTF-8 probe → latin-1): adds ``text`` and ``charset``.
    Decode never fails (replacement characters, latin-1 total
    fallback); NULL payloads stay NULL."""
    fields = records.schema.fields + [StructField("text", StringType()),
                                      StructField("charset", StringType())]
    schema = StructType(fields)
    cols = [f.name for f in records.schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, charsets = [], []
            for raw, ct in zip(pdf[payload_col], pdf[ct_col]):
                if raw is None:
                    texts.append(None)
                    charsets.append(None)
                    continue
                text, cs = warck.decode_text(bytes(raw), ct)
                texts.append(text)
                charsets.append(cs)
            out = pdf.copy()
            out["text"] = texts
            out["charset"] = charsets
            yield out

    return records.mapInPandas(kernel, schema).select(*cols, "text", "charset")


def read_warc_responses(spark: SparkSession, path: str, *,
                        ok_only: bool = True, html_only: bool = True,
                        **kw) -> DataFrame:
    """The curation-ready slice: successful HTML response records,
    charset-decoded. Filters run BEFORE the decode stage so non-HTML
    payloads (images, robots fetches) never pay the text pass."""
    recs = read_warc(spark, path, **kw).filter(
        (F.col("warc_type") == "response") & F.col("warc_error").isNull())
    if ok_only:
        recs = recs.filter((F.col("http_status") >= 200) & (F.col("http_status") < 300))
    if html_only:
        recs = recs.filter(F.coalesce(F.lower(F.col("http_content_type")), F.lit(""))
                           .startswith("text/html"))
    return with_decoded_text(recs)
