"""ZIP archive ingest — the bundle format (dataset dumps, scraped
bundles) next to tar/WebDataset shards. Same distributed shape as the
WARC/tar ingests: ``binaryFile`` scan (file-grain parallelism — many
medium archives, the layout these corpora ship in), one mapInPandas
parse over the from-scratch central-directory kernel, and a
dead-letter contract: a corrupt archive yields ONE error row; a
corrupt/unsupported MEMBER yields a per-member error row while the
rest of the archive still extracts (zip's central directory makes
per-member recovery possible — tar, with no index, dead-letters the
whole file)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from irivermetrics_offpaper.kernels import zipfmt

_MEMBER_SCHEMA = ("archive_path string, name string, bytes binary, "
                  "size bigint, method int, error string")


def read_zip_members(spark: SparkSession, path: str,
                     max_member_bytes: int = 1 << 30) -> DataFrame:
    """Zip files under ``path`` → one row per member: (archive_path,
    name, bytes, size, method, error). Filter ``error IS NULL`` for
    data; ``error IS NOT NULL`` is the quarantine stream (whole-archive
    rows carry a NULL name)."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.[zZ][iI][pP]")
             .option("recursiveFileLookup", "true")
             .load(path)
             .select("path", "content"))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                blob = bytes(rec.content)
                try:
                    entries = zipfmt.list_zip(blob)
                except ValueError as e:
                    rows.append(dict(archive_path=rec.path, name=None,
                                     bytes=None, size=None, method=None,
                                     error=str(e)))
                    continue
                for entry in entries:
                    if entry["name"].endswith("/") and entry["size"] == 0:
                        continue  # directory entry
                    try:
                        data = zipfmt.read_member(blob, entry,
                                                  max_member_bytes)
                        err = None
                    except ValueError as e:
                        data, err = None, str(e)
                    rows.append(dict(archive_path=rec.path,
                                     name=entry["name"], bytes=data,
                                     size=entry["size"],
                                     method=entry["method"], error=err))
            yield pd.DataFrame(rows, columns=["archive_path", "name",
                                              "bytes", "size", "method",
                                              "error"])

    return files.mapInPandas(parse, schema=_MEMBER_SCHEMA)
