"""CDXJ capture-index parsing — the OTHER artifact CommonCrawl ships
beside the ``.warc.gz`` files: per-crawl URL indexes (``cc-index``),
one line per capture, ``<SURT key> <14-digit timestamp> <JSON>``,
where the JSON block names the capture's url/status/mime/digest and,
crucially, WHERE the record lives (``filename``, ``offset``,
``length`` of its gzip member). Real pipelines never scan 100 TB of
WARC to find the pages they want — they query the index and fetch
ONLY the named byte ranges (each record is its own gzip member
precisely so a reader can seek to ``offset`` and inflate ``length``
bytes, :func:`operators.warc.split_warc_gz`'s layout).

Three pieces:

- :func:`parse_cdxj` — index lines → relational capture rows (Arrow
  kernel, tolerant: malformed lines or JSON yield no row, never an
  exception — the WARC-kernel contract).
- :func:`functions.urls.surt` — the SURT sort key as pure columns,
  so engine-side URLs join the index without a Python worker.
- :func:`fetch_plan` — the selective-fetch planner: admitted captures
  grouped by WARC file with record counts, bytes-to-read, and the
  covering offset span — the job manifest a range-fetching reader
  executes. Grouping is one shuffle on the filename key; planning
  100 TB of crawl costs the INDEX's size, not the crawl's.

Reference has no crawl surface; §2.9 extension (X202).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.rows import flat_map_rows


def synthesize_cdxj_line(
    surt_key: str,
    timestamp: str,
    *,
    url: str,
    status: int,
    mime: str,
    digest: str,
    filename: str,
    offset: int,
    length: int,
) -> str:
    """One valid CDXJ line (fields as the public cc-index writes
    them: status/offset/length are JSON STRINGS, not numbers)."""
    block = {
        "url": url,
        "mime": mime,
        "status": str(status),
        "digest": digest,
        "length": str(length),
        "offset": str(offset),
        "filename": filename,
    }
    return f"{surt_key} {timestamp} {json.dumps(block, sort_keys=True)}"


def parse_cdxj_line(line: str):
    """(surt, ts, url, status, mime, digest, filename, offset,
    length) from one CDXJ line, or None when malformed (missing
    fields, bad JSON, non-numeric offset/length — tolerance, never
    raises)."""
    try:
        surt_key, ts, block = (line or "").split(" ", 2)
        d = json.loads(block)
        return (
            surt_key,
            ts,
            d.get("url"),
            int(d["status"]) if str(d.get("status", "")).isdigit() else None,
            d.get("mime"),
            d.get("digest"),
            d["filename"],
            int(d["offset"]),
            int(d["length"]),
        )
    except (ValueError, KeyError, TypeError):
        return None


def parse_cdxj(
    df: DataFrame,
    line_col: str = "cdx_line",
    *,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """One input row (a CDXJ index line) → one capture row:
    ``id_cols…, surt, ts, url, status, mime, digest, warc_filename,
    offset, length``. Pure Arrow-batched map — the same
    embarrassingly-parallel shape as the WARC record kernel; a 100 TB
    crawl's index is itself just files of lines."""

    def parse(line):
        parsed = parse_cdxj_line(line)
        return () if parsed is None else (parsed,)

    return flat_map_rows(
        df,
        [line_col],
        parse,
        [
            T.StructField("surt", T.StringType()),
            T.StructField("ts", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("mime", T.StringType()),
            T.StructField("digest", T.StringType()),
            T.StructField("warc_filename", T.StringType()),
            T.StructField("offset", T.LongType()),
            T.StructField("length", T.LongType()),
        ],
        keep=id_cols,
    )


def fetch_plan(
    captures: DataFrame,
    *,
    filename_col: str = "warc_filename",
    offset_col: str = "offset",
    length_col: str = "length",
) -> DataFrame:
    """Selective-fetch manifest from admitted index captures: one row
    per WARC file with ``n_records``, ``bytes_to_read``
    (Σ member lengths — what a range-fetching reader actually
    transfers), and the covering ``first_offset``/``last_end`` span.
    One hash aggregation on the filename key; the plan's size is the
    number of distinct WARC files touched, never the crawl's."""
    return captures.groupBy(
        F.col(filename_col).alias("warc_filename")
    ).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(length_col).alias("bytes_to_read"),
        F.min(offset_col).alias("first_offset"),
        F.max(F.col(offset_col) + F.col(length_col)).alias("last_end"),
    )


def fetch_records_by_index(
    files: DataFrame,
    captures: DataFrame,
    *,
    blob_col: str = "content",
    filename_col: str = "warc_filename",
    offset_col: str = "offset",
    length_col: str = "length",
) -> DataFrame:
    """Execute a selective-fetch plan: slice each admitted capture's
    gzip member out of its WARC file blob (``files``: one row per
    file, ``filename_col`` + ``blob_col``), inflate, and parse the
    record — the engine-local analog of the HTTP range requests a
    remote reader issues against the cc-index.

    Scale shape: the per-file RANGE LISTS (offset/length pairs — a
    few bytes per admitted capture) are aggregated and BROADCAST onto
    the file scan, so the file blobs — the 100 TB side — NEVER
    shuffle; files without admitted captures drop at the join and are
    never read past their footer. Slicing + inflation + parse happen
    inside one Arrow kernel. Output: ``filename_col``, ``offset``,
    plus the :func:`operators.warc.parse_warc_blobs` record columns.
    A range that doesn't decode (stale index, truncated member)
    yields no row — tolerance, never an exception."""
    from workshoop2_etl_spark.operators.warc import (
        WARC_RECORD_FIELDS,
        parse_warc_record,
        split_warc_gz,
    )

    ranges = captures.groupBy(
        F.col(filename_col).alias("__fname")
    ).agg(
        F.collect_list(
            F.struct(
                F.col(offset_col).cast("long").alias("o"),
                F.col(length_col).cast("long").alias("l"),
            )
        ).alias("__ranges")
    )
    joined = files.join(
        F.broadcast(ranges),
        files[filename_col] == ranges["__fname"],
        "inner",
    ).select(files[filename_col], files[blob_col], "__ranges")

    def fetch(blob, ranges):
        blob = blob or b""
        for rng in ranges:
            o, ln = int(rng["o"]), int(rng["l"])
            if o < 0 or ln <= 0 or o + ln > len(blob):
                continue  # stale index entry: skip, not raise
            for rec in split_warc_gz(blob[o : o + ln]):
                parsed = parse_warc_record(rec)
                if parsed is not None:
                    yield (o,) + parsed

    return flat_map_rows(
        joined,
        [blob_col, "__ranges"],
        fetch,
        [T.StructField("offset", T.LongType())] + WARC_RECORD_FIELDS,
        keep=[filename_col],
    )
