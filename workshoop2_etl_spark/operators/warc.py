"""WARC (Web ARChive, ISO 28500) record parsing — the container
format crawled corpora actually arrive in (CommonCrawl ships
petabytes of ``.warc`` files): length-framed records, each a WARC
header block + an HTTP envelope + the payload. This module completes
the crawl-ingest story: WARC bytes → HTTP payload →
:mod:`operators.htmlextract` → text → every downstream text operator.

Design (the codec-ladder pattern):

- **Real parse, stdlib only.** ``split_warc`` walks a file blob by
  the spec's framing — header block to the first CRLFCRLF,
  ``Content-Length`` bytes of body, CRLFCRLF record separator — and
  ``parse_warc_record`` reads the WARC headers plus the nested HTTP
  status line/headers. Tolerant: malformed framing stops the walk or
  yields a None field, never raises.
- **At-scale shape.** A 100 TB crawl reads whole ``.warc`` files
  (Spark ``binaryFile`` source: one row per file, payload in the
  ``content`` column) and fans records out per file — embarrassingly
  parallel, no shuffle. ``parse_warc_blobs`` is that kernel
  (Arrow row shell ``flat_map_rows``, one input row → N record rows).
- **Closed-form fixture.** ``synthesize_warc_record`` wraps a page in
  a deterministic WARC/1.0 response record (URI carries the doc id),
  so the registered query recovers doc_id FROM the parsed record and
  the whole pipeline — frame → HTTP → HTML → text — oracle-checks
  against the same closed form as ``html_extract_documents``.

The reference has no crawl handling; §2.9 extension surface.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.rows import flat_map_rows, map_rows

_CRLF2 = b"\r\n\r\n"


def chunk_http_body(data: bytes, *, chunk_size: int = 97) -> bytes:
    """Encode ``data`` as an RFC 9112 chunked transfer body: hex
    size line + chunk + CRLF per chunk, ``0`` terminator, empty
    trailer. The odd default size keeps chunk boundaries off any
    natural token boundary in fixtures."""
    out = bytearray()
    for i in range(0, len(data), chunk_size):
        chunk = data[i : i + chunk_size]
        out += f"{len(chunk):x}".encode("ascii") + b"\r\n" + chunk + b"\r\n"
    out += b"0\r\n\r\n"
    return bytes(out)


def synthesize_warc_record(
    doc_id: int,
    html: str | bytes,
    *,
    host: str,
    status: int = 200,
    location: str | None = None,
    content_encoding: str | None = None,
    chunked: bool = False,
    chunk_size: int = 97,
    etag: str | None = None,
    last_modified: str | None = None,
    content_type: str | None = None,
) -> bytes:
    """One valid WARC/1.0 ``response`` record: WARC headers (target
    URI ``http://{host}/page{doc_id}``, deterministic record id),
    HTTP/1.1 envelope, HTML payload. Byte framing follows the
    spec exactly (Content-Length counts the HTTP envelope + payload;
    records separated by CRLFCRLF).

    Real crawls store response bytes AS FETCHED, so the envelope can
    carry ``Content-Encoding: gzip|deflate`` (compressed payload)
    and/or ``Transfer-Encoding: chunked`` (hex-size-framed body) —
    both synthesizable here to fixture the decode path; ``status`` /
    ``location`` synthesize redirect records (3xx + Location);
    ``etag`` / ``last_modified`` emit the RFC 9110 validator headers
    (round 12 — a ``status=304`` record with an empty body fixtures
    the conditional-fetch revisit path).

    ``content_type`` overrides the HTTP Content-Type header (default
    ``text/html; charset=utf-8``), and ``html`` may be raw ``bytes``
    for non-text payloads — round 13, the PDF-in-WARC rung: real
    crawls carry ``application/pdf`` responses whose bodies are
    binary documents, not markup."""
    payload = html if isinstance(html, bytes) else html.encode("utf-8")
    if content_encoding == "gzip":
        payload = gzip_warc_record(payload)  # same gzip-bytes helper
    elif content_encoding == "deflate":
        payload = zlib.compress(payload)
    elif content_encoding == "br":
        payload = _arrow_compress(payload, "brotli")
    elif content_encoding == "zstd":
        payload = _arrow_compress(payload, "zstd")
    reason = {
        200: "OK",
        301: "Moved Permanently",
        302: "Found",
        304: "Not Modified",
    }.get(status, "Status")
    hdrs = [
        f"HTTP/1.1 {status} {reason}".encode("ascii"),
        b"Content-Type: "
        + (content_type or "text/html; charset=utf-8").encode("ascii"),
    ]
    if location is not None:
        hdrs.append(b"Location: " + location.encode("ascii"))
    if etag is not None:
        hdrs.append(b"ETag: " + etag.encode("ascii"))
    if last_modified is not None:
        hdrs.append(b"Last-Modified: " + last_modified.encode("ascii"))
    if content_encoding:
        hdrs.append(
            b"Content-Encoding: " + content_encoding.encode("ascii")
        )
    if chunked:
        payload = chunk_http_body(payload, chunk_size=chunk_size)
        hdrs.append(b"Transfer-Encoding: chunked")
    else:
        hdrs.append(b"Content-Length: " + str(len(payload)).encode())
    http = b"\r\n".join(hdrs) + b"\r\n\r\n" + payload
    # Content-Length deliberately NOT last: CommonCrawl places digest /
    # IP headers after it, the ordering that exposed the r9 regex bug.
    warc_headers = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:doc-{doc_id:012d}>\r\n"
        f"WARC-Target-URI: http://{host}/page{doc_id}\r\n"
        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
        f"WARC-Block-Digest: sha1:{doc_id:040d}\r\n"
        "WARC-IP-Address: 192.0.2.1\r\n"
        "\r\n"
    ).encode("ascii")
    return warc_headers + http + _CRLF2


def synthesize_wet_record(
    doc_id: int, text: str, *, host: str = "", uri: str | None = None
) -> bytes:
    """One valid WET ``conversion`` record (the CommonCrawl
    plain-text sibling of the ``.warc`` response file — what most
    text pipelines actually consume): WARC/1.0 headers with
    ``WARC-Type: conversion`` and a ``text/plain`` payload holding
    the extracted text directly, NO HTTP envelope. Same framing walk
    parses both; ``parse_warc_record`` returns conversion records
    with NULL http_status and the raw text bytes as payload. The
    target URI is ``http://{host}/page{doc_id}`` unless an explicit
    ``uri`` is given (the export path carries each document's own
    address)."""
    payload = (text or "").encode("utf-8")
    uri = uri if uri is not None else f"http://{host}/page{doc_id}"
    warc_headers = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Record-ID: <urn:uuid:wet-{doc_id:012d}>\r\n"
        f"WARC-Refers-To: <urn:uuid:doc-{doc_id:012d}>\r\n"
        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "WARC-Block-Digest: sha1:0000\r\n"
        "\r\n"
    ).encode("ascii")
    return warc_headers + payload + _CRLF2


def gzip_warc_record(rec: bytes, *, level: int = 6) -> bytes:
    """Compress one record's bytes as a standalone gzip member —
    CommonCrawl's ``.warc.gz`` convention (one member per record, so
    readers can seek to any record without decompressing the file)."""
    co = zlib.compressobj(level, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(rec) + co.flush()


#: Decompression-bomb guard for one HTTP body (64 MiB decoded).
_MAX_DECODED_BODY = 1 << 26
#: Guard for one whole .warc.zst file blob (1 GiB decoded).
_MAX_DECODED_FILE = 1 << 30

#: zstd frame magic (RFC 8878 §3.1.1).
ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"


def _arrow_decompress(
    payload: bytes, codec: str, cap: int = _MAX_DECODED_BODY
) -> bytes | None:
    """Streaming one-shot decode through pyarrow's bundled codecs
    (brotli / zstd — real libbrotli/libzstd, already shipped with the
    engine's Arrow dependency; no standalone ``brotli`` module exists
    in this environment, but the codec does).  Concatenated
    independent frames decode in one read — the CommonCrawl member
    layout.  Returns None on corrupt input, absent pyarrow, or
    output past ``cap`` (decompression-bomb guard) — callers keep
    the raw bytes and label them, per the tolerance contract."""
    try:
        import pyarrow as pa
    except ImportError:  # pragma: no cover - pyarrow is a hard dep
        return None
    try:
        st = pa.CompressedInputStream(pa.BufferReader(payload), codec)
        out = st.read(cap + 1)
    except (OSError, ValueError, pa.lib.ArrowInvalid):
        return None
    if out is None or len(out) > cap:
        return None
    return bytes(out)


def _arrow_compress(payload: bytes, codec: str) -> bytes:
    """Fixture-side twin of :func:`_arrow_decompress` (one frame)."""
    import pyarrow as pa

    return bytes(pa.Codec(codec).compress(payload))


def zstd_warc_record(rec: bytes) -> bytes:
    """Compress one record's bytes as a standalone zstd frame — the
    ``.warc.zst`` member convention (one frame per record, readers
    seek to any record; skippable-frame dictionaries are NOT emitted
    — fixtures are self-contained)."""
    return _arrow_compress(rec, "zstd")


def split_warc(blob: bytes) -> list[bytes]:
    """Walk a ``.warc`` file blob into record byte slices by the
    spec's Content-Length framing. Stops (returning what it has) at
    the first malformed frame rather than guessing."""
    out: list[bytes] = []
    pos = 0
    blob = blob or b""
    while pos < len(blob):
        if not blob.startswith(b"WARC/", pos):
            break
        hdr_end = blob.find(_CRLF2, pos)
        if hdr_end < 0:
            break
        # \r? before $: WARC header lines end CRLF, and under re.M the
        # anchor matches before \n only — without it, Content-Length
        # matched only as the LAST header (real crawls put digest/IP
        # headers after it and the walk silently stopped at record 1).
        m = re.search(
            rb"^Content-Length:[ \t]*(\d+)[ \t]*\r?$",
            blob[pos:hdr_end],
            re.M | re.I,
        )
        if not m:
            break
        body_end = hdr_end + 4 + int(m.group(1))
        if body_end > len(blob):
            break
        out.append(blob[pos:body_end])
        pos = body_end
        # skip the record separator (tolerate missing/short on tail)
        while blob.startswith(b"\r\n", pos):
            pos += 2
    return out


def split_warc_gz(blob: bytes) -> list[bytes]:
    """Walk a ``.warc.gz`` blob — a concatenation of gzip members, one
    WARC record each (the CommonCrawl layout) — and return the record
    byte slices. Each member is inflated with its own
    ``zlib.decompressobj`` (``unused_data`` hands back the next
    member's offset), then framed through :func:`split_warc` so a
    member holding several records, or stray inter-record bytes, still
    parses. Truncated or corrupt members stop the walk with what
    decoded so far — same tolerance contract as the plain path."""
    out: list[bytes] = []
    blob = blob or b""
    pos = 0
    while pos < len(blob) and blob.startswith(b"\x1f\x8b", pos):
        dec = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            member = dec.decompress(blob[pos:])
            member += dec.flush()
        except zlib.error:
            break
        if not dec.eof:  # truncated final member
            break
        out.extend(split_warc(member))
        consumed = len(blob) - pos - len(dec.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return out


def _headers(block: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:
        k, sep, v = line.partition(b":")
        if sep:
            out[k.strip().lower().decode("latin-1")] = v.strip().decode(
                "latin-1"
            )
    return out


def _dechunk_http_body(payload: bytes) -> bytes | None:
    """Reassemble an RFC 9112 chunked body (hex size line, chunk,
    CRLF, ..., 0-terminator). Returns None on any malformed framing
    (bad hex, truncated chunk) — the caller then keeps the raw bytes
    rather than emitting a half-decoded body or raising."""
    out = bytearray()
    pos = 0
    while True:
        nl = payload.find(b"\r\n", pos)
        if nl < 0:
            return None
        size_token = payload[pos:nl].split(b";")[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            return None
        if size == 0:
            return bytes(out)  # trailer section ignored
        start = nl + 2
        end = start + size
        if end > len(payload):
            return None  # truncated chunk
        out += payload[start:end]
        pos = end
        if payload.startswith(b"\r\n", pos):
            pos += 2


def _decode_http_body(
    payload: bytes, hh: dict[str, str]
) -> tuple[bytes, str | None]:
    """Undo the HTTP envelope's byte transformations so downstream
    charset/HTML extraction sees the document bytes, not the wire
    bytes: ``Transfer-Encoding: chunked`` de-chunking first (the
    outer framing), then ``Content-Encoding: gzip|x-gzip|deflate``
    inflation. Every step is tolerant — a malformed chunk frame or a
    corrupt gzip stream keeps the bytes from the previous step, never
    raises (a crawl record must survive ingest whatever the server
    sent).

    ``br`` (RFC 7932 brotli) and ``zstd`` (RFC 8878) bodies decode
    FOR REAL through pyarrow's bundled codecs (round 14) under a
    64 MiB decompression-bomb guard.

    Returns ``(bytes, encoding_stub)``: ``encoding_stub`` is NULL
    when the body is fully decoded, and carries the content-coding
    token (``'br'`` on a corrupt/oversized stream, ``'compress'``,
    …) when the coding is recognized but NOT undone — the X227
    named-stub convention, so undecoded wire bytes can never
    masquerade as document bytes downstream."""
    if "chunked" in hh.get("transfer-encoding", "").lower():
        dechunked = _dechunk_http_body(payload)
        if dechunked is not None:
            payload = dechunked
    ce = hh.get("content-encoding", "").strip().lower()
    if ce in ("gzip", "x-gzip"):
        try:
            payload = zlib.decompress(payload, 16 + zlib.MAX_WBITS)
        except zlib.error:
            pass
    elif ce == "deflate":
        # servers historically sent both zlib-wrapped and raw deflate
        # under this token; try wrapped first, then raw
        try:
            payload = zlib.decompress(payload)
        except zlib.error:
            try:
                payload = zlib.decompress(payload, -zlib.MAX_WBITS)
            except zlib.error:
                pass
    elif ce in ("br", "zstd"):
        # REAL decode via pyarrow's bundled libbrotli/libzstd
        # (round 14); corrupt streams / bomb-guard hits keep the raw
        # bytes WITH the label — "recognized but not undone" must
        # stay visible, unlike the silent gzip tolerance above
        decoded = _arrow_decompress(
            payload, "brotli" if ce == "br" else "zstd"
        )
        if decoded is None:
            return payload, ce
        payload = decoded
    elif ce not in ("", "identity"):
        # compress / anything else: raw bytes kept, VISIBLY labeled
        return payload, ce
    return payload, None


def parse_warc_record(rec: bytes):
    """(warc_type, target_uri, http_status, content_type, payload,
    location, record_id, refers_to, payload_digest, etag,
    last_modified, encoding_stub) from one record's bytes, or None
    if it isn't a WARC record.  ``encoding_stub`` is NULL for fully
    decoded payloads and names the content coding (``'br'`` …) when
    the wire bytes are kept raw (round 14 — the X227 named-stub
    rule for the codec boundary). Non-HTTP records (warcinfo, metadata) come back with
    NULL status and their raw body as payload. HTTP payloads are
    decoded through :func:`_decode_http_body` (chunked / gzip /
    deflate); 3xx redirects surface their ``Location`` header so a
    resolution hop can follow the chain; ``record_id``/``refers_to``/
    ``payload_digest`` carry the WARC identity headers that
    ``revisit`` records (crawl-time duplicate detection) point
    through; ``etag``/``last_modified`` carry the RFC 9110 cache
    validators verbatim (round 12) — what the conditional-fetch
    recrawl planner (:mod:`operators.frontier`) stores in the crawl
    state and replays as ``If-None-Match``/``If-Modified-Since``."""
    rec = rec or b""
    if not rec.startswith(b"WARC/"):
        return None
    hdr_end = rec.find(_CRLF2)
    if hdr_end < 0:
        return None
    wh = _headers(rec[:hdr_end])
    body = rec[hdr_end + 4 :]
    warc_type = wh.get("warc-type", "")
    uri = wh.get("warc-target-uri")
    status = None
    # non-HTTP records (warcinfo, metadata, WET conversion) carry
    # their payload type in the WARC-level Content-Type header; the
    # HTTP branch below overrides with the envelope's when present
    ctype = wh.get("content-type")
    payload = body
    location = None
    etag = None
    last_modified = None
    encoding_stub = None
    if body.startswith(b"HTTP/"):
        http_end = body.find(_CRLF2)
        if http_end >= 0:
            status_line = body[: body.find(b"\r\n")]
            parts = status_line.split(b" ")
            if len(parts) >= 2 and parts[1].isdigit():
                status = int(parts[1])
            hh = _headers(body[:http_end])
            ctype = hh.get("content-type")
            location = hh.get("location")
            etag = hh.get("etag")
            last_modified = hh.get("last-modified")
            payload, encoding_stub = _decode_http_body(
                body[http_end + 4 :], hh
            )
    return (
        warc_type,
        uri,
        status,
        ctype,
        payload,
        location,
        wh.get("warc-record-id"),
        wh.get("warc-refers-to"),
        wh.get("warc-payload-digest"),
        etag,
        last_modified,
        encoding_stub,
    )


#: The record columns :func:`parse_warc_record` returns, in order.
WARC_RECORD_FIELDS = [
    T.StructField("warc_type", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("location", T.StringType()),
    T.StructField("record_id", T.StringType()),
    T.StructField("refers_to", T.StringType()),
    T.StructField("payload_digest", T.StringType()),
    T.StructField("etag", T.StringType()),
    T.StructField("last_modified", T.StringType()),
    T.StructField("encoding_stub", T.StringType()),
]


def parse_warc_blobs(
    df: DataFrame,
    blob_col: str = "content",
    *,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """One input row (a ``.warc`` or ``.warc.gz`` file blob) → one
    output row per contained record: ``warc_type``, ``target_uri``,
    ``http_status``, ``content_type``, ``payload`` (binary),
    ``location`` (3xx redirect target, NULL otherwise). Gzip
    blobs are detected per row by the ``\\x1f\\x8b`` magic and
    member-split (:func:`split_warc_gz`); ``.warc.zst`` blobs by the
    RFC 8878 frame magic and streamed through pyarrow's zstd codec
    (round 14 — the newer CommonCrawl archive convention). HTTP
    payloads arrive DECODED (chunked/gzip/deflate/br/zstd envelopes
    undone inside the kernel; codings that cannot be undone keep
    their bytes under a non-NULL ``encoding_stub``). Pure map —
    records fan out inside the task, no shuffle, no driver
    involvement."""

    def records(blob):
        blob = blob or b""
        if blob.startswith(b"\x1f\x8b"):
            recs_iter = split_warc_gz(blob)
        elif blob.startswith(ZSTD_MAGIC):
            # .warc.zst (round 14): concatenated independent zstd
            # frames decode in ONE pyarrow streaming read, then frame
            # through the plain walk; a corrupt blob yields zero
            # records, not a crash
            plain = _arrow_decompress(blob, "zstd", cap=_MAX_DECODED_FILE)
            recs_iter = split_warc(plain) if plain else []
        else:
            recs_iter = split_warc(blob)
        for rec in recs_iter:
            parsed = parse_warc_record(rec)
            if parsed is not None:
                yield parsed

    return flat_map_rows(
        df, [blob_col], records, WARC_RECORD_FIELDS, keep=id_cols
    )


def resolve_redirects(
    records: DataFrame,
    *,
    uri_col: str = "target_uri",
    status_col: str = "http_status",
    location_col: str = "location",
    max_hops: int = 4,
) -> DataFrame:
    """Follow 3xx redirect chains across a crawl's fetched records:
    one row per input URI → ``(uri_col, final_uri, n_hops,
    final_status)`` where ``final_uri`` is the chain's end (the URL
    the content actually lands under — the id a dedup/merge step must
    key on), ``n_hops`` how many redirects were followed, and
    ``final_status`` the status AT the final URI (NULL when the chain
    dangles off the fetched set). ``Location`` values are resolved
    against the redirecting URI first (:func:`functions.urls.
    resolve_href` — real servers send relative Locations), so chains
    survive ``Location: /new`` and ``Location: ../x``.

    Scale shape: redirect chains in real crawls are shallow (HTTP
    clients cap at 5–10), so this is ``max_hops`` bounded hash joins
    on the URI key — each hop advances EVERY unresolved chain one
    step, never per-chain iteration. A cycle or an over-long chain
    simply stops advancing (``final_status`` stays 3xx for the caller
    to filter). Duplicate fetches of one URI collapse to the first.
    (r10 verdict item 7 — engine extension; reference has no crawl
    surface.)"""
    from workshoop2_etl_spark.functions.urls import resolve_href

    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    edges = (
        records.select(
            F.col(uri_col).alias("__uri"),
            F.col(status_col).alias("__st"),
            F.when(
                F.col(location_col).isNotNull(),
                resolve_href(F.col(uri_col), F.col(location_col)),
            ).alias("__loc"),
        )
        .dropDuplicates(["__uri"])
    )
    m = edges.select(
        F.col("__uri").alias(uri_col),
        F.col("__uri").alias("final_uri"),
        F.lit(0).cast("long").alias("n_hops"),
        F.col("__st").alias("final_status"),
        F.col("__loc").alias("__next"),
    )
    is_redirect = (
        F.col("final_status").isNotNull()
        & F.col("final_status").between(300, 399)
        & F.col("__next").isNotNull()
    )
    for _ in range(max_hops):
        stepped = m.join(
            edges.withColumnRenamed("__uri", "__to"),
            m["__next"] == F.col("__to"),
            "left",
        )
        m = stepped.select(
            uri_col,
            F.when(is_redirect, F.col("__next"))
            .otherwise(F.col("final_uri"))
            .alias("final_uri"),
            F.when(is_redirect, F.col("n_hops") + 1)
            .otherwise(F.col("n_hops"))
            .alias("n_hops"),
            F.when(is_redirect, F.col("__st"))
            .otherwise(F.col("final_status"))
            .alias("final_status"),
            F.when(is_redirect, F.col("__loc"))
            .otherwise(F.lit(None).cast("string"))
            .alias("__next"),
        )
    return m.drop("__next")


def synthesize_revisit_record(
    doc_id: int,
    *,
    host: str,
    refers_to_id: str,
    refers_to_uri: str,
    payload_digest: str,
) -> bytes:
    """One WARC/1.0 ``revisit`` record — the crawl-time duplicate
    mechanism CommonCrawl actually ships (identical-payload-digest
    profile, WARC spec §6.7.2): a re-fetch whose content matched an
    earlier capture stores NO body, just the WARC identity headers
    pointing at the original (``WARC-Refers-To`` record id,
    ``WARC-Refers-To-Target-URI``, the shared
    ``WARC-Payload-Digest``). Downstream, content materializes by
    JOINING back to the referred response — never by re-storing
    bytes."""
    warc_headers = (
        "WARC/1.0\r\n"
        "WARC-Type: revisit\r\n"
        f"WARC-Record-ID: <urn:uuid:revisit-{doc_id:012d}>\r\n"
        f"WARC-Target-URI: http://{host}/page{doc_id}\r\n"
        "WARC-Date: 2024-02-01T00:00:00Z\r\n"
        f"WARC-Refers-To: {refers_to_id}\r\n"
        f"WARC-Refers-To-Target-URI: {refers_to_uri}\r\n"
        f"WARC-Payload-Digest: {payload_digest}\r\n"
        'WARC-Profile: <http://netpreserve.org/warc/1.0/revisit/'
        'identical-payload-digest>\r\n'
        "Content-Type: application/http; msgtype=response\r\n"
        "Content-Length: 0\r\n"
        "\r\n"
    ).encode("ascii")
    return warc_headers + _CRLF2


def materialize_revisits(parsed: DataFrame) -> DataFrame:
    """Resolve ``revisit`` records to their stored content: response
    records pass through with their own payload; each revisit record
    joins the response it refers to (``refers_to`` → ``record_id``)
    and borrows that record's payload, keeping its OWN target URI and
    a ``fetched_as='revisit'`` marker. One hash join on the record-id
    key — the revisit side carries no payload bytes into the shuffle
    (ids only until the join), which is the point of the format at
    100 TB: re-fetched duplicates cost header rows, not content
    copies. Revisits whose referent is outside the parsed set drop
    (their content genuinely isn't here)."""
    responses = parsed.where(F.col("warc_type") == "response")
    revisits = parsed.where(F.col("warc_type") == "revisit").select(
        F.col("target_uri").alias("revisit_uri"),
        F.col("refers_to").alias("__ref"),
    )
    borrowed = revisits.join(
        responses.select(
            F.col("record_id").alias("__ref"),
            F.col("http_status"),
            F.col("content_type"),
            F.col("payload"),
        ),
        "__ref",
    ).select(
        F.lit("revisit").alias("fetched_as"),
        F.col("revisit_uri").alias("target_uri"),
        "http_status",
        "content_type",
        "payload",
    )
    own = responses.select(
        F.lit("response").alias("fetched_as"),
        "target_uri",
        "http_status",
        "content_type",
        "payload",
    )
    return own.unionByName(borrowed)


#: The warcinfo record real WET files open with — prepended to every
#: exported file blob so ingest-side filters see the shipped layout.
WET_WARCINFO = (
    b"WARC/1.0\r\n"
    b"WARC-Type: warcinfo\r\n"
    b"Content-Type: application/warc-fields\r\n"
    b"Content-Length: 14\r\n"
    b"\r\n"
    b"format: WARC/1"
    b"\r\n\r\n"
)


def export_wet(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    uri_col: str | None = None,
    host: str = "export.local",
    per_file: int = 64,
    gzip_members: bool = False,
) -> DataFrame:
    """The crawl chapter's WRITE path: a cleaned corpus exported as
    WET files — one output row per file blob (``file_no``,
    ``content`` binary, ``n_records``), each blob a warcinfo-headed
    concatenation of spec-framed ``conversion`` records
    (``.wet.gz``-style one-gzip-member-per-record when
    ``gzip_members``), byte-compatible with :func:`parse_warc_blobs`
    and any standard WET reader. Each document's URI is its own
    ``uri_col`` when given, else ``http://{host}/page{id}``.

    Scale shape: record synthesis is an Arrow-batched pure map; file
    assignment is ``floor(id / per_file)`` — contiguous id ranges
    (floor, so negative ids bucket consistently), file sizes bounded
    WITHOUT a global sort — and the only shuffle is the per-file
    fold (sorted by id inside each file for deterministic bytes).
    NULL text exports as an empty payload rather than dropping the
    record (the id set is the contract)."""
    if per_file < 1:
        raise ValueError(f"per_file must be >= 1, got {per_file}")

    def to_record(i, text, *uri):
        rec = synthesize_wet_record(
            int(i), text, host=host, uri=str(uri[0]) if uri else None
        )
        return int(i), gzip_warc_record(rec) if gzip_members else rec

    recs = map_rows(
        df,
        [id_col, text_col] + ([uri_col] if uri_col else []),
        to_record,
        [
            T.StructField("__id", T.LongType()),
            T.StructField("__rec", T.BinaryType()),
        ],
        keep=[],
    )
    head = gzip_warc_record(WET_WARCINFO) if gzip_members else WET_WARCINFO
    return (
        recs.groupBy(
            F.floor(F.col("__id") / per_file).cast("long").alias("file_no")
        )
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("__id", "__rec"))),
                F.lit(head),
                lambda acc, x: F.concat(acc, x["__rec"]),
            ).alias("content"),
            F.count(F.lit(1)).alias("n_records"),
        )
    )
