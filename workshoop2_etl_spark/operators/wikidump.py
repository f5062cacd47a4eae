"""MediaWiki XML dump ingest, bz2 multistream — the canonical
pretraining-corpus source (every public LLM data recipe starts from
a Wikipedia dump) the engine lacked. Built from two PUBLIC formats:

- the MediaWiki XML export format (mediawiki.org/wiki/Help:Export —
  ``<mediawiki><siteinfo/><page><title/><ns/><id/><redirect/>
  <revision><text/></revision></page>…``), and
- the enwiki "multistream" layout: a ``.xml.bz2`` that is a
  CONCATENATION of independent bz2 streams — a header stream with
  the ``<mediawiki>`` open tag + ``<siteinfo>``, then page-block
  streams each holding ~100 whole ``<page>`` elements, then a
  trailer stream with ``</mediawiki>`` — so readers can seek to any
  stream and decompress it alone (the companion plaintext index maps
  ``offset:page_id:title``).

Design (the WARC-module pattern, stdlib only):

- **Real stream walk.** :func:`split_bz2_streams` decompresses each
  independent member via ``bz2.BZ2Decompressor`` (``unused_data``
  hands back the next member's offset), tolerant of truncation —
  same contract as ``split_warc_gz``.
- **Tolerant page extraction.** Page-block streams are NOT
  well-formed XML documents (no root element), so the extractor is
  a regex walk over ``<page>…</page>`` spans with per-field reads —
  exactly what the tolerant sitemap/CDX parsers do; a malformed page
  yields no row, never an exception. The page id is the PAGE's
  ``<id>`` (first one), not the revision's (they nest).
- **At-scale shape.** A dump is files → ``binaryFile`` → per-file
  Arrow kernel fanning out pages inside the task: embarrassingly
  parallel, blob bytes never shuffle.
- **Oracle-able wikitext cleanup.** :func:`wikitext_to_text` is a
  PURE-COLUMN regexp chain over the Java∩RE2 shared subset (lazy
  quantifiers, ``(?s)``/``(?m)`` inline flags — both engines), with
  template removal as a FIXED-iteration innermost-first fold
  (regexes can't recurse; K passes remove K nesting levels, K
  documented) — so the registered query replays bit-for-bit in
  DuckDB. A smarter wikitext parser would be an Arrow kernel; this
  is the cross-engine-checkable default, same trade as
  ``split_sentences``.

Reference has no crawl/corpus surface; §2.9 extension (X220).
"""

from __future__ import annotations

import bz2
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.rows import flat_map_rows

#: Fixed template-removal passes: K passes strip K nesting levels of
#: ``{{…}}``. Real dumps rarely nest deeper than 3; deeper leftovers
#: remain visible in the output (never silently truncated text).
TEMPLATE_PASSES = 3

_PAGE_RE = re.compile(rb"<page>(.*?)</page>", re.S)
_TITLE_RE = re.compile(rb"<title>(.*?)</title>", re.S)
_NS_RE = re.compile(rb"<ns>(-?\d+)</ns>")
_ID_RE = re.compile(rb"<id>(\d+)</id>")
_REDIRECT_RE = re.compile(rb"<redirect\b")
_TEXT_RE = re.compile(rb"<text[^>]*>(.*?)</text>", re.S)


def split_bz2_streams(blob: bytes) -> list[bytes]:
    """Walk a multistream ``.bz2`` blob — a concatenation of
    independent bz2 members — and return each member's DECOMPRESSED
    bytes. Truncated or corrupt members stop the walk with what
    decoded so far (tolerance, the split_warc_gz contract)."""
    out: list[bytes] = []
    blob = blob or b""
    pos = 0
    while pos < len(blob) and blob.startswith(b"BZh", pos):
        dec = bz2.BZ2Decompressor()
        try:
            data = dec.decompress(blob[pos:])
        except OSError:
            break
        if not dec.eof:  # truncated final member
            break
        out.append(data)
        consumed = len(blob) - pos - len(dec.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return out


def _unescape_xml(b: bytes) -> str:
    """The five XML character entities plus decimal/hex numeric
    refs — the inverse of what the export format escapes inside
    ``<text>``/``<title>``."""
    s = b.decode("utf-8", errors="replace")
    s = re.sub(
        r"&#(\d+);", lambda m: chr(int(m.group(1))), s
    )
    s = re.sub(
        r"&#x([0-9a-fA-F]+);", lambda m: chr(int(m.group(1), 16)), s
    )
    return (
        s.replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&apos;", "'")
        .replace("&amp;", "&")
    )


#: The page columns :func:`parse_wiki_pages` returns, in order.
PAGE_FIELDS = [
    T.StructField("page_id", T.LongType()),
    T.StructField("ns", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("is_redirect", T.BooleanType()),
    T.StructField("text_wiki", T.StringType()),
]


def parse_wiki_pages(xml: bytes) -> list[tuple]:
    """All ``<page>`` elements of one decompressed stream →
    [(page_id, ns, title, is_redirect, text_wiki)]. Pages missing an
    id or title yield no row (tolerance)."""
    rows = []
    for m in _PAGE_RE.finditer(xml or b""):
        body = m.group(1)
        tm = _TITLE_RE.search(body)
        im = _ID_RE.search(body)  # page id: the FIRST <id> (rev nests)
        if tm is None or im is None:
            continue
        nm = _NS_RE.search(body)
        xm = _TEXT_RE.search(body)
        rows.append(
            (
                int(im.group(1)),
                int(nm.group(1)) if nm else 0,
                _unescape_xml(tm.group(1)),
                _REDIRECT_RE.search(body) is not None,
                _unescape_xml(xm.group(1)) if xm else None,
            )
        )
    return rows


def parse_wikidump_blobs(
    df: DataFrame,
    blob_col: str = "content",
    *,
    id_cols: list[str] | None = None,
    keep_redirects: bool = False,
) -> DataFrame:
    """One input row (a ``.xml.bz2`` multistream file blob) → one
    output row per contained page: ``page_id`` (long), ``ns`` (int),
    ``title``, ``is_redirect``, ``text_wiki``. Redirect stubs are
    dropped by default (they carry no trainable text — the standard
    corpus-prep choice); ``keep_redirects=True`` keeps them flagged.
    Pure Arrow map — pages fan out inside the task, no shuffle, no
    driver involvement. Plain (non-bz2) XML blobs parse too (the
    decompressed and raw paths share the page walk)."""

    def pages(blob):
        blob = blob or b""
        bz = blob.startswith(b"BZh")
        for xml in split_bz2_streams(blob) if bz else [blob]:
            for page in parse_wiki_pages(xml):
                if keep_redirects or not page[3]:
                    yield page

    return flat_map_rows(df, [blob_col], pages, PAGE_FIELDS, keep=id_cols)


#: The wikitext→plain rule chain, ONE source of truth for both
#: engines: (pattern, replacement) in the Java∩RE2 shared subset
#: (lazy quantifiers, (?s)/(?m) inline flags, explicit whitespace
#: classes — never \s, whose class differs between the engines).
#: Replacements use $1; the SQL generator rewrites to RE2's \1.
_WIKITEXT_RULES: list[tuple[str, str]] = (
    [(r"\{\{[^{}]*\}\}", "")] * TEMPLATE_PASSES  # innermost-first ×K
) + [
    (r"\[\[(File|Image):[^\[\]]*\]\]", ""),  # media links: whole
    (r"\[\[(?:[^\[\]|]*\|)?([^\[\]|]*)\]\]", "$1"),  # [[t|l]] → l
    (r"(?s)<ref[^>]*/>", ""),
    (r"(?s)<ref[^>]*>.*?</ref>", ""),
    ("(?m)^=+[ \\t]*(.*?)[ \\t]*=+[ \\t]*$", "$1"),  # headings
    (r"<[^>]+>", ""),  # residual markup tags
    ("'{2,}", ""),  # bold/italic quote runs
    ("&nbsp;", " "),
    ("(?m)[ \\t]+$", ""),  # trailing line blanks
    ("\n{3,}", "\n\n"),  # collapse blank-line runs
    ("^[ \\t\\r\\n\\f]+|[ \\t\\r\\n\\f]+$", ""),  # trim ends
]


def wikitext_to_text(col: Column) -> Column:
    """Wikitext → plain text: the :data:`_WIKITEXT_RULES` chain as
    pure columns — ``{{…}}`` templates removed innermost-first ×
    :data:`TEMPLATE_PASSES`, media links dropped whole,
    ``[[target|label]]`` → label / ``[[target]]`` → target, refs and
    residual tags stripped, headings bared, quote runs removed,
    whitespace normalized. Every pattern replays verbatim in RE2;
    :func:`wikitext_sql` emits the identical chain as DuckDB SQL."""
    out = col
    for pat, rep in _WIKITEXT_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def wikitext_sql(expr: str) -> str:
    """The SAME rule chain as nested DuckDB ``regexp_replace`` calls
    over ``expr`` — generated from :data:`_WIKITEXT_RULES`, so the
    Spark plan and the oracle can never drift (RE2 spells
    backreferences ``\\1`` and needs the explicit ``g`` flag)."""
    out = expr
    for pat, rep in _WIKITEXT_RULES:
        p = pat.replace("'", "''")
        r = rep.replace("$", "\\")
        # 'g' only — dot-matches-newline comes from the inline (?s)
        # exactly where a pattern wants it, same as the Spark side
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out


# --------------------------------------------------------------- fixture


def synthesize_wiki_page(
    page_id: int,
    title: str,
    text_wiki: str,
    *,
    ns: int = 0,
    redirect_to: str | None = None,
) -> bytes:
    """One spec-shaped ``<page>`` element (XML-escaped fields,
    page-id before the nested revision-id — the layout that catches
    first-``<id>`` bugs)."""
    from xml.sax.saxutils import escape

    redirect = (
        f'<redirect title="{escape(redirect_to)}" />'
        if redirect_to is not None
        else ""
    )
    return (
        "<page>"
        f"<title>{escape(title)}</title>"
        f"<ns>{ns}</ns>"
        f"<id>{page_id}</id>"
        f"{redirect}"
        "<revision>"
        f"<id>{page_id + 1000000}</id>"
        "<timestamp>2024-01-01T00:00:00Z</timestamp>"
        f"<text bytes=\"{len(text_wiki)}\">{escape(text_wiki)}</text>"
        "</revision>"
        "</page>"
    ).encode("utf-8")


#: Header stream contents of a multistream dump (open tag + siteinfo)
WIKI_HEADER = (
    b'<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/" '
    b'version="0.11" xml:lang="en">'
    b"<siteinfo><sitename>synthwiki</sitename>"
    b"<dbname>synthwiki</dbname><base>http://synth.local/wiki/Main</base>"
    b"</siteinfo>"
)
WIKI_TRAILER = b"</mediawiki>"


def bz2_member(data: bytes, *, level: int = 6) -> bytes:
    """One independent bz2 stream (the multistream building block)."""
    return bz2.compress(data, level)


# ------------------------------------------------------- seek index


def parse_wikidump_index(
    df: DataFrame,
    line_col: str = "line",
    *,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Parse multistream-index lines — the dump's companion
    ``offset:page_id:title`` file (offset = byte position of the
    page's bz2 stream inside the data file) — into
    ``key_cols…, offset (long), page_id (long), title``. Pure
    columns: two bounded splits, so titles containing ``:`` stay
    intact (the first two fields are numeric by format). Malformed
    lines yield NULL offset/page_id rather than dropping — visible,
    filterable."""
    ids = key_cols or [c for c in df.columns if c != line_col]
    line = F.col(line_col)
    off = F.regexp_extract(line, r"^(\d+):", 1)
    pid = F.regexp_extract(line, r"^\d+:(\d+):", 1)
    title = F.regexp_extract(line, r"^\d+:\d+:(.*)$", 1)
    return df.select(
        *ids,
        F.when(off != "", off).cast("long").alias("offset"),
        F.when(pid != "", pid).cast("long").alias("page_id"),
        F.when(title != "", title).alias("title"),
    )


def fetch_wiki_streams_by_index(
    files: DataFrame,
    captures: DataFrame,
    *,
    filename_col: str = "filename",
    blob_col: str = "content",
    offset_col: str = "offset",
) -> DataFrame:
    """Index-driven SELECTIVE page fetch — the reading path the
    multistream layout exists for: instead of decompressing a whole
    dump file, seek each admitted page's stream offset, decompress
    THAT independent bz2 member alone, and parse only its pages.

    Scale shape (the CDX range-fetch pattern): per-file DISTINCT
    offset lists aggregate small (index rows, never blobs) and
    broadcast onto the file scan, so the blob side never shuffles;
    files without admitted captures drop at the join and are never
    read past their header. A stream's end needs no recorded length —
    ``BZ2Decompressor`` stops at its own EOF (tolerance: an offset
    not pointing at ``BZh`` yields no rows). Output: ``filename_col``,
    ``offset``, plus the page columns of :func:`parse_wiki_pages`;
    callers keep the admitted page ids (one stream holds many
    pages — the fetch is stream-granular, the filter page-granular,
    exactly like real multistream readers)."""
    ranges = captures.groupBy(
        F.col(filename_col).alias("__fname")
    ).agg(
        F.sort_array(
            F.collect_set(F.col(offset_col).cast("long"))
        ).alias("__offsets")
    )
    joined = files.join(
        F.broadcast(ranges),
        files[filename_col] == ranges["__fname"],
        "inner",
    ).select(files[filename_col], files[blob_col], "__offsets")

    def pages(blob, offsets):
        blob = blob or b""
        for off in offsets:
            off = int(off)
            if off < 0 or off >= len(blob):
                continue  # stale index entry: skip, not raise
            if not blob.startswith(b"BZh", off):
                continue
            dec = bz2.BZ2Decompressor()
            try:
                xml = dec.decompress(blob[off:])
            except OSError:
                continue
            if not dec.eof:
                continue
            for page in parse_wiki_pages(xml):
                yield (off,) + page

    return flat_map_rows(
        joined,
        [blob_col, "__offsets"],
        pages,
        [T.StructField("offset", T.LongType())] + PAGE_FIELDS,
        keep=[filename_col],
    )
