"""HTML → text extraction: the step before every text operator in a
crawled-corpus pipeline (CommonCrawl-style WARC payloads arrive as
markup; token stats / dedup / quality scoring all want main text).

Design (the codec-ladder pattern from ``multimodal.py``, applied to
markup):

- The kernel is a REAL parse — stdlib ``html.parser.HTMLParser``
  (tolerant by construction: malformed markup never raises), run on
  the Arrow row shell (``operators/rows.py``). No lxml/bs4/trafilatura
  dependency; swapping a heavier extractor in touches one function.
- Boilerplate removal is structural: configurable container tags
  (``script``/``style``/``nav``/``footer``/…) are dropped WITH their
  contents; block-level tags split text into blocks; inline tags
  (``a``/``b``/``span``/…) do not break text, so anchor text stays in
  its sentence. Character/entity references decode to text
  (``&amp;`` → ``&``).
- Whitespace inside a block normalizes through the EXPLICIT class
  ``[ \\t\\r\\n\\f]+`` → one space — spelled identically in the DuckDB
  oracle (engine ``\\s`` classes differ between re/RE2/ICU, an
  explicit class does not).
- The synthetic fixture (:func:`synthesize_html`) wraps each
  document's text in a deterministic page — title, nav boilerplate,
  script/style junk, an inline link, entity-escaped body — so the
  extracted output has a CLOSED FORM in (doc_id, text) the oracle
  replays verbatim: escape→decode is the identity, dropped regions
  vanish, kept blocks join with newlines.

The reference has no markup handling; this is 100 TB extension
surface beside the media codecs (SURVEY.md §2.9).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.rows import flat_map_rows, map_rows

#: Containers whose CONTENTS are boilerplate/non-text — dropped whole.
DEFAULT_DROP_TAGS = frozenset(
    {
        "script",
        "style",
        "noscript",
        "template",
        "nav",
        "footer",
        "header",
        "aside",
        "iframe",
        "svg",
    }
)

#: Tags that terminate a text block (their boundaries become newline
#: joints). Inline tags — everything else — do not split text.
BLOCK_TAGS = frozenset(
    {
        "p",
        "div",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "li",
        "ul",
        "ol",
        "table",
        "tr",
        "td",
        "th",
        "blockquote",
        "pre",
        "article",
        "section",
        "main",
        "body",
        "br",
        "hr",
        "title",
    }
)

_WS = re.compile(r"[ \t\r\n\f]+")


def _norm(s: str) -> str:
    """The oracle-matched whitespace collapse: explicit ASCII class,
    single spaces, trimmed."""
    return _WS.sub(" ", s).strip()


def extract_text(html: str, drop_tags: frozenset = DEFAULT_DROP_TAGS):
    """Parse one HTML string → (title, text, n_links).

    ``text`` is the kept blocks joined with ``\\n`` (empty blocks
    skipped), ``title`` the first ``<title>``'s normalized content,
    ``n_links`` the count of ``<a href=...>`` in KEPT regions (links
    inside dropped boilerplate don't count). Never raises: stdlib
    HTMLParser recovers from malformed markup, and a None/empty input
    yields ('', '', 0)."""
    from html.parser import HTMLParser

    class _Extractor(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.blocks: list[str] = []
            self.buf: list[str] = []
            self.title_parts: list[str] = []
            self.n_links = 0
            self.drop_depth = 0
            self.in_title = False

        def _flush(self) -> None:
            block = _norm("".join(self.buf))
            self.buf.clear()
            if block:
                self.blocks.append(block)

        def handle_starttag(self, tag, attrs):
            if tag in drop_tags:
                self.drop_depth += 1
                return
            if self.drop_depth:
                return
            if tag == "title":
                self.in_title = True
            if tag == "a" and any(k == "href" for k, _ in attrs):
                self.n_links += 1
            if tag in BLOCK_TAGS:
                self._flush()

        def handle_endtag(self, tag):
            if tag in drop_tags:
                self.drop_depth = max(0, self.drop_depth - 1)
                return
            if self.drop_depth:
                return
            if tag == "title":
                self.in_title = False
            if tag in BLOCK_TAGS:
                self._flush()

        def handle_data(self, data):
            if self.drop_depth:
                return
            if self.in_title:
                self.title_parts.append(data)
            else:
                self.buf.append(data)

    p = _Extractor()
    try:
        p.feed(html or "")
        p.close()
    except Exception:  # pragma: no cover — HTMLParser shouldn't raise
        pass
    p._flush()
    # title data routes to title_parts only (never the block buffer),
    # so body blocks are body text — an <h1> that repeats the title
    # stays
    title = _norm("".join(p.title_parts))
    return title, "\n".join(p.blocks), p.n_links


def html_to_text(
    df: DataFrame,
    html_col: str = "html",
    *,
    drop_tags: frozenset = DEFAULT_DROP_TAGS,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Arrow-batched main-text extraction: per row, (``title``,
    ``text``, ``n_links``, ``text_chars``) from the real stdlib
    parse. Scales as a pure map — no shuffle, no driver
    involvement; the markup column prunes away for any downstream
    query that only touches the extracted columns."""

    def extract(html):
        title, text, n_links = extract_text(html, drop_tags)
        return title, text, n_links, len(text)

    return map_rows(
        df,
        [html_col],
        extract,
        [
            T.StructField("title", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_links", T.IntegerType()),
            T.StructField("text_chars", T.IntegerType()),
        ],
        keep=id_cols,
    )


def synthesize_html(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "html",
) -> DataFrame:
    """Emit a real HTML page per row with the extraction's closed
    form: title ``Doc {id}``, script/style/nav/footer boilerplate
    (dropped by extraction), an ``<h1>``, the entity-escaped document
    text in a ``<p>``, and an inline link sentence. Extracted text is
    EXACTLY ``'Doc {id}' ⏎ norm(text) ⏎ 'See ref {id} for details.'``
    (empty-normalizing texts skip their block), n_links is exactly 1
    (the nav's two links are inside dropped boilerplate), and the
    escape→decode round trip is the identity — all replayable in SQL
    from (doc_id, text) alone."""
    import html as _html

    def _page(doc_id: int, text: str) -> str:
        body = _html.escape(text or "")
        return (
            "<html><head><title>Doc {i}</title>"
            "<script>var x = '<p>not text</p>';</script>"
            "<style>p {{ color: red }}</style></head>\n"
            "<body><nav><a href=\"/\">home</a> "
            "<a href=\"/about\">about</a></nav>\n"
            "<h1>Doc {i}</h1>\n"
            "<p>{b}</p>\n"
            "<p>See <a href=\"https://example.com/{i}\">ref {i}</a> "
            "for details.</p>\n"
            "<footer>&copy; 2024 Example &amp; Co.</footer>"
            "</body></html>"
        ).format(i=doc_id, b=body)

    return map_rows(
        df,
        [id_col, text_col],
        lambda i, t: (_page(int(i), t),),
        [T.StructField(out_col, T.StringType())],
        keep=df.columns,
    )


def extract_page_links(
    html: str, drop_tags: frozenset = DEFAULT_DROP_TAGS
) -> list[tuple[str, str]]:
    """Parse one HTML string → [(href, anchor_text)] for every
    ``<a href=...>`` in KEPT regions (links inside dropped
    boilerplate — nav/footer/script — are the noise edges a link
    graph must not contain, so they are excluded with their
    containers, same rule as :func:`extract_text`'s ``n_links``).
    Anchor text is whitespace-normalized; nested anchors close the
    outer capture (HTML's own rule). Never raises."""
    from html.parser import HTMLParser

    class _Links(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.out: list[tuple[str, str]] = []
            self.drop_depth = 0
            self.href: str | None = None
            self.buf: list[str] = []

        def _close_anchor(self) -> None:
            if self.href is not None:
                self.out.append((self.href, _norm("".join(self.buf))))
            self.href = None
            self.buf.clear()

        def handle_starttag(self, tag, attrs):
            if tag in drop_tags:
                self.drop_depth += 1
                return
            if self.drop_depth:
                return
            if tag == "a":
                self._close_anchor()  # implicit close of a nested <a>
                for k, v in attrs:
                    if k == "href" and v is not None:
                        self.href = v
                        break

        def handle_endtag(self, tag):
            if tag in drop_tags:
                self.drop_depth = max(0, self.drop_depth - 1)
                return
            if self.drop_depth:
                return
            if tag == "a":
                self._close_anchor()

        def handle_data(self, data):
            if self.drop_depth:
                return
            if self.href is not None:
                self.buf.append(data)

    p = _Links()
    try:
        p.feed(html or "")
        p.close()
    except Exception:  # pragma: no cover
        pass
    p._close_anchor()
    return p.out


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    *,
    drop_tags: frozenset = DEFAULT_DROP_TAGS,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """One input page row → one output row per kept link:
    ``id_cols…, href, anchor_text``. The LINK-GRAPH feeder (round
    10): crawl pages fan out to edges as a pure Arrow-batched map —
    the edge list is then ordinary relational data for
    :mod:`operators.graph`'s PageRank / communities, completing
    crawl chapter → graph chapter."""
    return flat_map_rows(
        df,
        [html_col],
        lambda html: extract_page_links(html, drop_tags),
        [
            T.StructField("href", T.StringType()),
            T.StructField("anchor_text", T.StringType()),
        ],
        keep=id_cols,
    )


#: <script type="application/ld+json"> block bodies, group 1 — the
#: schema.org structured-data carrier (Google's documented embedding
#: form). Java∩RE2 shared subset: inline (?is), lazy quantifier,
#: explicit classes — the type attribute may use either quote style;
#: a type-less <script> (the boilerplate head script) never matches.
JSONLD_PATTERN = (
    r"(?is)<script[^>]*type[ \t]*=[ \t]*[\"']application/ld\+json[\"']"
    r"[^>]*>(.*?)</script>"
)


def extract_jsonld(
    df: DataFrame,
    html_col: str,
    *,
    id_cols: list[str] | None = None,
    pos_col: str = "ld_no",
    out_col: str = "ld_json",
) -> DataFrame:
    """One row per embedded JSON-LD block (round 13 — the crawl
    enrichment step every schema.org-aware pipeline runs: product /
    article / breadcrumb metadata ship as
    ``<script type="application/ld+json">`` payloads, not markup).

    Pure column computation end to end: ``regexp_extract_all`` pulls
    every block body (:data:`JSONLD_PATTERN`), ``posexplode_outer``
    fans them out with a stable per-page index (pages with no blocks
    keep one NULL row so joins don't drop them), and callers pick
    fields with ``get_json_object``/``from_json`` — whole-stage
    codegen, no UDF, no shuffle. Returns ``(*id_cols, pos_col,
    out_col)``."""
    ids = id_cols or [c for c in df.columns if c != html_col]
    blocks = F.regexp_extract_all(
        F.col(html_col), F.lit(JSONLD_PATTERN), F.lit(1)
    )
    return df.select(
        *ids, F.posexplode_outer(blocks).alias(pos_col, out_col)
    )


def page_directives(
    df: DataFrame,
    html_col: str,
    *,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Per-page indexing directives (round 13 — the admission signals
    web curation runs BEFORE content filters: a page that says
    ``noindex`` must not enter the corpus however good its text, and
    ``rel=canonical`` is the author's own dedup key, stronger than
    URL normalization):

    - ``robots_noindex`` / ``robots_nofollow`` — token-wise matches
      in the ``<meta name="robots" content="…">`` directive list
      (both attribute orders; a ``name="description"`` meta never
      matches; ``noindex,nofollow`` style comma/space lists parse as
      tokens, so ``index`` never fires ``noindex``);
    - ``canonical_url`` — the ``<link rel="canonical" href=…>``
      target (both attribute orders; first link wins), NULL when
      absent.

    Pure column computation (shared Java∩RE2 regex subset):
    whole-stage codegen, no UDF, no shuffle. Returns ``(*id_cols,
    robots_noindex, robots_nofollow, canonical_url)``."""
    ids = id_cols or [c for c in df.columns if c != html_col]
    h = F.col(html_col)

    def _first_group(pattern: str):
        # regexp_extract yields '' on no-match — nullify so the
        # attribute-order coalesce actually falls through
        return F.nullif(F.regexp_extract(h, pattern, 1), F.lit(""))

    meta = F.coalesce(
        _first_group(
            r"(?is)<meta[^>]*name[ \t]*=[ \t]*[\"']robots[\"']"
            r"[^>]*content[ \t]*=[ \t]*[\"']([^\"']*)[\"']"
        ),
        _first_group(
            r"(?is)<meta[^>]*content[ \t]*=[ \t]*[\"']([^\"']*)[\"']"
            r"[^>]*name[ \t]*=[ \t]*[\"']robots[\"']"
        ),
    )
    canonical = F.coalesce(
        _first_group(
            r"(?is)<link[^>]*rel[ \t]*=[ \t]*[\"']canonical[\"']"
            r"[^>]*href[ \t]*=[ \t]*[\"']([^\"']*)[\"']"
        ),
        _first_group(
            r"(?is)<link[^>]*href[ \t]*=[ \t]*[\"']([^\"']*)[\"']"
            r"[^>]*rel[ \t]*=[ \t]*[\"']canonical[\"']"
        ),
    )

    def has_token(tok: str):
        # NULL meta (no robots directive) is FALSE, not NULL
        return F.coalesce(
            F.regexp_like(
                F.lower(meta), F.lit(rf"(^|[ \t,]){tok}([ \t,]|$)")
            ),
            F.lit(False),
        )

    return df.select(
        *ids,
        has_token("noindex").alias("robots_noindex"),
        has_token("nofollow").alias("robots_nofollow"),
        canonical.alias("canonical_url"),
    )
