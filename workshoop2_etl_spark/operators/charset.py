"""Charset-aware byte decoding — the honest version of
``payload.cast("string")``: real crawl payloads arrive in whatever
encoding the origin server used, and blindly assuming UTF-8 either
throws or silently mangles. The ladder here is the standard
conservative order every ingest pipeline converges on:

1. **BOM sniff** — UTF-8-sig / UTF-16 (either endianness via the
   BOM) are self-identifying; trust the mark.
2. **Strict UTF-8** — the only multi-byte encoding that is
   *verifiable*: random cp1252/latin-1 bytes are valid UTF-8 with
   probability ≈ 0 for any real text, so a clean strict decode IS
   the evidence.
3. **cp1252 strict** — the dominant legacy web encoding; its 0x80–
   0x9F page (curly quotes, em-dashes) is exactly what latin-1
   mislabels as C1 controls.
4. **latin-1** — total (every byte sequence decodes); the explicit
   last resort, labeled as such rather than hidden.

The decoded text plus the ``encoding`` label come back per row —
the label is the crawl-health metric (per-source encoding mix) and
the audit trail for any later mojibake investigation
(:func:`operators.redaction.fix_mojibake` repairs what a WRONG
historical decode baked into stored text; this operator prevents new
bakes). One Arrow-batched stdlib-codecs kernel, pure map.
"""

from __future__ import annotations

import codecs

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.rows import map_rows


def sniff_decode(b: bytes) -> tuple[str | None, str | None]:
    """(text, encoding_label) for one payload; (None, None) for a
    NULL payload. Never raises."""
    if b is None:
        return None, None
    if b.startswith(codecs.BOM_UTF8):
        return b[len(codecs.BOM_UTF8):].decode(
            "utf-8", errors="replace"
        ), "utf-8-sig"
    if b.startswith(codecs.BOM_UTF16_LE) or b.startswith(
        codecs.BOM_UTF16_BE
    ):
        return b.decode("utf-16", errors="replace"), "utf-16"
    try:
        return b.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        pass
    try:
        return b.decode("cp1252"), "cp1252"
    except UnicodeDecodeError:
        return b.decode("latin-1"), "latin-1"


def decode_bytes(
    df: DataFrame,
    bytes_col: str,
    *,
    out_col: str = "text",
    encoding_col: str = "encoding",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Per-row charset-sniffed decode: ``out_col`` (string) +
    ``encoding_col`` (the ladder rung that fired). Pure map."""
    return map_rows(
        df,
        [bytes_col],
        sniff_decode,
        [
            T.StructField(out_col, T.StringType()),
            T.StructField(encoding_col, T.StringType()),
        ],
        keep=id_cols,
    )
