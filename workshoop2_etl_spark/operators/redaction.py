"""PII redaction and text normalization for corpus cleaning.

Both are pure per-document projections (chained ``regexp_replace``,
JVM-side, whole-stage-codegen) — they run at scan speed on any corpus
size; there is no shuffle and nothing to tune.

The built-in patterns deliberately use only the regex subset shared by
Java's engine (Spark) and RE2 (DuckDB, Go, Rust's regex): character
classes, bounded repetition, non-capturing groups, ``\\b`` — no
backreferences, no lookaround. That keeps every pattern portable and
lets the DuckDB oracle replay the exact transformation. Production
deployments layering stricter PII models (NER-based) would do so as a
mapInPandas stage downstream; the regex pass stays the cheap first
filter.
"""

from __future__ import annotations

import codecs

import pandas as pd  # module scope: pandas-UDF type hints resolve here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: name -> (pattern, replacement). Order matters: email before phone
#: so digits inside addresses are consumed first.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    "ipv4": (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
}

#: ASCII control characters (minus \t \n \r, which normalize() folds
#: into spaces anyway) — the usual mojibake survivors.
_CONTROL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def redact_pii(
    df: DataFrame,
    text_col: str,
    *,
    patterns: dict[str, tuple[str, str]] | None = None,
    out_col: str | None = None,
    count_cols: bool = False,
) -> DataFrame:
    """Replace PII spans with typed placeholder tokens.

    ``patterns`` defaults to :data:`PII_PATTERNS`; replacements are
    applied in dict order over the previous result. With
    ``count_cols`` each pattern also emits ``n_<name>`` — the number
    of spans redacted (counted on the ORIGINAL text, so later
    patterns don't see earlier placeholders) — useful for routing
    documents with heavy PII density to quarantine instead of
    publishing them redacted.
    """
    pats = patterns if patterns is not None else PII_PATTERNS
    out = out_col or text_col
    text = F.col(text_col)
    red: Column = text
    for pattern, repl in pats.values():
        red = F.regexp_replace(red, pattern, repl)
    result = df
    if count_cols:
        # Counts must be added BEFORE the redacted column: when
        # out_col is None the redaction overwrites text_col, and a
        # count added afterwards would resolve against the
        # placeholder-substituted text (always zero).
        for name, (pattern, _) in pats.items():
            result = result.withColumn(
                f"n_{name}",
                F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0))),
            )
    return result.withColumn(out, red)


def normalize_text(
    df: DataFrame,
    text_col: str,
    *,
    out_col: str | None = None,
    lowercase: bool = False,
) -> DataFrame:
    """Canonicalize whitespace and strip control characters:

    1. drop ASCII control chars (keeping tab/newline/CR for step 2);
    2. collapse every whitespace run (including tab/newline/CR) to a
       single space;
    3. trim; optionally lowercase.

    The idempotent pre-tokenization cleanup — running it twice is a
    no-op, so pipeline stages can apply it defensively.
    """
    out = out_col or text_col
    c = F.col(text_col)
    c = F.regexp_replace(c, _CONTROL_CLASS, "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    return df.withColumn(out, c)


def _sloppy_cp1252_errors(exc):
    """cp1252 encode fallback, PER CHARACTER (ftfy's
    sloppy-windows-1252): any C1 codepoint (U+0080–U+009F) cp1252
    can't encode — latin-1 decoding of UTF-8 continuation bytes
    produces the whole range, cp1252 decoding the five unmapped ones
    (0x81 8D 8F 90 9D) — becomes its raw byte. Per character matters:
    mojibake routinely mixes C1 codepoints with cp1252-plane ones
    (€ from 0x80), and a whole-string latin-1 retry fails then."""
    if isinstance(exc, UnicodeEncodeError):
        chunk = exc.object[exc.start : exc.end]
        if all(0x80 <= ord(c) <= 0x9F for c in chunk):
            return bytes(ord(c) for c in chunk), exc.end
    raise exc


codecs.register_error("sloppy_cp1252", _sloppy_cp1252_errors)


def _demojibake_once(t: str) -> str | None:
    """One repair pass: re-encode through cp1252 with a PER-CHARACTER
    latin-1 fallback for the five C1 codepoints cp1252 doesn't map,
    then re-decode as UTF-8. Returns the repaired string, or None
    when the text doesn't round-trip (i.e. is not mojibake) or is
    unchanged."""
    try:
        b = t.encode("cp1252", errors="sloppy_cp1252")
    except UnicodeEncodeError:
        return None
    try:
        fixed = b.decode("utf-8")
    except UnicodeDecodeError:
        return None
    return fixed if fixed != t else None


def fix_mojibake(
    df: DataFrame,
    text_col: str,
    *,
    out_col: str | None = None,
    flag_col: str | None = None,
    max_passes: int = 3,
) -> DataFrame:
    """Repair UTF-8-decoded-as-Latin-1/Windows-1252 mojibake
    ("Ã©" → "é", "â€™" → "’") — the ftfy-style fix every crawled
    corpus needs: a double-encoded page hashes differently, BPE-splits
    into garbage, and defeats dedup against its clean twin.

    The decision rule is the core public ftfy insight, applied
    deterministically: if re-encoding the text through
    cp1252-with-latin-1-fallback yields bytes that DECODE AS VALID
    UTF-8 to a different (shorter) string, that is overwhelming
    evidence the text was mojibake — genuine text whose codepoints
    happen to spell valid multi-byte UTF-8 is vanishingly rare, and
    that residual ambiguity is inherent to the problem, not this
    implementation. Repairs iterate up to ``max_passes`` so
    double-encoded text ("Ã©" encoded again → "ÃƒÂ©") unwinds fully;
    pure-ASCII and already-clean text pass through untouched. Runs as
    one Arrow-batched kernel (stdlib codecs only), a pure map.

    ``flag_col`` (optional) records whether any pass fired — the
    corpus-quality signal (fraction of mojibake pages per source is a
    standard crawl-health metric).
    """
    out = out_col or text_col
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("repaired string, fixed boolean")
    def _fix(s: pd.Series) -> pd.DataFrame:
        def one(t):
            if t is None:
                return None, False
            cur, fired = t, False
            for _ in range(max_passes):
                nxt = _demojibake_once(cur)
                if nxt is None:
                    break
                cur, fired = nxt, True
            return cur, fired

        pairs = s.map(one)
        return pd.DataFrame(
            {
                "repaired": pairs.map(lambda p: p[0]),
                "fixed": pairs.map(lambda p: p[1]),
            }
        )

    tmp = "__mojibake_struct"
    res = df.withColumn(tmp, _fix(F.col(text_col)))
    res = res.withColumn(out, F.col(f"{tmp}.repaired"))
    if flag_col:
        res = res.withColumn(flag_col, F.col(f"{tmp}.fixed"))
    return res.drop(tmp)
