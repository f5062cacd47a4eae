"""PDF text extraction (round 13 — the crawl chapter's PDF rung).

Crawled corpora are full of PDFs; this module gives the engine a
real parser for the tractable core of ISO 32000-1 (PDF 1.7), per the
repo's real-codec policy (BMP/PNG/JPEG/GIF, Avro, TFRecord …):

- classic cross-reference TABLES (``xref`` sections + ``trailer``
  dicts chained through ``/Prev``), ``startxref`` discovery from the
  file tail (§7.5.4);
- PDF 1.5 cross-reference STREAMS (§7.5.8: ``/W`` column widths,
  ``/Index`` subsections, type-0 free / type-1 offset / type-2
  in-object-stream entries) and compressed OBJECT streams
  (``/ObjStm``, §7.5.7: ``/N`` pair header + ``/First``) — the
  real-world-majority layout for PDFs produced after ~2005;
- object syntax: dicts, arrays, names, literal ``(…)`` strings with
  all §7.3.4.2 escapes, hex ``<…>`` strings, indirect references,
  streams with direct or indirect ``/Length`` (§7.3);
- stream filters (§7.4, chainable): ``/FlateDecode`` via stdlib
  zlib, ``/LZWDecode`` (the TIFF §13 early-change LZW — the
  multimodal rung's core reused; ``/EarlyChange 0`` refused by
  name), ``/ASCIIHexDecode``, ``/ASCII85Decode``,
  ``/RunLengthDecode``; ``/DecodeParms`` PNG (predictors 10–15, the
  filter-byte-per-row scheme xref streams almost always use) and
  TIFF (predictor 2) post-prediction (§7.4.4.4);
- the §9.4 text machine: ``BT…ET`` runs with ``Tj``/``TJ``/``'``/
  ``"`` show operators and ``Td``/``TD``/``T*``/``Tm`` positioning
  (each positioning op starts a new output line);
- simple-font byte→text mapping: an embedded ``/ToUnicode`` CMap
  (``bfchar``/``bfrange``, §9.10.3) when present, else a §9.6.5
  ``/Encoding`` dictionary's ``/Differences`` array (standard glyph
  names + ``uniXXXX`` forms, unknown names surfacing as U+FFFD —
  round 14), else the published WinAnsiEncoding table (Annex D.2 —
  CP1252-shaped).

Since round 14 the STANDARD security handler decrypts (V1/V2 RC4
with an empty user password — the ubiquitous permissions-only
encryption; the derived key must reproduce the file's ``/U``
validation entry or the reader refuses, so a divergence from the
published §7.6.3 algorithms degrades to refusal, never a silent
misdecryption; self-consistency is round-trip-pinned — no external
ciphertext vector is available in this environment).

Explicit refusals (fail loudly, never misparse): password-protected
files (non-empty user password), AES encryption (``/V`` ≥ 4) and
non-Standard security handlers, hybrid-reference files (``/XRefStm`` — a classic
table AND an xref stream describing the same objects, §7.5.8.4),
CID-keyed composite fonts (``/Type0``), and image-codec filters
(``/DCTDecode``, ``/JBIG2Decode``, ``/JPXDecode``, ``/CCITTFax``).

:func:`build_pdf` synthesizes valid single-font PDFs closed-form
(the BMP/WAV fixture-generator trick) so the coverage query can pin
extraction against a DuckDB oracle: filtered text → PDF → extracted
text is an identity, and the oracle computes the same filter in SQL.

Spark shape: both directions run on the Arrow row shell
(``operators/rows.py:map_rows``, ``mapInArrow``) — blobs are built and parsed where the scan task runs and
never shuffle (the 100 TB-safe layout the WARC/wikidump chapters
use).  Reference analog: none (extension gap; the reference ingests
CSV/SQL only — ``SURVEY.md §2.9``).
"""

from __future__ import annotations

import hashlib
import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.rows import map_rows

__all__ = [
    "build_pdf",
    "extract_pdf_text",
    "pdf_synthesize",
    "pdf_extract",
]

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

#: WinAnsiEncoding 0x80-0x9F (Annex D.2 / CP1252): code -> unicode.
_WINANSI_HIGH = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}


def _winansi(bs: bytes) -> str:
    return "".join(
        _WINANSI_HIGH.get(b, chr(b)) if 0x80 <= b <= 0x9F else chr(b)
        for b in bs
    )


class _Name(str):
    """A PDF name token (``/Foo`` → ``_Name('Foo')``)."""


class _Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num, self.gen = num, gen

    def __repr__(self):  # pragma: no cover - debug aid
        return f"{self.num} {self.gen} R"


class _Stream:
    __slots__ = ("meta", "raw")

    def __init__(self, meta: dict, raw: bytes):
        self.meta, self.raw = meta, raw


class _Lexer:
    """Positional tokenizer over the file bytes (§7.2 character set)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data, self.pos = data, pos

    def skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to end of line
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def peek_token(self) -> bytes:
        save = self.pos
        tok = self.token()
        self.pos = save
        return tok

    def token(self) -> bytes:
        """Next regular token (delimiters are their own tokens)."""
        self.skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            return b""
        c = d[self.pos]
        if c in b"<>":
            if d[self.pos : self.pos + 2] in (b"<<", b">>"):
                self.pos += 2
                return d[self.pos - 2 : self.pos]
            self.pos += 1
            return bytes([c])
        if c in _DELIM:
            self.pos += 1
            return bytes([c])
        start = self.pos
        while self.pos < n and d[self.pos] not in _WS + _DELIM:
            self.pos += 1
        return d[start : self.pos]


_ESCAPES = {
    ord("n"): "\n", ord("r"): "\r", ord("t"): "\t",
    ord("b"): "\b", ord("f"): "\f",
    ord("("): "(", ord(")"): ")", ord("\\"): "\\",
}


def _parse_literal_string(lx: _Lexer) -> bytes:
    """``(…)`` literal string, §7.3.4.2: nested parens, backslash
    escapes, octal codes, escaped-newline continuation."""
    d, n = lx.data, len(lx.data)
    out = bytearray()
    depth = 1
    while lx.pos < n:
        c = d[lx.pos]
        lx.pos += 1
        if c == 0x5C:  # backslash
            if lx.pos >= n:
                break
            e = d[lx.pos]
            lx.pos += 1
            if e in b"01234567":
                oct_digits = chr(e)
                for _ in range(2):
                    if lx.pos < n and d[lx.pos] in b"01234567":
                        oct_digits += chr(d[lx.pos])
                        lx.pos += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in b"\r\n":  # line continuation
                if e == 0x0D and lx.pos < n and d[lx.pos] == 0x0A:
                    lx.pos += 1
            elif e in _ESCAPES:
                out.append(ord(_ESCAPES[e]))
            else:  # spec: stray backslash is dropped
                out.append(e)
        elif c == 0x28:
            depth += 1
            out.append(c)
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out)
            out.append(c)
        else:
            out.append(c)
    raise ValueError("unterminated PDF literal string")


def _parse_hex_string(lx: _Lexer) -> bytes:
    d, n = lx.data, len(lx.data)
    digits = []
    while lx.pos < n:
        c = d[lx.pos]
        lx.pos += 1
        if c == 0x3E:  # >
            if len(digits) % 2:
                digits.append("0")  # §7.3.4.3: odd count pads with 0
            return bytes.fromhex("".join(digits))
        if chr(c) in "0123456789abcdefABCDEF":
            digits.append(chr(c))
        elif c not in _WS:
            raise ValueError(f"bad hex-string byte {c:#x}")
    raise ValueError("unterminated PDF hex string")


_NUM_RE = re.compile(rb"^[+-]?(\d+\.?\d*|\.\d+)$")


def _parse_value(lx: _Lexer):
    """One object value (recursive); indirect refs via lookahead."""
    lx.skip_ws()
    d = lx.data
    tok = lx.token()
    if tok == b"<<":
        out: dict = {}
        while True:
            lx.skip_ws()
            if lx.peek_token() == b">>":
                lx.token()
                return out
            key = _parse_value(lx)
            if not isinstance(key, _Name):
                raise ValueError("PDF dict key is not a name")
            out[str(key)] = _parse_value(lx)
    if tok == b"[":
        arr = []
        while True:
            lx.skip_ws()
            if lx.peek_token() == b"]":
                lx.token()
                return arr
            arr.append(_parse_value(lx))
    if tok == b"/":
        # name: token characters immediately following, #xx unescaped
        raw = lx.token() if lx.pos < len(d) and d[lx.pos : lx.pos + 1] not in (b"",) else b""
        if raw and raw[:1] in _DELIM:  # empty name followed by delim
            lx.pos -= len(raw)
            raw = b""
        name = re.sub(
            rb"#([0-9A-Fa-f]{2})",
            lambda m: bytes([int(m.group(1), 16)]),
            raw,
        )
        return _Name(name.decode("latin-1"))
    if tok == b"(":
        return _parse_literal_string(lx)
    if tok == b"<":
        return _parse_hex_string(lx)
    if tok == b"true":
        return True
    if tok == b"false":
        return False
    if tok == b"null":
        return None
    if _NUM_RE.match(tok):
        # possible indirect reference: INT INT R
        if b"." not in tok:
            save = lx.pos
            t2 = lx.token()
            if _NUM_RE.match(t2) and b"." not in t2:
                t3 = lx.token()
                if t3 == b"R":
                    return _Ref(int(tok), int(t2))
            lx.pos = save
            return int(tok)
        return float(tok)
    raise ValueError(f"unexpected PDF token {tok!r}")


#: §7.6.3.3 password padding constant (Algorithm 2's PAD string).
_PDF_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 (public spec; its own inverse) — the V1/V2 stream cipher
    of the standard security handler."""
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out.append(c ^ S[(S[i] + S[j]) & 0xFF])
    return bytes(out)


def _crypt_file_key(
    pw: bytes, o_entry: bytes, p: int, file_id: bytes, rev: int,
    n_bytes: int,
) -> bytes:
    """Algorithm 2: padded password ‖ /O ‖ P(le32) ‖ ID[0] → MD5
    (+50 squeeze rounds at rev ≥ 3), truncated to the key length."""
    h = hashlib.md5()
    h.update((pw + _PDF_PAD)[:32])
    h.update(o_entry[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(file_id)
    digest = h.digest()
    if rev >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:n_bytes]).digest()
    return digest[:n_bytes]


def _crypt_o_entry(
    owner_pw: bytes, user_pw: bytes, rev: int, n_bytes: int
) -> bytes:
    """Algorithm 3: the /O entry (owner-password RC4 chain over the
    padded user password)."""
    digest = hashlib.md5(((owner_pw or user_pw) + _PDF_PAD)[:32]).digest()
    if rev >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    key = digest[:n_bytes]
    o = _rc4(key, (user_pw + _PDF_PAD)[:32])
    if rev >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _crypt_u_entry(key: bytes, file_id: bytes, rev: int) -> bytes:
    """Algorithm 4 (rev 2) / 5 (rev ≥ 3): the /U validation entry."""
    if rev == 2:
        return _rc4(key, _PDF_PAD)
    h = hashlib.md5()
    h.update(_PDF_PAD)
    h.update(file_id)
    u = _rc4(key, h.digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def _crypt_object_key(key: bytes, num: int, gen: int) -> bytes:
    """§7.6.2: per-object key = MD5(file key ‖ num(le24) ‖ gen(le16))
    truncated to key+5 (≤16) bytes."""
    h = hashlib.md5()
    h.update(key)
    h.update(num.to_bytes(3, "little"))
    h.update(gen.to_bytes(2, "little"))
    return h.digest()[: min(len(key) + 5, 16)]


def _asciihex_decode(data: bytes) -> bytes:
    """§7.4.2 ASCIIHexDecode: hex pairs, whitespace ignored, ``>``
    EOD (odd trailing digit pads with 0)."""
    end = data.find(b">")
    body = data[: end if end >= 0 else len(data)]
    digits = [chr(c) for c in body if c not in _WS]
    if any(c not in "0123456789abcdefABCDEF" for c in digits):
        raise ValueError("bad ASCIIHexDecode byte")
    if len(digits) % 2:
        digits.append("0")
    return bytes.fromhex("".join(digits))


def _ascii85_decode(data: bytes) -> bytes:
    """§7.4.3 ASCII85Decode via ``base64.a85decode`` (the Adobe
    variant: ``z`` shortcut, ``~>`` EOD, whitespace ignored)."""
    import base64

    end = data.find(b"~>")
    body = data[: end if end >= 0 else len(data)]
    if body.startswith(b"<~"):
        body = body[2:]
    return base64.a85decode(
        bytes(c for c in body if c not in _WS), adobe=False
    )


def _runlength_decode(data: bytes) -> bytes:
    """§7.4.5 RunLengthDecode (the PackBits scheme: length byte
    0-127 = literal run of L+1, 129-255 = repeat next byte 257-L
    times, 128 = EOD)."""
    out = bytearray()
    i = 0
    while i < len(data):
        ln = data[i]
        i += 1
        if ln == 128:
            break
        if ln < 128:
            out += data[i : i + ln + 1]
            i += ln + 1
        else:
            if i >= len(data):
                raise ValueError("truncated RunLengthDecode stream")
            out += bytes([data[i]]) * (257 - ln)
            i += 1
    return bytes(out)


def _unpredict(data: bytes, parms: dict) -> bytes:
    """§7.4.4.4 post-prediction for FlateDecode: PNG row predictors
    (10–15 — filter-type byte 0..4 per row, the scheme xref streams
    almost always carry) and TIFF predictor 2 (horizontal differencing,
    8-bit components).  Same filter algebra as the PNG decoder in
    ``operators/multimodal.py``, reimplemented here over the PDF
    Columns/Colors/BitsPerComponent row geometry."""
    pred = parms.get("Predictor", 1) or 1
    if not isinstance(pred, int) or pred <= 1:
        return data
    colors = int(parms.get("Colors", 1) or 1)
    bpc = int(parms.get("BitsPerComponent", 8) or 8)
    columns = int(parms.get("Columns", 1) or 1)
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if pred == 2:  # TIFF horizontal differencing
        if bpc != 8:
            raise ValueError(
                "TIFF predictor with BitsPerComponent != 8 unsupported"
            )
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(r + bpp, r + rowlen):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    if not 10 <= pred <= 15:
        raise ValueError(f"unknown /Predictor {pred}")
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    n = len(data)
    while pos < n:
        ft = data[pos]
        pos += 1
        row = bytearray(data[pos : pos + rowlen])
        pos += rowlen
        if ft == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG predictor filter byte {ft}")
        out += row
        prev = row
    return bytes(out)


class _Pdf:
    """One parsed file: xref offsets + memoized object fetch."""

    def __init__(self, data: bytes):
        self.data = data
        if not data.startswith(b"%PDF-"):
            raise ValueError("not a PDF (missing %PDF- header)")
        self.offsets: dict[int, int] = {}
        #: num -> (objstm object number, index inside it) for type-2
        #: entries read from a PDF 1.5 cross-reference stream.
        self.in_objstm: dict[int, tuple[int, int]] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple] = {}
        self._xref_seen: set[int] = set()
        self._crypt_key: bytes | None = None
        self._read_xref_chain()
        if "Encrypt" in self.trailer:
            self._crypt_key = self._setup_decryption()

    # -- cross-reference tables ---------------------------------------
    def _read_xref_chain(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("PDF missing startxref")
        pos = int(m.group(1))
        seen = set()
        while True:
            if pos in seen:
                raise ValueError("cyclic PDF xref chain")
            seen.add(pos)
            lx = _Lexer(self.data, pos)
            if lx.peek_token() == b"xref":
                tr = self._read_xref_table(lx)
                if "XRefStm" in tr:
                    raise ValueError(
                        "hybrid-reference PDF unsupported (/XRefStm)"
                    )
            else:
                # §7.5.8: startxref points straight at an /XRef
                # stream object (PDF 1.5+ compressed cross-reference).
                tr = self._read_xref_stream(pos)
            for k, v in tr.items():
                self.trailer.setdefault(k, v)
            if "Prev" in tr:
                prev = tr["Prev"]
                if not isinstance(prev, int):
                    raise ValueError("PDF trailer /Prev is not direct")
                pos = prev
            else:
                return

    def _read_xref_table(self, lx: _Lexer) -> dict:
        """One classic ``xref`` section + its ``trailer`` dict."""
        lx.token()  # 'xref'
        while True:
            lx.skip_ws()
            if lx.peek_token() == b"trailer":
                lx.token()
                break
            start = int(lx.token())
            count = int(lx.token())
            lx.skip_ws()
            for i in range(count):
                ent = self.data[lx.pos : lx.pos + 20]
                off = int(ent[0:10])
                kind = ent[17:18]
                num = start + i
                # Newest section wins for BOTH kinds: a free ('f')
                # entry in a newer incremental-update section marks
                # the object deleted, and an older /Prev section's
                # 'n' entry must NOT resurrect it (§7.5.4).
                if num not in self._xref_seen:
                    self._xref_seen.add(num)
                    if kind == b"n":
                        self.offsets[num] = off
                lx.pos += 20
        tr = _parse_value(lx)
        if not isinstance(tr, dict):
            raise ValueError("PDF trailer is not a dict")
        return tr

    def _read_xref_stream(self, pos: int) -> dict:
        """One §7.5.8 cross-reference stream: /W-packed big-endian
        rows over /Index subsections; returns the stream dict (which
        doubles as the trailer)."""
        s = self._parse_obj_at(pos, direct_only=True)
        if not isinstance(s, _Stream) or str(
            s.meta.get("Type") or ""
        ) != "XRef":
            raise ValueError(
                "startxref target is neither a classic 'xref' table "
                "nor an /XRef stream"
            )
        data = self.stream_bytes(s)
        w = s.meta.get("W")
        if not (
            isinstance(w, list)
            and len(w) == 3
            and all(isinstance(x, int) and x >= 0 for x in w)
        ):
            raise ValueError("xref stream /W must be 3 widths")
        size = s.meta.get("Size")
        if not isinstance(size, int):
            raise ValueError("xref stream /Size missing")
        index = s.meta.get("Index") or [0, size]
        if len(index) % 2:
            raise ValueError("xref stream /Index has odd length")
        rowlen = sum(w)
        if rowlen == 0:
            raise ValueError("xref stream /W is all-zero")
        p = 0
        for start, count in zip(index[0::2], index[1::2]):
            for i in range(count):
                row = data[p : p + rowlen]
                p += rowlen
                if len(row) < rowlen:
                    raise ValueError("truncated xref stream data")
                o = 0
                # absent type column (w[0]==0) defaults to type 1
                kind = (
                    int.from_bytes(row[0 : w[0]], "big") if w[0] else 1
                )
                o += w[0]
                f2 = int.from_bytes(row[o : o + w[1]], "big")
                o += w[1]
                f3 = int.from_bytes(row[o : o + w[2]], "big")
                num = start + i
                if num in self._xref_seen:
                    continue  # newest section wins (same rule as §7.5.4)
                self._xref_seen.add(num)
                if kind == 1:
                    self.offsets[num] = f2
                elif kind == 2:
                    self.in_objstm[num] = (f2, f3)
                # kind 0 = free (deleted); kind >2 = reserved, ignore
        return dict(s.meta)

    def _setup_decryption(self) -> bytes:
        """Standard security handler, V1/V2 RC4 with an EMPTY user
        password — the ubiquitous permissions-only encryption class
        (§7.6.3).  The derived key must reproduce the file's /U
        validation entry; any mismatch (a real user password, or any
        divergence from the published algorithms) refuses BY NAME
        rather than risking a silent misdecryption.  V ≥ 4 (AES) and
        non-Standard handlers refuse by name."""
        enc = self.resolve(self.trailer.get("Encrypt"))
        if not isinstance(enc, dict):
            raise ValueError("PDF /Encrypt is not a dictionary")
        filt = str(self.resolve(enc.get("Filter")) or "")
        if filt != "Standard":
            raise ValueError(
                f"unsupported PDF security handler /{filt} "
                "(Standard only)"
            )
        v = self.resolve(enc.get("V")) or 0
        r = self.resolve(enc.get("R")) or 0
        if v not in (1, 2) or r not in (2, 3):
            raise ValueError(
                f"unsupported PDF encryption V={v} R={r} "
                "(V1/V2 RC4 only — AES unsupported)"
            )
        length = self.resolve(enc.get("Length")) or 40
        n_bytes = max(5, min(16, int(length) // 8))
        o = self.resolve(enc.get("O"))
        u = self.resolve(enc.get("U"))
        p = self.resolve(enc.get("P"))
        ids = self.resolve(self.trailer.get("ID"))
        if not (isinstance(o, bytes) and isinstance(u, bytes)
                and isinstance(p, int)):
            raise ValueError("PDF /Encrypt missing O/U/P entries")
        file_id = (
            self.resolve(ids[0]) if isinstance(ids, list) and ids else b""
        )
        if not isinstance(file_id, bytes):
            raise ValueError("PDF trailer /ID is not a string")
        key = _crypt_file_key(b"", o, p, file_id, r, n_bytes)
        expect_u = _crypt_u_entry(key, file_id, r)
        cmp_len = 32 if r == 2 else 16
        if u[:cmp_len] != expect_u[:cmp_len]:
            raise ValueError(
                "password-protected PDF (empty user password failed "
                "/U validation) — refusal, not a guess"
            )
        return key

    # -- objects -------------------------------------------------------
    def _parse_obj_at(
        self, pos: int, *, expect: int | None = None,
        direct_only: bool = False,
    ):
        """``N G obj … endobj`` at a byte offset; streams attach their
        raw bytes.  ``direct_only`` forbids indirect /Length (needed
        while bootstrapping the xref stream, when no xref exists yet)."""
        lx = _Lexer(self.data, pos)
        got_num = int(lx.token())
        gen = int(lx.token())
        if lx.token() != b"obj":
            raise ValueError("expected 'obj' keyword")
        if expect is not None and got_num != expect:
            raise ValueError(f"xref offset for object {expect} is stale")
        val = _parse_value(lx)
        lx.skip_ws()
        if isinstance(val, dict) and lx.peek_token() == b"stream":
            lx.token()
            # EOL after 'stream': CRLF or LF (§7.3.8.1)
            if self.data[lx.pos : lx.pos + 2] == b"\r\n":
                lx.pos += 2
            elif self.data[lx.pos : lx.pos + 1] == b"\n":
                lx.pos += 1
            length = val.get("Length")
            if isinstance(length, _Ref):
                if direct_only:
                    raise ValueError(
                        "xref stream /Length must be a direct integer"
                    )
                length = self.resolve(length)
            if not isinstance(length, int):
                raise ValueError("PDF stream /Length is not an integer")
            raw = self.data[lx.pos : lx.pos + length]
            # §7.6.2: stream payloads are RC4-encrypted under the
            # per-object key.  The xref stream parses BEFORE key
            # setup (it is never encrypted, per spec) so it skips
            # naturally; /ObjStm containers parse after and decrypt.
            if self._crypt_key is not None:
                raw = _rc4(
                    _crypt_object_key(self._crypt_key, got_num, gen),
                    raw,
                )
            val = _Stream(val, raw)
        return val

    def obj(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self.offsets:
            val = self._parse_obj_at(self.offsets[num], expect=num)
        elif num in self.in_objstm:
            val = self._objstm_load(num)
        else:
            raise ValueError(f"PDF object {num} not in xref")
        self._cache[num] = val
        return val

    def _objstm_load(self, num: int):
        """Fetch a type-2 object out of its /ObjStm container."""
        stm_num, idx = self.in_objstm[num]
        if stm_num not in self.offsets:
            # §7.5.7: the container itself must be a top-level stream
            # (also breaks any type-2 → type-2 reference cycle).
            raise ValueError(
                f"object stream {stm_num} is not a top-level object"
            )
        header, data, first = self._objstm_parts(stm_num)
        off = None
        if idx < len(header) and header[idx][0] == num:
            off = header[idx][1]
        else:  # tolerate writers with off-by-one indices: scan header
            for objnum, o in header:
                if objnum == num:
                    off = o
                    break
        if off is None:
            raise ValueError(
                f"object {num} not found in object stream {stm_num}"
            )
        lx = _Lexer(data, first + off)
        return _parse_value(lx)

    def _objstm_parts(self, stm_num: int):
        """Decode an /ObjStm once: ((objnum, offset)×N, bytes, First)."""
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        s = self.obj(stm_num)
        if not isinstance(s, _Stream) or str(
            self.resolve(s.meta.get("Type")) or ""
        ) != "ObjStm":
            raise ValueError(f"object {stm_num} is not an /ObjStm")
        data = self.stream_bytes(s)
        n = self.resolve(s.meta.get("N"))
        first = self.resolve(s.meta.get("First"))
        if not isinstance(n, int) or not isinstance(first, int):
            raise ValueError("/ObjStm missing integer /N or /First")
        lx = _Lexer(data, 0)
        header = [
            (int(lx.token()), int(lx.token())) for _ in range(n)
        ]
        parts = (header, data, first)
        self._objstm_cache[stm_num] = parts
        return parts

    def resolve(self, v):
        while isinstance(v, _Ref):
            v = self.obj(v.num)
        return v

    def stream_bytes(self, s: _Stream) -> bytes:
        filt = self.resolve(s.meta.get("Filter"))
        if filt is None:
            return s.raw
        filters = filt if isinstance(filt, list) else [filt]
        parms = s.meta.get("DecodeParms", s.meta.get("DP"))
        if isinstance(parms, _Ref):
            parms = self.resolve(parms)
        parms_list = (
            parms if isinstance(parms, list) else [parms] * len(filters)
        )
        data = s.raw
        for f, p in zip(filters, parms_list):
            f = str(self.resolve(f))
            p = self.resolve(p)
            p = (
                {k: self.resolve(v) for k, v in p.items()}
                if isinstance(p, dict)
                else {}
            )
            if f == "FlateDecode":
                data = zlib.decompress(data)
            elif f == "LZWDecode":
                # §7.4.4.2: the TIFF §13 MSB-first early-change LZW —
                # the multimodal TIFF rung's core, reused verbatim;
                # EarlyChange 0 (late change) is the rare variant we
                # refuse by name rather than desynchronize on
                if p.get("EarlyChange", 1) == 0:
                    raise ValueError(
                        "LZWDecode /EarlyChange 0 unsupported"
                    )
                from workshoop2_etl_spark.operators.multimodal import (
                    _tiff_lzw_decode,
                )

                data = _tiff_lzw_decode(data, 1 << 30)
            elif f == "ASCIIHexDecode":
                data = _asciihex_decode(data)
            elif f == "ASCII85Decode":
                data = _ascii85_decode(data)
            elif f == "RunLengthDecode":
                data = _runlength_decode(data)
            else:
                raise ValueError(
                    f"unsupported PDF stream filter /{f} (Flate/LZW/"
                    "ASCIIHex/ASCII85/RunLength — refusal, not a "
                    "silent skip)"
                )
            if p.get("Predictor"):
                data = _unpredict(data, p)
        return data


# ---------------------------------------------------------------- fonts


def _parse_tounicode(cmap: bytes):
    """bfchar/bfrange sections of a ToUnicode CMap → code→str map
    (simple fonts: 1-byte codes)."""
    text = cmap.decode("latin-1")
    table: dict[int, str] = {}

    def _u(hexs: str) -> str:
        bs = bytes.fromhex(hexs)
        return bs.decode("utf-16-be") if len(bs) >= 2 else chr(bs[0])

    for block in re.findall(
        r"beginbfchar(.*?)endbfchar", text, re.S
    ):
        for src, dst in re.findall(r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", block):
            table[int(src, 16)] = _u(dst)
    for block in re.findall(r"beginbfrange(.*?)endbfrange", text, re.S):
        pos = 0
        pat = re.compile(
            r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            r"(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])"
        )
        for m in pat.finditer(block):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            if m.group(3) is not None:
                base = int(m.group(3), 16)
                width = len(m.group(3))
                for c in range(lo, hi + 1):
                    table[c] = _u(f"{base + c - lo:0{width}x}")
            else:
                dsts = re.findall(r"<([0-9A-Fa-f]+)>", m.group(4))
                for c, dhex in zip(range(lo, hi + 1), dsts):
                    table[c] = _u(dhex)
            pos = m.end()
        del pos
    return table


#: Adobe standard glyph names → characters (the §D/AGL subset this
#: reader resolves for /Differences arrays): the full ASCII-printable
#: set, the Latin-1 supplement's common names, and the regular
#: ``uniXXXX``/``uXXXX[XX]`` forms handled in code.  Unknown names
#: map to U+FFFD — a VISIBLE replacement, never a silent guess.
_GLYPH_NAMES: dict[str, str] = {
    **{
        n: chr(0x20 + i)
        for i, n in enumerate(
            "space exclam quotedbl numbersign dollar percent ampersand "
            "quotesingle parenleft parenright asterisk plus comma hyphen "
            "period slash zero one two three four five six seven eight "
            "nine colon semicolon less equal greater question at".split()
        )
    },
    **{c: c for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"},
    **{
        n: chr(0x5B + i)
        for i, n in enumerate(
            "bracketleft backslash bracketright asciicircum underscore "
            "grave".split()
        )
    },
    **{
        n: chr(0x7B + i)
        for i, n in enumerate("braceleft bar braceright asciitilde".split())
    },
    **{
        n: chr(0xA1 + i)
        for i, n in enumerate(
            "exclamdown cent sterling currency yen brokenbar section "
            "dieresis copyright ordfeminine guillemotleft logicalnot "
            "hyphen registered macron degree plusminus twosuperior "
            "threesuperior acute mu paragraph periodcentered cedilla "
            "onesuperior ordmasculine guillemotright onequarter onehalf "
            "threequarters questiondown".split()
        )
    },
    # common typographic names outside Latin-1 positions
    "bullet": "•", "emdash": "—", "endash": "–", "ellipsis": "…",
    "quoteleft": "‘", "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "dagger": "†", "daggerdbl": "‡",
    "trademark": "™", "fi": "ﬁ", "fl": "ﬂ", "Euro": "€",
    "florin": "ƒ", "perthousand": "‰", "minus": "−",
    "germandbls": "ß", "ae": "æ", "AE": "Æ", "oslash": "ø",
    "Oslash": "Ø", "oe": "œ", "OE": "Œ", "thorn": "þ",
    "Thorn": "Þ", "eth": "ð", "Eth": "Ð", "dotlessi": "ı",
    "Lslash": "Ł", "lslash": "ł", "Scaron": "Š", "scaron": "š",
    "Zcaron": "Ž", "zcaron": "ž", "Ydieresis": "Ÿ",
}
#: code 0xAD of Latin1Encoding is the glyph NAME "hyphen", but the
#: name itself canonically means U+002D — restore it over the
#: positional entry the comprehension above wrote.
_GLYPH_NAMES["hyphen"] = "-"
#: Accented Latin-1 letters follow the regular base+accent pattern —
#: generated, not hand-listed, so the table can't drift.
for _base, _accents in (
    ("A", "grave:À acute:Á circumflex:Â tilde:Ã dieresis:Ä ring:Å"),
    ("C", "cedilla:Ç"),
    ("E", "grave:È acute:É circumflex:Ê dieresis:Ë"),
    ("I", "grave:Ì acute:Í circumflex:Î dieresis:Ï"),
    ("N", "tilde:Ñ"),
    ("O", "grave:Ò acute:Ó circumflex:Ô tilde:Õ dieresis:Ö"),
    ("U", "grave:Ù acute:Ú circumflex:Û dieresis:Ü"),
    ("Y", "acute:Ý"),
    ("a", "grave:à acute:á circumflex:â tilde:ã dieresis:ä ring:å"),
    ("c", "cedilla:ç"),
    ("e", "grave:è acute:é circumflex:ê dieresis:ë"),
    ("i", "grave:ì acute:í circumflex:î dieresis:ï"),
    ("n", "tilde:ñ"),
    ("o", "grave:ò acute:ó circumflex:ô tilde:õ dieresis:ö"),
    ("u", "grave:ù acute:ú circumflex:û dieresis:ü"),
    ("y", "acute:ý dieresis:ÿ"),
):
    for _pair in _accents.split():
        _acc, _ch = _pair.split(":")
        _GLYPH_NAMES[_base + _acc] = _ch
del _base, _accents, _pair, _acc, _ch


def _glyph_to_char(name: str) -> str:
    """One glyph name → one character: the table above, the regular
    ``uniXXXX``/``uXXXX``-``uXXXXXX`` forms, else U+FFFD (visible)."""
    got = _GLYPH_NAMES.get(name)
    if got is not None:
        return got
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            pass
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            pass
    return "�"


def _table_decoder(table: dict[int, str]):
    """Byte-string decoder: each code through ``table``, WinAnsi for
    codes the table does not map."""

    def dec(bs: bytes) -> str:
        return "".join(table.get(b, _winansi(bytes([b]))) for b in bs)

    return dec


def _differences_decoder(pdf: _Pdf, enc: dict):
    """§9.6.5 /Encoding dictionary: /BaseEncoding overlaid with the
    /Differences array's (code, glyph-name…) runs."""
    table: dict[int, str] = {}
    diffs = pdf.resolve(enc.get("Differences")) or []
    code = 0
    for item in diffs:
        item = pdf.resolve(item)
        if isinstance(item, int):
            code = item
        elif isinstance(item, _Name):
            table[code] = _glyph_to_char(str(item))
            code += 1
    return _table_decoder(table)


def _font_decoder(pdf: _Pdf, font: dict):
    sub = pdf.resolve(font.get("Subtype"))
    if str(sub) == "Type0":
        raise ValueError(
            "CID-keyed (/Type0) composite fonts unsupported — refusal"
        )
    tu = pdf.resolve(font.get("ToUnicode"))
    if isinstance(tu, _Stream):
        return _table_decoder(_parse_tounicode(pdf.stream_bytes(tu)))
    enc = pdf.resolve(font.get("Encoding"))
    if isinstance(enc, dict) and "Differences" in enc:
        return _differences_decoder(pdf, enc)
    return _winansi


# ----------------------------------------------------------- text machine


def _page_text(pdf: _Pdf, content: bytes, fonts: dict) -> str:
    """Run the §9.4 text machine over one page's content bytes.
    Each text-positioning operator (Td/TD/T*/Tm/'/\") starts a new
    output line; show operators append to the current line; TJ
    kerning numbers are ignored (layout, not content)."""
    lx = _Lexer(content, 0)
    lines: list[str] = []
    cur: list[str] = []
    started = False
    stack: list = []
    dec = _winansi

    def newline():
        nonlocal started
        if started:
            lines.append("".join(cur))
            cur.clear()
        started = True

    def show(v):
        nonlocal started
        if isinstance(v, bytes):
            cur.append(dec(v))
            started = True

    n = len(content)
    while True:
        lx.skip_ws()
        if lx.pos >= n:
            break
        c = content[lx.pos]
        if c in b"([</" or chr(c).isdigit() or c in b"+-." or (
            content[lx.pos : lx.pos + 2] == b"<<"
        ):
            try:
                stack.append(_parse_value(lx))
                continue
            except ValueError:
                lx.token()  # tolerate junk operand
                continue
        op = lx.token()
        if op in (b"Td", b"TD", b"T*", b"Tm"):
            newline()
        elif op == b"Tj":
            show(stack[-1] if stack else b"")
        elif op == b"'":
            newline()
            show(stack[-1] if stack else b"")
        elif op == b'"':
            newline()
            show(stack[-1] if stack else b"")
        elif op == b"TJ":
            arr = stack[-1] if stack and isinstance(stack[-1], list) else []
            for el in arr:
                show(el)
        elif op == b"Tf":
            if len(stack) >= 2 and isinstance(stack[-2], _Name):
                f = fonts.get(str(stack[-2]))
                dec = _font_decoder(pdf, f) if f else _winansi
        elif op == b"ET":
            pass
        stack.clear()
    if started:
        lines.append("".join(cur))
    return "\n".join(lines)


def extract_pdf_text(blob: bytes) -> str:
    """Whole-document text: pages in tree order, joined with ``\\n``."""
    pdf = _Pdf(blob)
    root = pdf.resolve(pdf.trailer.get("Root"))
    if not isinstance(root, dict):
        raise ValueError("PDF trailer /Root missing")
    pages: list[tuple[dict, dict]] = []  # (page dict, inherited res)

    def walk(node, inherited_res):
        node = pdf.resolve(node)
        res = pdf.resolve(node.get("Resources")) or inherited_res
        t = str(pdf.resolve(node.get("Type")) or "")
        if t == "Pages" or "Kids" in node:
            for kid in pdf.resolve(node.get("Kids")) or []:
                walk(kid, res)
        else:
            pages.append((node, res or {}))

    walk(root.get("Pages"), {})
    out = []
    for page, res in pages:
        contents = pdf.resolve(page.get("Contents"))
        chunks = contents if isinstance(contents, list) else [contents]
        data = b"\n".join(
            pdf.stream_bytes(pdf.resolve(c))
            for c in chunks
            if pdf.resolve(c) is not None
        )
        fonts = pdf.resolve(res.get("Font")) or {}
        fonts = {k: pdf.resolve(v) for k, v in fonts.items()}
        out.append(_page_text(pdf, data, fonts))
    return "\n".join(out)


# ---------------------------------------------------------------- writer


def _escape_pdf_string(s: str) -> bytes:
    bs = s.encode("latin-1", errors="replace")
    return (
        bs.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def build_pdf(
    text: str,
    *,
    lines_per_page: int = 40,
    compress: bool = True,
    xref_mode: str = "table",
    encrypt: str | None = None,
) -> bytes:
    """Closed-form valid PDF: Helvetica/WinAnsi, one FlateDecode
    content stream per page.  ``text`` splits on ``\\n`` into lines,
    ``lines_per_page`` per page, so
    ``extract_pdf_text(build_pdf(t)) == t`` for latin-1 text — the
    identity the coverage oracle pins.

    ``xref_mode='table'`` emits a classic PDF 1.7 xref table;
    ``xref_mode='stream'`` emits the PDF 1.5+ layout — all non-stream
    objects (catalog, page tree, pages, font) packed into one
    FlateDecode ``/ObjStm`` and a ``/W [1 4 2]`` cross-reference
    STREAM with PNG-Up (``/Predictor 12``) post-prediction, i.e. the
    exact shape modern writers produce.

    ``encrypt='rc4-40'`` / ``'rc4-128'`` emits a standard-security-
    handler encrypted file (empty user AND owner passwords — the
    permissions-only class): deterministic /ID from the text, /O and
    /U per Algorithms 3-5, every content stream RC4-encrypted under
    its per-object key.  Table xref mode only."""
    lines = text.split("\n")
    page_line_groups = [
        lines[i : i + lines_per_page]
        for i in range(0, len(lines), lines_per_page)
    ] or [[""]]
    objects: dict[int, bytes] = {}
    stream_parts: dict[int, tuple[bytes, bytes]] = {}
    n_pages = len(page_line_groups)
    font_num = 3 + 2 * n_pages
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for i, group in enumerate(page_line_groups):
        page_num, cont_num = 3 + 2 * i, 4 + 2 * i
        objects[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
            f"/Contents {cont_num} 0 R >>".encode()
        )
        ops = [b"BT", b"/F1 12 Tf", b"72 720 Td"]
        for j, line in enumerate(group):
            if j:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + _escape_pdf_string(line) + b") Tj")
        ops.append(b"ET")
        content = b"\n".join(ops)
        if compress:
            payload = zlib.compress(content)
            head = (
                f"<< /Length {len(payload)} /Filter /FlateDecode >>"
            ).encode()
        else:
            payload = content
            head = f"<< /Length {len(payload)} >>".encode()
        stream_parts[cont_num] = (head, payload)
        objects[cont_num] = (
            head + b"\nstream\n" + payload + b"\nendstream"
        )
    objects[font_num] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )
    if xref_mode == "stream":
        if encrypt:
            raise ValueError("encrypt is table-xref-mode only")
        return _emit_xref_stream_pdf(objects, n_pages, font_num)
    if xref_mode != "table":
        raise ValueError(f"unknown xref_mode {xref_mode!r}")

    trailer_extra = ""
    if encrypt is not None:
        rev, n_bytes = {"rc4-40": (2, 5), "rc4-128": (3, 16)}[encrypt]
        perms = -44  # print/copy denied: a realistic permissions mask
        file_id = hashlib.md5(
            b"workshoop2-pdf-id:" + text.encode("utf-8", "replace")
        ).digest()
        o_entry = _crypt_o_entry(b"", b"", rev, n_bytes)
        key = _crypt_file_key(b"", o_entry, perms, file_id, rev, n_bytes)
        u_entry = _crypt_u_entry(key, file_id, rev)
        for num, (head, payload) in stream_parts.items():
            enc_payload = _rc4(_crypt_object_key(key, num, 0), payload)
            objects[num] = (
                head + b"\nstream\n" + enc_payload + b"\nendstream"
            )
        enc_num = font_num + 1
        objects[enc_num] = (
            b"<< /Filter /Standard /V "
            + (b"1" if rev == 2 else b"2")
            + f" /R {rev} /Length {n_bytes * 8} /P {perms} /O <"
            .encode()
            + o_entry.hex().encode()
            + b"> /U <"
            + u_entry.hex().encode()
            + b"> >>"
        )
        fid_hex = file_id.hex().encode().decode()
        trailer_extra = (
            f" /Encrypt {enc_num} 0 R /ID [<{fid_hex}> <{fid_hex}>]"
        )

    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_at = len(out)
    size = max(objects) + 1
    out += f"xref\n0 {size}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {size} /Root 1 0 R{trailer_extra} >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _png_up_predict(data: bytes, rowlen: int) -> bytes:
    """Forward PNG-Up filtering (predictor 12) for the xref stream."""
    out = bytearray()
    prev = bytes(rowlen)
    for r in range(0, len(data), rowlen):
        row = data[r : r + rowlen]
        out.append(2)  # PNG filter type: Up
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(len(row)))
        prev = row
    return bytes(out)


def _emit_xref_stream_pdf(
    objects: dict[int, bytes], n_pages: int, font_num: int
) -> bytes:
    """PDF 1.5 serialization: non-stream objects → one /ObjStm,
    cross-reference → an /XRef stream (type-2 rows for the packed
    objects, type-1 for the top-level streams), /W [1 4 2] with
    PNG-Up prediction."""
    stream_nums = {4 + 2 * i for i in range(n_pages)}  # content streams
    packed_nums = sorted(n for n in objects if n not in stream_nums)
    objstm_num = font_num + 1
    xref_num = font_num + 2

    # /ObjStm payload: "num offset" header pairs, then the objects.
    body = bytearray()
    offs = []
    for num in packed_nums:
        offs.append((num, len(body)))
        body += objects[num] + b"\n"
    header = " ".join(f"{n} {o}" for n, o in offs).encode() + b"\n"
    objstm_plain = header + bytes(body)
    objstm_payload = zlib.compress(objstm_plain)
    objstm_obj = (
        f"<< /Type /ObjStm /N {len(packed_nums)} /First {len(header)} "
        f"/Length {len(objstm_payload)} /Filter /FlateDecode >>"
    ).encode() + b"\nstream\n" + objstm_payload + b"\nendstream"

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(stream_nums):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    offsets[objstm_num] = len(out)
    out += f"{objstm_num} 0 obj\n".encode() + objstm_obj + b"\nendobj\n"

    # XRef stream rows, object 0 .. xref_num inclusive, /W [1 4 2].
    size = xref_num + 1
    xref_at = len(out)
    rows = bytearray()
    objstm_index = {num: i for i, (num, _) in enumerate(offs)}
    for num in range(size):
        if num == 0:
            kind, f2, f3 = 0, 0, 65535
        elif num in offsets or num == xref_num:
            kind, f2, f3 = 1, offsets.get(num, xref_at), 0
        else:
            kind, f2, f3 = 2, objstm_num, objstm_index[num]
        rows.append(kind)
        rows += f2.to_bytes(4, "big")
        rows += f3.to_bytes(2, "big")
    predicted = _png_up_predict(bytes(rows), 7)
    xref_payload = zlib.compress(predicted)
    out += (
        f"{xref_num} 0 obj\n"
        f"<< /Type /XRef /Size {size} /W [1 4 2] /Root 1 0 R "
        f"/Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns 7 >> "
        f"/Length {len(xref_payload)} >>\nstream\n"
    ).encode() + xref_payload + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)


# ------------------------------------------------------------- Spark side


def pdf_synthesize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    lines_per_page: int = 40,
    out_col: str = "pdf",
    xref_mode: str = "table",
    encrypt: str | None = None,
) -> DataFrame:
    """(id, text) → (id, pdf binary), built inside the scan task
    (Arrow batches; blobs are born where they're consumed and never
    shuffle).  ``xref_mode='stream'`` emits the PDF 1.5 compressed
    layout (xref stream + /ObjStm), ``'table'`` the classic one;
    ``encrypt='rc4-40'|'rc4-128'`` the standard-security-handler
    empty-password encrypted class."""

    def build(text):
        return (
            build_pdf(
                text if isinstance(text, str) else "",
                lines_per_page=lines_per_page,
                xref_mode=xref_mode,
                encrypt=encrypt,
            ),
        )

    return map_rows(
        df,
        [text_col],
        build,
        [T.StructField(out_col, T.BinaryType())],
        keep=[id_col],
    )


def pdf_extract(
    df: DataFrame,
    id_col: str,
    blob_col: str,
    *,
    out_col: str = "pdf_text",
) -> DataFrame:
    """(id, pdf binary) → (id, extracted text); parse errors surface
    as NULL text with the error in ``pdf_error`` (a corrupt crawl
    blob must not kill the batch — the WARC-chapter convention)."""

    def extract(blob):
        # EVERY parse failure maps to NULL text + pdf_error — fuzzed
        # crawl blobs raise far beyond ValueError (AttributeError from
        # /Root resolving to a non-dict, TypeError, KeyError,
        # RecursionError from deep object cycles), and one bad blob
        # must not kill the task.
        try:
            return extract_pdf_text(bytes(blob)), None
        except Exception as exc:  # noqa: BLE001 — see above
            return None, f"{type(exc).__name__}: {exc}"

    return map_rows(
        df,
        [blob_col],
        extract,
        [
            T.StructField(out_col, T.StringType()),
            T.StructField("pdf_error", T.StringType()),
        ],
        keep=[id_col],
    )
