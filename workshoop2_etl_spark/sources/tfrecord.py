"""TFRecord source/sink with a pure-Python ``tf.train.Example``
codec — the classic training-export target (TF/JAX input pipelines
read TFRecord shards; a corpus engine that cannot emit them leaves
the last step to another tool). No TensorFlow in this container, so
both halves are hand-built from PUBLIC specifications:

- the TFRecord framing (TensorFlow's ``RecordWriter`` format):
  ``uint64-LE length ‖ masked crc32c(length) ‖ data ‖ masked
  crc32c(data)``, where crc32c is the Castagnoli CRC and
  ``mask(c) = ((c >> 15) | (c << 17)) + 0xa282ead8 (mod 2³²)``;
- the protobuf wire format (varint tags, length-delimited messages,
  packed repeated scalars) for ``tf.train.Example`` /
  ``Features`` / ``Feature`` / ``{Bytes,Float,Int64}List`` — the
  message layout is fixed and public, so the encoder writes wire
  bytes directly (same policy as the Avro/GIF codecs: real format,
  stdlib only, explicit refusals outside the supported lattice).

Type lattice: long/int → Int64List, double/float → FloatList
(**float32 on the wire** — TF's own convention; doubles are
narrowed, stated here rather than discovered), string/binary →
BytesList, arrays of those → multi-value lists. NULL values omit
the feature key for that row (the TF-ecosystem convention for
missing features); NULL array ELEMENTS are refused (TF lists cannot
hold holes). Anything else refuses with the type named.

Shapes are the Avro pair's: the writer encodes ONE shard per
partition through ``writers.write_container_files``; the reader
decodes each shard through ``readers.read_container_files`` and
VERIFIES both CRCs per record (a truncated or bit-flipped shard
fails loudly, never yields garbage rows).
TFRecord carries no schema, so the reader REQUIRES a declared one —
there is nothing to infer from.

Reference parity: none (engine-extension surface — the reference is
a BI/ETL project with no training exports).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ------------------------------------------------------------- crc32c

_CRC_TABLE: list[int] = []


def _crc_table() -> list[int]:
    global _CRC_TABLE
    if not _CRC_TABLE:
        poly = 0x82F63B78  # Castagnoli, reflected
        tbl = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ poly if c & 1 else c >> 1
            tbl.append(c)
        _CRC_TABLE = tbl
    return _CRC_TABLE


def crc32c(data: bytes) -> int:
    tbl = _crc_table()
    c = 0xFFFFFFFF
    for b in data:
        c = tbl[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ------------------------------------------------------ protobuf wire


def _wvarint(out: bytearray, n: int) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _wtag(out: bytearray, field: int, wire: int) -> None:
    _wvarint(out, (field << 3) | wire)


def _wlen(out: bytearray, field: int, payload: bytes) -> None:
    _wtag(out, field, 2)
    _wvarint(out, len(payload))
    out += payload


def _feature_bytes(values: list, dt: T.DataType) -> bytes:
    """One ``tf.train.Feature`` message for a row's value list."""
    t = type(dt)
    inner = bytearray()
    if t in (T.LongType, T.IntegerType):
        packed = bytearray()
        for v in values:
            # protobuf varints are two's-complement for negatives
            _wvarint(packed, int(v) & 0xFFFFFFFFFFFFFFFF)
        _wlen(inner, 1, bytes(packed))  # Int64List.value, packed
        field = 3  # Feature.int64_list
    elif t in (T.DoubleType, T.FloatType):
        packed = b"".join(struct.pack("<f", float(v)) for v in values)
        _wlen(inner, 1, packed)  # FloatList.value, packed
        field = 2  # Feature.float_list
    elif t in (T.StringType, T.BinaryType):
        for v in values:
            b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            _wlen(inner, 1, b)  # BytesList.value, one per entry
        field = 1  # Feature.bytes_list
    else:  # pragma: no cover — validated up front
        raise ValueError(f"unsupported type {dt}")
    out = bytearray()
    _wlen(out, field, bytes(inner))
    return bytes(out)


def _example_bytes(row: dict, fields) -> bytes:
    """One ``tf.train.Example``: Features is a map<string, Feature>;
    entries are emitted KEY-SORTED so re-runs are byte-identical
    (protobuf map order is unspecified — the writer picks the
    reproducible one). NULL values omit their key."""
    feats = bytearray()
    for f in sorted(fields, key=lambda f: f.name):
        v = row[f.name]
        if v is None or (isinstance(v, float) and v != v):
            continue
        if isinstance(f.dataType, T.ArrayType):
            values = list(v)
            if any(
                x is None or (isinstance(x, float) and x != x)
                for x in values
            ):
                raise ValueError(
                    f"NULL element in array feature {f.name!r}: TF "
                    "lists cannot hold holes"
                )
            elem = f.dataType.elementType
        else:
            values = [v]
            elem = f.dataType
        entry = bytearray()
        _wlen(entry, 1, f.name.encode("utf-8"))  # map key
        _wlen(entry, 2, _feature_bytes(values, elem))  # map value
        _wlen(feats, 1, bytes(entry))  # Features.feature entry
    out = bytearray()
    _wlen(out, 1, bytes(feats))  # Example.features
    return bytes(out)


def _frame_record(data: bytes) -> bytes:
    ln = struct.pack("<Q", len(data))
    return (
        ln
        + struct.pack("<I", masked_crc32c(ln))
        + data
        + struct.pack("<I", masked_crc32c(data))
    )


# --------------------------------------------------------------- decode


class _PbReader:
    __slots__ = ("buf", "pos", "end")

    def __init__(self, buf: bytes, pos: int = 0, end: int | None = None):
        self.buf = buf
        self.pos = pos
        self.end = len(buf) if end is None else end

    def varint(self) -> int:
        shift = acc = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return acc
            shift += 7

    def skip(self, wire: int) -> None:
        if wire == 0:
            self.varint()
        elif wire == 1:
            self.pos += 8
        elif wire == 2:
            self.pos += self.varint()
        elif wire == 5:
            self.pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")

    def sub(self) -> "_PbReader":
        ln = self.varint()
        r = _PbReader(self.buf, self.pos, self.pos + ln)
        self.pos += ln
        return r

    def done(self) -> bool:
        return self.pos >= self.end


def _decode_list(r: _PbReader):
    """A {Bytes,Float,Int64}List body → (kind, values). Handles both
    packed and unpacked repeated scalars (writers vary)."""
    raw: list[bytes] = []
    packed: list[bytes] = []
    unpacked: list[tuple[int, int]] = []  # (wire, scalar)
    while not r.done():
        tag = r.varint()
        field, wire = tag >> 3, tag & 7
        if field != 1:
            r.skip(wire)
            continue
        if wire == 2:
            s = r.sub()
            packed.append(r.buf[s.pos : s.end])
            raw.append(r.buf[s.pos : s.end])
        elif wire == 0:
            unpacked.append((0, r.varint()))
        elif wire == 5:
            unpacked.append(
                (5, struct.unpack_from("<I", r.buf, r.pos)[0])
            )
            r.pos += 4
        else:
            r.skip(wire)
    return raw, packed, unpacked


def _example_to_row(data: bytes) -> dict:
    """Decode one Example → {name: (kind, python values)} with kind
    ∈ {'bytes','float','int64'}."""
    out: dict = {}
    ex = _PbReader(data)
    while not ex.done():
        tag = ex.varint()
        if tag >> 3 != 1 or tag & 7 != 2:
            ex.skip(tag & 7)
            continue
        feats = ex.sub()
        while not feats.done():
            ftag = feats.varint()
            if ftag >> 3 != 1 or ftag & 7 != 2:
                feats.skip(ftag & 7)
                continue
            entry = feats.sub()
            name = None
            kind_vals = None
            while not entry.done():
                etag = entry.varint()
                ef, ew = etag >> 3, etag & 7
                if ef == 1 and ew == 2:
                    s = entry.sub()
                    name = entry.buf[s.pos : s.end].decode("utf-8")
                elif ef == 2 and ew == 2:
                    feat = entry.sub()
                    while not feat.done():
                        ktag = feat.varint()
                        kf, kw = ktag >> 3, ktag & 7
                        if kw != 2:
                            feat.skip(kw)
                            continue
                        body = feat.sub()
                        raw, packed, unpacked = _decode_list(body)
                        if kf == 1:  # bytes_list
                            kind_vals = ("bytes", raw)
                        elif kf == 2:  # float_list
                            vals = []
                            for blob in packed:
                                vals.extend(
                                    struct.unpack(
                                        f"<{len(blob) // 4}f", blob
                                    )
                                )
                            vals.extend(
                                struct.unpack("<f", struct.pack("<I", v))[0]
                                for w, v in unpacked
                                if w == 5
                            )
                            kind_vals = ("float", vals)
                        elif kf == 3:  # int64_list
                            vals = []
                            for blob in packed:
                                pr = _PbReader(blob)
                                while not pr.done():
                                    vals.append(pr.varint())
                            vals.extend(v for w, v in unpacked if w == 0)
                            # two's-complement back to signed
                            kind_vals = (
                                "int64",
                                [
                                    v - (1 << 64) if v >= (1 << 63) else v
                                    for v in vals
                                ],
                            )
                        else:
                            pass  # unknown oneof arm: ignore
                else:
                    entry.skip(ew)
            if name is not None and kind_vals is not None:
                out[name] = kind_vals
    return out


def split_tfrecords(blob: bytes) -> list[bytes]:
    """Walk a TFRecord shard into record payloads, VERIFYING both
    masked CRCs per record. A bad length-CRC stops the walk (framing
    lost); a bad data-CRC raises (silent corruption must not become
    training rows)."""
    out: list[bytes] = []
    pos = 0
    blob = blob or b""
    while pos + 12 <= len(blob):
        ln_bytes = blob[pos : pos + 8]
        (crc_l,) = struct.unpack_from("<I", blob, pos + 8)
        if masked_crc32c(ln_bytes) != crc_l:
            break
        (ln,) = struct.unpack("<Q", ln_bytes)
        start = pos + 12
        end = start + ln
        if end + 4 > len(blob):
            break  # truncated tail record
        data = blob[start:end]
        (crc_d,) = struct.unpack_from("<I", blob, end)
        if masked_crc32c(data) != crc_d:
            raise ValueError(
                f"TFRecord data CRC mismatch at offset {pos}"
            )
        out.append(data)
        pos = end + 4
    return out


# ----------------------------------------------------------- public API

_SCALARS = (
    T.LongType, T.IntegerType, T.DoubleType, T.FloatType,
    T.StringType, T.BinaryType,
)


def _validate(schema: T.StructType) -> None:
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, T.ArrayType):
            dt = dt.elementType
        if not isinstance(dt, _SCALARS):
            raise ValueError(
                f"unsupported Spark type for TFRecord IO: "
                f"{f.dataType.simpleString()} (column {f.name!r}; "
                "supported: long/int/double/float/string/binary and "
                "arrays of those)"
            )


def write_tfrecord(df: DataFrame, out_dir: str) -> int:
    """One ``.tfrecord`` shard per non-empty partition through
    ``writers.write_container_files``. Deterministic for a given
    partitioning: features key-sorted, no timestamps, no randomness.
    Returns the number of shards written."""
    from workshoop2_etl_spark.sources.writers import write_container_files

    _validate(df.schema)
    fields = df.schema.fields

    def _encode(pdf, _file_no: int) -> bytes:
        return b"".join(
            _frame_record(_example_bytes(row, fields))
            for row in pdf.to_dict("records")
        )

    return write_container_files(df, out_dir, _encode, ext="tfrecord")


def read_tfrecord(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Distributed TFRecord scan: ``readers.read_container_files``
    over the shards, each walked through its CRC-verified framing and
    decoded Example by Example against the DECLARED schema (TFRecord
    carries none). Missing features read as NULL (scalar) / NULL
    (array); kind mismatches (e.g. a bytes feature declared long)
    raise with the column named. Scalar columns take the list's
    single value; a multi-value list under a scalar column raises
    (silent truncation would drop data)."""
    import pandas as pd

    from workshoop2_etl_spark.sources.readers import read_container_files

    _validate(schema)
    fields = schema.fields
    kinds = {}
    for f in fields:
        dt = (
            f.dataType.elementType
            if isinstance(f.dataType, T.ArrayType)
            else f.dataType
        )
        if isinstance(dt, (T.LongType, T.IntegerType)):
            kinds[f.name] = "int64"
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            kinds[f.name] = "float"
        else:
            kinds[f.name] = "bytes"

    def _decode(blob: bytes) -> pd.DataFrame:
        data: dict[str, list] = {f.name: [] for f in fields}
        for rec in split_tfrecords(blob):
            row = _example_to_row(rec)
            for f in fields:
                got = row.get(f.name)
                if got is None:
                    data[f.name].append(None)
                    continue
                kind, vals = got
                if kind != kinds[f.name]:
                    raise ValueError(
                        f"feature {f.name!r} is {kind} on the "
                        f"wire but declared "
                        f"{f.dataType.simpleString()}"
                    )
                if kind == "bytes":
                    vals = [
                        v.decode("utf-8")
                        if isinstance(
                            (
                                f.dataType.elementType
                                if isinstance(
                                    f.dataType, T.ArrayType
                                )
                                else f.dataType
                            ),
                            T.StringType,
                        )
                        else bytes(v)
                        for v in vals
                    ]
                if isinstance(f.dataType, T.ArrayType):
                    data[f.name].append(list(vals))
                elif len(vals) == 1:
                    data[f.name].append(vals[0])
                else:
                    raise ValueError(
                        f"feature {f.name!r} holds "
                        f"{len(vals)} values but is declared "
                        "scalar"
                    )
        out = {}
        for f in fields:
            t = type(f.dataType)
            if t is T.LongType:
                out[f.name] = pd.array(data[f.name], dtype="Int64")
            elif t is T.IntegerType:
                out[f.name] = pd.array(data[f.name], dtype="Int32")
            elif t is T.DoubleType:
                out[f.name] = pd.array(data[f.name], dtype="float64")
            elif t is T.FloatType:
                out[f.name] = pd.array(data[f.name], dtype="float32")
            else:
                out[f.name] = pd.Series(data[f.name], dtype="object")
        return pd.DataFrame(out)

    return read_container_files(spark, path, _decode, schema, ext="tfrecord")
