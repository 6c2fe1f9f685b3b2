"""EXIF / TIFF IFD walk — image metadata triage, no pixel decode.

Beyond-reference capability, completing the image-triage row: real
crawl JPEGs carry an Exif APP1 segment (a TIFF byte stream) holding
the fields image curation filters on — orientation (rotation
normalization BEFORE any resize), camera make/model (device
dedup/provenance), capture time, declared pixel dimensions. All of it
sits in the first ~1 KB; the pixel decode (`jpeg.py`) is never needed
for the filter pass — the same two-phase economics as every walker in
this family.

Hand-rolled from the public TIFF 6.0 + Exif 2.3 layouts:

  - TIFF header: byte order "II" (little) / "MM" (big) — BOTH orders
    are on the oracle path via doc_id parity — then magic 42, then
    the IFD0 offset.
  - an IFD: u16 entry count, 12-byte entries (tag u16, type u16,
    count u32, value-or-offset u32 — the value lives inline when
    type-size × count ≤ 4, else at the offset), u32 next-IFD offset.
  - types: 1 BYTE, 2 ASCII (count INCLUDES the NUL terminator —
    enforced), 3 SHORT, 4 LONG, 5 RATIONAL, 7 UNDEFINED, 9 SLONG,
    10 SRATIONAL.
  - Exif private IFD: tag 0x8769 in IFD0 points at a second IFD with
    the photo fields (PixelXDimension 0xA002, PixelYDimension 0xA003).
  - JPEG wiring: APP1 segment whose payload starts "Exif\\0\\0",
    walked to by the standard segment scan (SOI, u16-length
    segments, stop at SOS).

Strict walker in the family's style: wrong magic, entry overruns,
unterminated ASCII, wrong field types for the known tags, and
orientation outside 1..8 refuse loudly.

Oracle strategy: the fixture embeds a real Exif APP1 into the actual
flat-block grey JPEG (`jpeg.encode_jpeg_gray_flat`) — a unit pins
that `decode_jpeg` still decodes the tagged file bit-identically, so
the tag inserter provably doesn't disturb the pixel path — with every
field a closed form of the document row.
"""
from __future__ import annotations

import struct
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_DATETIME = 0x0132
TAG_EXIF_IFD = 0x8769
TAG_PIXEL_X = 0xA002
TAG_PIXEL_Y = 0xA003


class ExifMeta(NamedTuple):
    byte_order: str  # 'II' | 'MM'
    n_ifd0: int
    orientation: int | None
    make: str | None
    model: str | None
    datetime: str | None
    pixel_x: int | None
    pixel_y: int | None


def _read_ifd(data: bytes, off: int, e: str) -> tuple[dict, int]:
    """One IFD at `off`: {tag: (type, count, raw_value_bytes)} and the
    next-IFD offset. Bounds-checked; out-of-line values resolved."""
    n = len(data)
    if off + 2 > n:
        raise ValueError("IFD offset overruns TIFF stream")
    (cnt,) = struct.unpack_from(e + "H", data, off)
    end = off + 2 + 12 * cnt + 4
    if end > n:
        raise ValueError("IFD entries overrun TIFF stream")
    entries: dict[int, tuple[int, int, bytes]] = {}
    prev_tag = -1
    for i in range(cnt):
        base = off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(e + "HHI", data, base)
        if tag <= prev_tag:
            raise ValueError("IFD tags not strictly ascending")
        prev_tag = tag
        if typ not in _TYPE_SIZE:
            raise ValueError(f"unknown TIFF field type {typ}")
        size = _TYPE_SIZE[typ] * count
        if size <= 4:
            raw = data[base + 8 : base + 8 + size]
        else:
            (voff,) = struct.unpack_from(e + "I", data, base + 8)
            if voff + size > n:
                raise ValueError(f"tag 0x{tag:04X} value overruns stream")
            raw = data[voff : voff + size]
        entries[tag] = (typ, count, raw)
    (nxt,) = struct.unpack_from(e + "I", data, off + 2 + 12 * cnt)
    return entries, nxt


def _ascii(entries: dict, tag: int) -> str | None:
    if tag not in entries:
        return None
    typ, count, raw = entries[tag]
    if typ != 2:
        raise ValueError(f"tag 0x{tag:04X} is not ASCII (type {typ})")
    if count == 0 or raw[-1:] != b"\x00":
        raise ValueError(f"ASCII tag 0x{tag:04X} not NUL-terminated")
    return raw[:-1].decode("ascii")


def _scalar(entries: dict, tag: int, e: str) -> int | None:
    if tag not in entries:
        return None
    typ, count, raw = entries[tag]
    if count != 1 or typ not in (3, 4):
        raise ValueError(
            f"tag 0x{tag:04X} is not a scalar SHORT/LONG "
            f"(type {typ}, count {count})"
        )
    return struct.unpack(e + ("H" if typ == 3 else "I"), raw)[0]


def parse_tiff(data: bytes) -> ExifMeta:
    """TIFF/Exif walk per the module contract."""
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        raise ValueError(f"bad TIFF byte order {data[:2]!r}")
    if len(data) < 8:
        raise ValueError("truncated TIFF header")
    magic, ifd0_off = struct.unpack_from(e + "HI", data, 2)
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")
    ifd0, _ = _read_ifd(data, ifd0_off, e)
    orientation = _scalar(ifd0, TAG_ORIENTATION, e)
    if orientation is not None and not 1 <= orientation <= 8:
        raise ValueError(f"invalid Exif orientation {orientation}")
    px = py = None
    if TAG_EXIF_IFD in ifd0:
        typ, count, raw = ifd0[TAG_EXIF_IFD]
        if typ != 4 or count != 1:
            raise ValueError("Exif IFD pointer is not a LONG")
        (eoff,) = struct.unpack(e + "I", raw)
        exif, _ = _read_ifd(data, eoff, e)
        px = _scalar(exif, TAG_PIXEL_X, e)
        py = _scalar(exif, TAG_PIXEL_Y, e)
    return ExifMeta(
        byte_order=data[:2].decode("ascii"),
        n_ifd0=len(ifd0),
        orientation=orientation,
        make=_ascii(ifd0, TAG_MAKE),
        model=_ascii(ifd0, TAG_MODEL),
        datetime=_ascii(ifd0, TAG_DATETIME),
        pixel_x=px,
        pixel_y=py,
    )


def parse_jpeg_exif(payload: bytes) -> ExifMeta:
    """JPEG segment scan to the Exif APP1, then the TIFF walk. Stops
    at SOS (entropy data follows); a JPEG without an Exif APP1
    refuses with 'no Exif APP1'."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9 or marker == 0xDA:
            break  # EOI / SOS: no Exif before the image data
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        if seglen < 2 or pos + 2 + seglen > n:
            raise ValueError("JPEG segment overruns payload")
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            return parse_tiff(body[6:])
        pos += 2 + seglen
    raise ValueError("no Exif APP1 segment")


# --------------------------------------------------------------------------
# encoder (synth fixture + tests)


def _enc_ifd(e: str, entries: list, ifd_off: int) -> bytes:
    """entries: (tag, type, count, value_bytes); out-of-line data is
    placed right after this IFD, word-aligned."""
    cnt = len(entries)
    data_off = ifd_off + 2 + 12 * cnt + 4
    out = struct.pack(e + "H", cnt)
    extra = bytearray()
    for tag, typ, count, vb in sorted(entries):
        out += struct.pack(e + "HHI", tag, typ, count)
        if len(vb) <= 4:
            out += vb + bytes(4 - len(vb))
        else:
            out += struct.pack(e + "I", data_off + len(extra))
            extra += vb
            if len(vb) % 2:
                extra += b"\x00"
    out += struct.pack(e + "I", 0)
    return out + bytes(extra)


def encode_tiff_exif(e: str, make: str, model: str, orientation: int,
                     datetime: str, pixel_x: int, pixel_y: int) -> bytes:
    def asc(s: str) -> bytes:
        return s.encode("ascii") + b"\x00"

    def short(v: int) -> bytes:
        return struct.pack(e + "H", v)

    def long_(v: int) -> bytes:
        return struct.pack(e + "I", v)

    ifd0_entries = [
        (TAG_MAKE, 2, len(make) + 1, asc(make)),
        (TAG_MODEL, 2, len(model) + 1, asc(model)),
        (TAG_ORIENTATION, 3, 1, short(orientation)),
        (TAG_DATETIME, 2, len(datetime) + 1, asc(datetime)),
        (TAG_EXIF_IFD, 4, 1, long_(0)),  # patched below
    ]
    # two-pass: IFD0's byte length is independent of the pointer value
    draft = _enc_ifd(e, ifd0_entries, 8)
    exif_off = 8 + len(draft)
    ifd0_entries[-1] = (TAG_EXIF_IFD, 4, 1, long_(exif_off))
    ifd0 = _enc_ifd(e, ifd0_entries, 8)
    assert len(ifd0) == len(draft)
    exif = _enc_ifd(
        e,
        [(TAG_PIXEL_X, 4, 1, long_(pixel_x)),
         (TAG_PIXEL_Y, 4, 1, long_(pixel_y))],
        exif_off,
    )
    order = b"II" if e == "<" else b"MM"
    return order + struct.pack(e + "HI", 42, 8) + ifd0 + exif


def exif_fields_for(doc_id: int, n_text_bytes: int) -> tuple:
    """The closed-form field set shared by the fixture and the units."""
    return (
        "synth-cam",
        f"m{doc_id % 5}",
        1 + doc_id % 8,
        f"2024:01:{1 + doc_id % 28:02d} 12:{doc_id % 60:02d}:00",
        n_text_bytes,
        doc_id % 480 + 1,
    )


def insert_exif_app1(jpeg: bytes, tiff: bytes) -> bytes:
    """Insert an Exif APP1 right after SOI of a real JPEG."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    body = b"Exif\x00\x00" + tiff
    return (
        jpeg[:2]
        + b"\xff\xe1"
        + struct.pack(">H", len(body) + 2)
        + body
        + jpeg[2:]
    )


def encode_jpeg_with_exif(doc_id: int, text_bytes: bytes) -> bytes:
    import numpy as np

    from orionld_to_hive_spark.operators.jpeg import encode_jpeg_gray_flat

    e = "<" if doc_id % 2 == 0 else ">"
    make, model, orient, dt, px, py = exif_fields_for(
        doc_id, len(text_bytes)
    )
    tiff = encode_tiff_exif(e, make, model, orient, dt, px, py)
    base = encode_jpeg_gray_flat(
        np.frombuffer(text_bytes, dtype=np.uint8)
    )
    return insert_exif_app1(base, tiff)


# --------------------------------------------------------------------------
# Spark query

EXIF_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("byte_order", T.StringType(), True),
        T.StructField("n_ifd0", T.IntegerType(), True),
        T.StructField("orientation", T.IntegerType(), True),
        T.StructField("make", T.StringType(), True),
        T.StructField("model", T.StringType(), True),
        T.StructField("datetime", T.StringType(), True),
        T.StructField("pixel_x", T.LongType(), True),
        T.StructField("pixel_y", T.LongType(), True),
    ]
)


def multimodal_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → real grey JPEGs with an embedded Exif APP1 (both
    TIFF byte orders via doc_id parity, inline AND out-of-line
    values, a private Exif sub-IFD) → segment scan + IFD walk. Every
    reported field is a closed form of the document row."""
    def walk(d: int, text: str):
        m = parse_jpeg_exif(encode_jpeg_with_exif(d, text.encode("utf-8")))
        yield (d, m.byte_order, m.n_ifd0, m.orientation, m.make, m.model,
               m.datetime, m.pixel_x, m.pixel_y)

    return walker_query(spark, sf_dir, walk, EXIF_SCHEMA)


MULTIMODAL_EXIF_SQL = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
       5 AS n_ifd0,
       CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
       'synth-cam' AS make,
       'm' || (doc_id % 5) AS model,
       '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
         || ' 12:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
         || ':00' AS datetime,
       CAST(octet_length(encode(text)) AS BIGINT) AS pixel_x,
       CAST(doc_id % 480 + 1 AS BIGINT) AS pixel_y
FROM documents
ORDER BY asset_id
"""


QUERIES = {
    "multimodal_exif_meta": multimodal_exif_meta,
}

ORACLES = {
    "multimodal_exif_meta": MULTIMODAL_EXIF_SQL,
}
