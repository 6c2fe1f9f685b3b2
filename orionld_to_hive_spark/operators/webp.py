"""WebP (RIFF) triage — container walk + bitstream-header dims, no pixel decode.

Beyond-reference capability (the reference ships no image handling):
WebP is the third image format by volume in modern web crawls behind
JPEG and PNG, and the triage a 100 TB pipeline needs first is exactly
what the format's container exposes without a codec: walk the RIFF
chunks, classify the variant (simple lossy VP8 / simple lossless VP8L
/ extended VP8X), and read the dimensions + alpha/animation flags
from the fixed-layout bitstream headers. The VP8/VP8L entropy-coded
payloads stay honestly opaque — the `parse_mp4_meta`/`parse_mp3_meta`
move applied to the image row (JPEG/PNG/GIF decode for real in this
repo; WebP joins at the triage tier).

Hand-rolled from the public container + bitstream specs:

  - RIFF: "RIFF" + u32le size + "WEBP"; chunks are fourcc + u32le
    size + payload, padded to even offsets.
  - VP8 (lossy, RFC 6386 §9.1): 3-byte frame tag (frame_type bit —
    key frames only here —, version, show_frame, 19-bit first
    partition size), 3-byte start code 9D 01 2A, then u16le
    width|scale and height|scale (14-bit dims).
  - VP8L (lossless): signature byte 0x2F, then a u32le packing
    14-bit width-1, 14-bit height-1, 1 alpha bit, 3 version bits
    (must be 0).
  - VP8X (extended): 4-byte flags (ICC 0x20, alpha 0x10, EXIF 0x08,
    XMP 0x04, animation 0x02) + u24le canvas width-1 / height-1,
    followed by the feature chunks.

Refusals are loud: bad magic, RIFF size not matching the file, chunk
overruns, inter (non-key) VP8 frames, bad start codes/signatures,
nonzero VP8L version, zero dimensions, VP8X without an image chunk.

Oracle strategy: the fixture writers emit headers whose every field
is a closed form of the document row (variant from doc_id mod 3, dims
from doc_id, flags from parity), with deterministic filler where the
entropy-coded payload would sit — so DuckDB computes the full
manifest from `documents` while the Spark side must actually walk
the container and unpack the bit fields.
"""
from __future__ import annotations

import struct
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query


class WebpMeta(NamedTuple):
    fmt: str  # 'lossy' | 'lossless' | 'extended'
    width: int
    height: int
    has_alpha: bool
    has_anim: bool
    n_chunks: int


def _chunks(payload: bytes) -> Iterator[tuple[str, bytes]]:
    n = len(payload)
    pos = 12
    while pos < n:
        if pos + 8 > n:
            raise ValueError("webp: truncated chunk header")
        fourcc = payload[pos : pos + 4]
        try:
            tag = fourcc.decode("ascii")
        except UnicodeDecodeError as e:
            raise ValueError(f"webp: non-ascii chunk fourcc {fourcc!r}") from e
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body_end = pos + 8 + size
        if body_end > n:
            raise ValueError(f"webp: chunk {tag!r} overruns the file")
        yield tag, payload[pos + 8 : body_end]
        pos = body_end + (size & 1)  # chunks are even-aligned


def _vp8_dims(body: bytes) -> tuple[int, int]:
    """Key-frame header per RFC 6386 §9.1 — 10 fixed bytes before the
    first partition."""
    if len(body) < 10:
        raise ValueError("webp: VP8 chunk too short for a frame header")
    tag = body[0] | (body[1] << 8) | (body[2] << 16)
    if tag & 0x1:
        raise ValueError("webp: VP8 inter frame in a still image")
    version = (tag >> 1) & 0x7
    if version > 3:
        raise ValueError(f"webp: reserved VP8 version {version}")
    first_part = tag >> 5
    if 10 + first_part > len(body):
        raise ValueError("webp: VP8 first partition overruns the chunk")
    if body[3:6] != b"\x9d\x01\x2a":
        raise ValueError("webp: bad VP8 start code")
    w = struct.unpack_from("<H", body, 6)[0] & 0x3FFF
    h = struct.unpack_from("<H", body, 8)[0] & 0x3FFF
    if w == 0 or h == 0:
        raise ValueError("webp: zero VP8 dimension")
    return w, h


def _vp8l_header(body: bytes) -> tuple[int, int, bool]:
    if len(body) < 5:
        raise ValueError("webp: VP8L chunk too short for a header")
    if body[0] != 0x2F:
        raise ValueError("webp: bad VP8L signature byte")
    bits = struct.unpack_from("<I", body, 1)[0]
    w = (bits & 0x3FFF) + 1
    h = ((bits >> 14) & 0x3FFF) + 1
    alpha = bool((bits >> 28) & 0x1)
    version = (bits >> 29) & 0x7
    if version != 0:
        raise ValueError(f"webp: nonzero VP8L version {version}")
    return w, h, alpha


def parse_webp_meta(payload: bytes) -> WebpMeta:
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("webp: bad RIFF/WEBP magic")
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    if riff_size + 8 != len(payload):
        raise ValueError("webp: RIFF size does not frame the file")
    seen = list(_chunks(payload))
    if not seen:
        raise ValueError("webp: no chunks after the RIFF header")
    tag0, body0 = seen[0]
    if tag0 == "VP8 ":
        if len(seen) != 1:
            raise ValueError("webp: simple lossy file with extra chunks")
        w, h = _vp8_dims(body0)
        return WebpMeta("lossy", w, h, False, False, 1)
    if tag0 == "VP8L":
        if len(seen) != 1:
            raise ValueError("webp: simple lossless file with extra chunks")
        w, h, alpha = _vp8l_header(body0)
        return WebpMeta("lossless", w, h, alpha, False, 1)
    if tag0 == "VP8X":
        if len(body0) != 10:
            raise ValueError("webp: VP8X chunk must be exactly 10 bytes")
        flags = body0[0]
        if flags & 0xC1:
            raise ValueError("webp: reserved VP8X flag bits set")
        anim = bool(flags & 0x02)
        alpha = bool(flags & 0x10)
        w = 1 + (body0[4] | (body0[5] << 8) | (body0[6] << 16))
        h = 1 + (body0[7] | (body0[8] << 8) | (body0[9] << 16))
        rest = {t for t, _ in seen[1:]}
        known = {"ANIM", "ANMF", "ALPH", "VP8 ", "VP8L", "EXIF", "XMP ", "ICCP"}
        if not rest <= known:
            raise ValueError(f"webp: unknown chunk(s) {sorted(rest - known)}")
        if anim and "ANIM" not in rest:
            raise ValueError("webp: animation flag without an ANIM chunk")
        if not anim and not ({"VP8 ", "VP8L"} & rest):
            raise ValueError("webp: extended still image without an image chunk")
        return WebpMeta("extended", w, h, alpha, anim, len(seen))
    raise ValueError(f"webp: unexpected first chunk {tag0!r}")


# --------------------------------------------------------------------------
# Fixture writers — real headers, deterministic filler payloads.


def _riff(chunks: list[tuple[bytes, bytes]]) -> bytes:
    body = b"".join(
        fourcc + struct.pack("<I", len(c)) + c + (b"\x00" if len(c) & 1 else b"")
        for fourcc, c in chunks
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def _vp8_chunk(w: int, h: int, fill: int) -> bytes:
    tag = (0 << 0) | (0 << 1) | (1 << 4) | (fill << 5)  # key, v0, shown
    hdr = (
        bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF])
        + b"\x9d\x01\x2a"
        + struct.pack("<H", w)
        + struct.pack("<H", h)
    )
    return hdr + bytes((i * 7 + 3) & 0xFF for i in range(fill))


def _vp8l_chunk(w: int, h: int, alpha: bool, fill: int) -> bytes:
    bits = (w - 1) | ((h - 1) << 14) | (int(alpha) << 28)
    return b"\x2f" + struct.pack("<I", bits) + bytes((i * 5 + 1) & 0xFF for i in range(fill))


def encode_webp_lossy(w: int, h: int, fill: int = 16) -> bytes:
    return _riff([(b"VP8 ", _vp8_chunk(w, h, fill))])


def encode_webp_lossless(w: int, h: int, alpha: bool, fill: int = 16) -> bytes:
    return _riff([(b"VP8L", _vp8l_chunk(w, h, alpha, fill))])


def encode_webp_extended(
    w: int, h: int, alpha: bool, anim: bool, exif: bytes | None = None
) -> bytes:
    flags = (0x10 if alpha else 0) | (0x02 if anim else 0) | (0x08 if exif else 0)
    vp8x = bytes([flags, 0, 0, 0]) + struct.pack("<I", w - 1)[:3] + struct.pack(
        "<I", h - 1
    )[:3]
    chunks: list[tuple[bytes, bytes]] = [(b"VP8X", vp8x)]
    if anim:
        chunks.append((b"ANIM", struct.pack("<IH", 0xFFFFFFFF, 0)))
        # one frame: 16-byte ANMF prefix + embedded lossy bitstream
        sub = _vp8_chunk(w, h, 8)
        anmf = bytes(12) + struct.pack("<I", 0)[:4] + b"VP8 " + struct.pack(
            "<I", len(sub)
        ) + sub
        chunks.append((b"ANMF", anmf))
    else:
        chunks.append((b"VP8 ", _vp8_chunk(w, h, 8)))
    if exif:
        chunks.append((b"EXIF", exif))
    return _riff(chunks)


# --------------------------------------------------------------------------
# Spark query

WEBP_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("has_alpha", T.BooleanType(), True),
        T.StructField("has_anim", T.BooleanType(), True),
        T.StructField("n_chunks", T.IntegerType(), True),
    ]
)


def multimodal_webp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → WebP fixtures (variant = doc_id mod 3, dims/flags
    closed forms of doc_id, filler sized by the text) → triage. The
    RIFF walk, frame-tag arithmetic, VP8L bit unpack, and VP8X flag
    decode are all on the oracle path for every graded row."""
    def walk(d: int, text: str):
        w = 16 + d % 100
        h = 16 + d % 57
        fill = 8 + len(text.encode("utf-8")) % 64
        if d % 3 == 0:
            raw = encode_webp_lossy(w, h, fill)
        elif d % 3 == 1:
            raw = encode_webp_lossless(w, h, d % 2 == 0, fill)
        else:
            raw = encode_webp_extended(
                w, h, d % 2 == 0, d % 4 == 0,
                exif=b"II*\x00" if d % 5 == 0 else None,
            )
        m = parse_webp_meta(raw)
        yield (d, m.fmt, m.width, m.height, m.has_alpha, m.has_anim,
               m.n_chunks)

    return walker_query(spark, sf_dir, walk, WEBP_SCHEMA)


# variant by doc_id mod 3; dims 16+id%100 / 16+id%57; alpha only on
# the lossless/extended variants for even ids; anim on extended when
# id%4==0; extended chunk count = VP8X + (ANIM+ANMF | VP8) + EXIF@id%5==0.
WEBP_SQL = """
SELECT doc_id AS asset_id,
       CASE doc_id % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
            ELSE 'extended' END AS fmt,
       CAST(16 + doc_id % 100 AS INTEGER) AS width,
       CAST(16 + doc_id % 57 AS INTEGER) AS height,
       (doc_id % 3 <> 0 AND doc_id % 2 = 0) AS has_alpha,
       (doc_id % 3 = 2 AND doc_id % 4 = 0) AS has_anim,
       CAST(CASE WHEN doc_id % 3 <> 2 THEN 1
                 ELSE 1 + CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END
                        + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
            END AS INTEGER) AS n_chunks
FROM documents
ORDER BY asset_id
"""


QUERIES = {"multimodal_webp_meta": multimodal_webp_meta}

ORACLES = {"multimodal_webp_meta": WEBP_SQL}
