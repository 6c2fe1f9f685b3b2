"""MP4 / ISO-BMFF (ISO/IEC 14496-12) metadata triage — box walk, no codec.

Beyond-reference capability (the reference ships no media handling):
the metadata pass a large-scale multimodal pipeline runs over crawl
VIDEO before deciding what to pay for — container duration, track
count, and brand come from the box STRUCTURE (a few hundred bytes of
headers), while the actual bitstream decode stays an honest refusal
(H.264/AV1 codecs are absent in this container, and out of scope).
This is the same two-phase economics as `jpeg.parse_jpeg_dims` and
`gif.parse_gif_meta`: at 100 TB you walk headers for every asset and
decode only survivors.

The walker is hand-rolled from the ISO base-media spec: big-endian
[size][4cc] boxes, size==1 → 64-bit largesize, size==0 → to end of
enclosing container, nested containers (moov/trak) recursed, unknown
boxes skipped by size, `mvhd` versions 0 (32-bit times) and 1
(64-bit) both parsed.

Oracle strategy: the synth fixture builds a minimal ftyp+moov per
document with duration = the document's utf-8 byte length (timescale
1000) and 1 + (doc_id % 3) tracks — every reported field is a closed
form DuckDB computes from `documents` without MP4 knowledge.
"""
from __future__ import annotations

import struct
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}


class Mp4Meta(NamedTuple):
    brand: str
    timescale: int
    duration: int
    n_tracks: int


def _walk(payload: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in [start, end);
    validates sizes so a corrupt length cannot loop or overrun."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        size = struct.unpack_from(">I", payload, pos)[0]
        btype = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated 64-bit box size")
            size = struct.unpack_from(">Q", payload, pos + 8)[0]
            body = pos + 16
        elif size == 0:  # box extends to the end of the container
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"box {btype!r} size {size} overruns container")
        yield btype, body, pos + size
        pos += size


def parse_mp4_meta(payload: bytes) -> Mp4Meta:
    """Metadata-only pass over an ISO-BMFF container: (major brand,
    movie timescale, movie duration, track count). Touches only box
    headers + the fixed mvhd fields; mdat bytes are skipped by size.
    Honest refusal: anything needing a CODEC (frame decode, sample
    tables) is out of scope — this is the triage pass."""
    if len(payload) < 8:
        raise ValueError("not an ISO-BMFF container (too short)")
    brand = ""
    timescale = duration = None
    n_tracks = 0
    seen_moov = False
    for btype, body, bend in _walk(payload, 0, len(payload)):
        if btype == b"ftyp":
            if bend - body < 4:
                raise ValueError("short ftyp box")
            brand = payload[body : body + 4].decode("latin-1")
        elif btype == b"moov":
            seen_moov = True
            for ityp, ibody, ibend in _walk(payload, body, bend):
                if ityp == b"mvhd":
                    if ibend - ibody < 32:
                        raise ValueError("short mvhd box")
                    version = payload[ibody]
                    if version == 1:
                        timescale = struct.unpack_from(
                            ">I", payload, ibody + 20
                        )[0]
                        duration = struct.unpack_from(
                            ">Q", payload, ibody + 24
                        )[0]
                    elif version == 0:
                        timescale = struct.unpack_from(
                            ">I", payload, ibody + 12
                        )[0]
                        duration = struct.unpack_from(
                            ">I", payload, ibody + 16
                        )[0]
                    else:
                        raise ValueError(f"mvhd version {version}")
                elif ityp == b"trak":
                    n_tracks += 1
    if not seen_moov or timescale is None:
        raise ValueError("no moov/mvhd in container")
    return Mp4Meta(brand, timescale, duration, n_tracks)


# --------------------------------------------------------------------------
# encoder (synth fixture + tests)


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def encode_mp4_meta(duration: int, n_tracks: int,
                    timescale: int = 1000,
                    version: int = 0,
                    mdat: bytes = b"") -> bytes:
    """Minimal valid ISO-BMFF: ftyp + moov(mvhd + n·trak(tkhd)) +
    optional mdat. mvhd v0/v1 both writable (the decoder must parse
    both); track boxes carry a fixed tkhd so the walker exercises one
    nesting level."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp42")
    if version == 1:
        mvhd_body = (
            bytes([1, 0, 0, 0]) + struct.pack(">QQIQ", 0, 0, timescale,
                                              duration)
            + struct.pack(">IH", 0x00010000, 0x0100) + bytes(10)
            + bytes(36) + bytes(24) + struct.pack(">I", n_tracks + 1)
        )
    else:
        mvhd_body = (
            bytes([0, 0, 0, 0]) + struct.pack(">IIII", 0, 0, timescale,
                                              duration)
            + struct.pack(">IH", 0x00010000, 0x0100) + bytes(10)
            + bytes(36) + bytes(24) + struct.pack(">I", n_tracks + 1)
        )
    traks = b"".join(
        _box(b"trak", _box(b"tkhd", bytes([0, 0, 0, 7])
                           + struct.pack(">III", 0, 0, k + 1) + bytes(68)))
        for k in range(n_tracks)
    )
    out = ftyp + _box(b"moov", _box(b"mvhd", mvhd_body) + traks)
    if mdat:
        out += _box(b"mdat", mdat)
    return out


# --------------------------------------------------------------------------
# Spark query

MP4_META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("brand", T.StringType(), True),
        T.StructField("timescale", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_tracks", T.IntegerType(), True),
    ]
)


def multimodal_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → minimal MP4 containers (duration = utf-8 byte
    length at timescale 1000, tracks = 1 + doc_id % 3, mvhd v1 for
    every 5th doc so both versions ride the driver path, the text
    itself as mdat payload the walker must SKIP) → metadata triage.
    All fields are closed forms of the document row for the oracle."""
    def walk(d: int, text: str):
        data = text.encode("utf-8")
        m = parse_mp4_meta(
            encode_mp4_meta(
                duration=len(data),
                n_tracks=1 + d % 3,
                version=1 if d % 5 == 0 else 0,
                mdat=data,
            )
        )
        yield (d, m.brand, m.timescale, m.duration * 1000 // m.timescale,
               m.n_tracks)

    return walker_query(spark, sf_dir, walk, MP4_META_SCHEMA)


MULTIMODAL_MP4_SQL = """
SELECT doc_id AS asset_id,
       'isom' AS brand,
       1000 AS timescale,
       CAST(octet_length(encode(text)) AS BIGINT) AS duration_ms,
       CAST(1 + doc_id % 3 AS INTEGER) AS n_tracks
FROM documents
ORDER BY asset_id
"""


QUERIES = {
    "multimodal_mp4_meta": multimodal_mp4_meta,
}

ORACLES = {
    "multimodal_mp4_meta": MULTIMODAL_MP4_SQL,
}
