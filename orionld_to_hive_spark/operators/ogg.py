"""Ogg container walk — page framing, real CRC-32, Vorbis/Opus id headers.

Beyond-reference capability: Ogg is the free-codec audio container of
the open web (Vorbis/Opus podcasts, Wikimedia audio, game assets) and
completes this repo's audio row — WAV/G.711 decode for real, MP3 lossy
triage, FLAC lossless triage, and now the Ogg page walk with the
codec identification headers. The entropy-coded audio packets stay
honestly opaque; everything a 100 TB triage stage needs (codec,
channels, rate, exact duration from the final granule position, page/
packet accounting) comes from the container.

Hand-rolled from the public specs (RFC 3533 framing; Vorbis I §4.2.2
identification header; RFC 7845 §5.1 OpusHead):

  - page: "OggS" + version 0 + header-type flags (0x01 continued,
    0x02 BOS, 0x04 EOS) + granule (u64le) + serial (u32le) + page
    sequence (u32le) + CRC (u32le) + segment count + lacing table;
    packet boundaries from lacing values (255 = continues, <255 =
    ends).
  - page CRC: the Ogg polynomial 0x04c11db7, UNREFLECTED, init 0,
    no final xor, computed with the CRC field zeroed — verified on
    EVERY page (the writer embeds it; a single flipped payload bit
    refuses).
  - Vorbis id header: packet type 1 + "vorbis" + version 0 +
    channels + rate + bitrates + blocksizes + framing bit.
  - OpusHead: magic + version 1 + channels + pre-skip + input rate;
    granule positions are ALWAYS 48 kHz for Opus (RFC 7845 §4).

Strict single-stream profile (multiplexed/chained streams refuse):
one serial number, page sequence must increase by exactly 1, BOS
exactly on page 0, EOS exactly on the last page.

Oracle strategy (the container-family construction): fixtures are
real three-page streams whose codec/channels/rate/granule/packet
counts are closed forms of the document row; the CRC verification,
lacing walk, and id-header unpack are on the oracle path for every
graded row.
"""
from __future__ import annotations

import struct
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

_MAGIC = b"OggS"


def _crc_table() -> list[int]:
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if r & 0x80000000 else (r << 1) & 0xFFFFFFFF
        table.append(r)
    return table


_CRC = _crc_table()


def ogg_crc(data: bytes) -> int:
    """RFC 3533 / Vorbis I appendix A: unreflected 0x04c11db7, zero
    init, zero final xor."""
    r = 0
    for b in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ _CRC[((r >> 24) & 0xFF) ^ b]
    return r


class OggPage(NamedTuple):
    flags: int
    granule: int
    serial: int
    seq: int
    segments: list[int]  # lacing values
    payload: bytes


class OggMeta(NamedTuple):
    codec: str  # 'vorbis' | 'opus'
    channels: int
    sample_rate: int  # granule clock (48000 for opus, id-header rate for vorbis)
    n_pages: int
    n_packets: int
    duration_ms: int  # exact: granule_final * 1000 // sample_rate


def _parse_page(payload: bytes, pos: int) -> tuple[OggPage, int]:
    if payload[pos : pos + 4] != _MAGIC:
        raise ValueError("ogg: bad page magic")
    if pos + 27 > len(payload):
        raise ValueError("ogg: truncated page header")
    version = payload[pos + 4]
    if version != 0:
        raise ValueError(f"ogg: unsupported stream structure version {version}")
    flags = payload[pos + 5]
    if flags & ~0x07:
        raise ValueError(f"ogg: reserved header-type bits set ({flags:#x})")
    granule = struct.unpack_from("<q", payload, pos + 6)[0]
    serial = struct.unpack_from("<I", payload, pos + 14)[0]
    seq = struct.unpack_from("<I", payload, pos + 18)[0]
    crc = struct.unpack_from("<I", payload, pos + 22)[0]
    nseg = payload[pos + 26]
    lace_end = pos + 27 + nseg
    if lace_end > len(payload):
        raise ValueError("ogg: truncated lacing table")
    segments = list(payload[pos + 27 : lace_end])
    body_len = sum(segments)
    end = lace_end + body_len
    if end > len(payload):
        raise ValueError("ogg: page payload overruns the file")
    page_bytes = bytearray(payload[pos:end])
    page_bytes[22:26] = b"\x00\x00\x00\x00"
    if ogg_crc(bytes(page_bytes)) != crc:
        raise ValueError(f"ogg: page CRC mismatch on page {seq}")
    return OggPage(flags, granule, serial, seq, segments, payload[lace_end:end]), end


def parse_ogg_pages(payload: bytes) -> list[OggPage]:
    """Walk + verify every page; enforce the single-stream profile."""
    pages: list[OggPage] = []
    pos = 0
    while pos < len(payload):
        page, pos = _parse_page(payload, pos)
        pages.append(page)
    if not pages:
        raise ValueError("ogg: no pages")
    serial = pages[0].serial
    for i, p in enumerate(pages):
        if p.serial != serial:
            raise NotImplementedError("ogg: multiplexed/chained streams not supported")
        if p.seq != i:
            raise ValueError(f"ogg: page sequence gap (page {i} has seq {p.seq})")
        if bool(p.flags & 0x02) != (i == 0):
            raise ValueError("ogg: BOS flag not exactly on the first page")
        if bool(p.flags & 0x04) != (i == len(pages) - 1):
            raise ValueError("ogg: EOS flag not exactly on the last page")
    return pages


def _packets(pages: list[OggPage]) -> list[bytes]:
    """Reassemble packets from lacing values across page boundaries."""
    packets: list[bytes] = []
    cur = bytearray()
    open_packet = False
    for p in pages:
        if bool(p.flags & 0x01) != open_packet:
            raise ValueError("ogg: continued-packet flag disagrees with lacing state")
        off = 0
        for lace in p.segments:
            cur += p.payload[off : off + lace]
            off += lace
            if lace < 255:
                packets.append(bytes(cur))
                cur = bytearray()
                open_packet = False
            else:
                open_packet = True
    if open_packet:
        raise ValueError("ogg: stream ends mid-packet")
    return packets


def parse_ogg_meta(payload: bytes) -> OggMeta:
    pages = parse_ogg_pages(payload)
    packets = _packets(pages)
    if not packets:
        raise ValueError("ogg: no packets")
    first = packets[0]
    if first.startswith(b"\x01vorbis"):
        if len(first) < 30:
            raise ValueError("ogg: vorbis id header too short")
        version = struct.unpack_from("<I", first, 7)[0]
        if version != 0:
            raise ValueError(f"ogg: vorbis version {version}")
        channels = first[11]
        rate = struct.unpack_from("<I", first, 12)[0]
        if channels == 0 or rate == 0:
            raise ValueError("ogg: zero vorbis channels/rate")
        if not first[29] & 0x01:
            raise ValueError("ogg: vorbis id framing bit clear")
        codec, clock = "vorbis", rate
    elif first.startswith(b"OpusHead"):
        if len(first) < 19:
            raise ValueError("ogg: OpusHead too short")
        if first[8] != 1:
            raise ValueError(f"ogg: OpusHead version {first[8]}")
        channels = first[9]
        if channels == 0:
            raise ValueError("ogg: zero opus channels")
        codec, clock = "opus", 48000  # granule clock is always 48 kHz
    else:
        raise NotImplementedError(f"ogg: unknown codec packet {first[:8]!r}")
    granule = pages[-1].granule
    if granule < 0:
        raise ValueError("ogg: negative final granule")
    return OggMeta(
        codec=codec,
        channels=channels,
        sample_rate=clock,
        n_pages=len(pages),
        n_packets=len(packets),
        duration_ms=granule * 1000 // clock,
    )


# --------------------------------------------------------------------------
# Fixture writer


def _page(flags: int, granule: int, serial: int, seq: int,
          packets: list[bytes]) -> bytes:
    laces: list[int] = []
    body = bytearray()
    for pkt in packets:
        body += pkt
        q, r = divmod(len(pkt), 255)
        laces += [255] * q + [r]
    if len(laces) > 255:
        raise ValueError("fixture page needs too many lacing values")
    hdr = bytearray(_MAGIC)
    hdr += bytes([0, flags])
    hdr += struct.pack("<q", granule)
    hdr += struct.pack("<I", serial)
    hdr += struct.pack("<I", seq)
    hdr += b"\x00\x00\x00\x00"  # CRC placeholder
    hdr += bytes([len(laces)]) + bytes(laces)
    page = bytes(hdr) + bytes(body)
    crc = ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def encode_ogg(doc_id: int, text: bytes) -> bytes:
    """Three-page single-stream fixture: BOS page carrying the id
    header (vorbis for even ids — rate cycling by doc_id%3 —, opus
    for odd), a data page with 1 + id%4 filler packets (sizes driven
    by the text length, crossing the 255-lacing boundary when long),
    and an EOS page with one closing packet and the final granule."""
    serial = 0x5EED0000 + doc_id % 97
    if doc_id % 2 == 0:
        rate = (44100, 48000, 22050)[doc_id % 3]
        channels = 1 + doc_id % 2  # always 1 for even ids; kept explicit
        ident = (
            b"\x01vorbis"
            + struct.pack("<I", 0)
            + bytes([channels])
            + struct.pack("<I", rate)
            + struct.pack("<iii", 0, 128000, 0)
            + bytes([0xB8])  # blocksizes
            + b"\x01"  # framing bit
        )
    else:
        channels = 1 + doc_id % 2  # always 2 for odd ids
        ident = (
            b"OpusHead"
            + bytes([1, channels])
            + struct.pack("<H", 312)  # pre-skip
            + struct.pack("<I", 48000)
            + struct.pack("<h", 0)
            + b"\x00"  # channel mapping family 0
        )
    n_data = 1 + doc_id % 4
    data_packets = [
        bytes(((doc_id + i + j) & 0xFF) for j in range(17 + (len(text) + i) % 300))
        for i in range(n_data)
    ]
    granule = 100 * len(text) + doc_id % 1000
    out = _page(0x02, 0, serial, 0, [ident])
    out += _page(0x00, granule // 2, serial, 1, data_packets)
    out += _page(0x04, granule, serial, 2, [b"\x00" * (9 + doc_id % 11)])
    return out


# --------------------------------------------------------------------------
# Spark query

OGG_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("n_packets", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def multimodal_ogg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → Ogg fixtures (see encode_ogg) → page walk with full
    CRC verification → codec triage. Every column is a closed form of
    the document row."""
    def walk(d: int, text: str):
        m = parse_ogg_meta(encode_ogg(d, text.encode("utf-8")))
        yield (d, m.codec, m.channels, m.sample_rate, m.n_pages,
               m.n_packets, m.duration_ms)

    return walker_query(spark, sf_dir, walk, OGG_SCHEMA)


# closed forms of encode_ogg: codec/channels by parity, vorbis rate by
# doc_id%3 (opus granule clock fixed at 48 kHz), packets = id header +
# (1 + id%4) data + 1 close, duration from the exact final granule.
OGG_SQL = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
       CAST(1 + doc_id % 2 AS INTEGER) AS channels,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 48000
                 WHEN doc_id % 3 = 0 THEN 44100
                 WHEN doc_id % 3 = 1 THEN 48000
                 ELSE 22050 END AS INTEGER) AS sample_rate,
       3 AS n_pages,
       CAST(3 + doc_id % 4 AS INTEGER) AS n_packets,
       CAST((100 * octet_length(encode(text)) + doc_id % 1000) * 1000
            // (CASE WHEN doc_id % 2 = 1 THEN 48000
                     WHEN doc_id % 3 = 0 THEN 44100
                     WHEN doc_id % 3 = 1 THEN 48000
                     ELSE 22050 END) AS BIGINT) AS duration_ms
FROM documents
ORDER BY asset_id
"""


QUERIES = {"multimodal_ogg_meta": multimodal_ogg_meta}

ORACLES = {"multimodal_ogg_meta": OGG_SQL}
