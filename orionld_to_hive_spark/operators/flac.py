"""FLAC metadata triage — STREAMINFO block walk, no frame decode.

Beyond-reference capability, completing the audio-triage row next to
`mp3.parse_mp3_meta` (lossy) and `multimodal.decode_wav` (PCM/G.711
real decode): FLAC is the dominant LOSSLESS crawl/archive audio
format, and everything a triage filter needs — sample rate, channel
count, bit depth, exact total sample count (so exact duration) —
sits in the mandatory STREAMINFO metadata block in the first ~50
bytes of the file. The frame bitstream (rice-coded LPC residuals)
stays an honest refusal; at 100 TB you count, filter, and budget
audio by this header walk and never touch the codec.

Hand-rolled from the public FLAC format spec (RFC 9639 layout):

  - magic "fLaC", then metadata blocks: 1-byte header (bit 7 =
    last-block flag, bits 0-6 = type; 0 = STREAMINFO, 1 = PADDING,
    4 = VORBIS_COMMENT, 6 = PICTURE, 127 = invalid), 3-byte
    big-endian length, body.
  - STREAMINFO (34 bytes, must be FIRST): min/max blocksize (16+16),
    min/max framesize (24+24), then one 64-bit big-endian field
    packing sample_rate (20 bits), channels−1 (3), bits−1 (5),
    total_samples (36), then the 128-bit unencoded-audio MD5.

Oracle strategy (the mp4/mp3/warc/tar construction): the synth
fixture derives every STREAMINFO field from the document row —
sample rate cycles by doc_id % 3, channels by parity, total samples
= 100 × the utf-8 byte length — plus a doc_id-sized PADDING block
and a VORBIS_COMMENT for every third doc, so every reported value is
CASE arithmetic in DuckDB.
"""
from __future__ import annotations

import struct
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query


class FlacMeta(NamedTuple):
    sample_rate: int
    channels: int
    bits_per_sample: int
    total_samples: int
    duration_ms: int
    n_meta_blocks: int
    has_vorbis_comment: bool
    audio_offset: int  # first byte past the metadata blocks


def _walk_blocks(payload: bytes) -> tuple[list[tuple[int, int, int]], int]:
    """Shared metadata-block walk: validates the magic, block order
    (STREAMINFO first, exactly 34 bytes, no duplicates), type-127
    refusal, and bounds. Returns ([(btype, body_start, length), ...],
    audio_offset) — body BYTES are not read here; each consumer slices
    only the blocks it interprets."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (missing fLaC magic)")
    pos = 4
    n = len(payload)
    first = True
    blocks: list[tuple[int, int, int]] = []
    while True:
        if pos + 4 > n:
            raise ValueError("truncated metadata block header")
        hdr = payload[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        if btype == 127:
            raise ValueError("invalid metadata block type 127")
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = pos + 4
        if body + length > n:
            raise ValueError(f"metadata block length {length} overruns stream")
        if first:
            if btype != 0:
                raise ValueError("first metadata block is not STREAMINFO")
            if length != 34:
                raise ValueError(f"STREAMINFO length {length} != 34")
            first = False
        elif btype == 0:
            raise ValueError("duplicate STREAMINFO block")
        blocks.append((btype, body, length))
        pos = body + length
        if last:
            break
    return blocks, pos


def parse_flac_meta(payload: bytes) -> FlacMeta:
    """Metadata-only pass: magic + block walk + STREAMINFO fields.
    The frame bitstream past the last metadata block is not decoded
    (codec = honest refusal; this is the triage pass)."""
    blocks, pos = _walk_blocks(payload)
    n_blocks = len(blocks)
    has_vorbis = any(b[0] == 4 for b in blocks)
    si_start = blocks[0][1]
    streaminfo = payload[si_start : si_start + 34]
    packed = int.from_bytes(streaminfo[10:18], "big")
    sample_rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    if sample_rate == 0:
        raise ValueError("STREAMINFO sample rate is zero")
    return FlacMeta(
        sample_rate=sample_rate,
        channels=channels,
        bits_per_sample=bits,
        total_samples=total,
        duration_ms=total * 1000 // sample_rate,
        n_meta_blocks=n_blocks,
        has_vorbis_comment=has_vorbis,
        audio_offset=pos,
    )


# --------------------------------------------------------------------------
# VORBIS_COMMENT field extraction (VERDICT r11 item 7): artist/title/
# language tags drive audio-curation decisions, and they live in the
# metadata region the walker already sees. Layout per the public
# Vorbis I spec (as embedded by RFC 9639): LITTLE-endian u32 lengths
# (inside an otherwise big-endian container — the classic gotcha),
# vendor string, then length-prefixed "FIELD=value" records; field
# names are ASCII 0x20–0x7D excluding '=', case-insensitive.


class FlacVorbis(NamedTuple):
    vendor: str
    n_comments: int
    fields: tuple  # ((KEY_UPPER, value), ...) in stream order


def parse_vorbis_comment(body: bytes) -> FlacVorbis:
    n = len(body)

    def u32(off: int) -> tuple[int, int]:
        if off + 4 > n:
            raise ValueError("truncated VORBIS_COMMENT length field")
        return int.from_bytes(body[off : off + 4], "little"), off + 4

    vlen, off = u32(0)
    if off + vlen > n:
        raise ValueError("VORBIS_COMMENT vendor string overruns block")
    vendor = body[off : off + vlen].decode("utf-8")
    off += vlen
    ncom, off = u32(off)
    fields = []
    for _ in range(ncom):
        clen, off = u32(off)
        if off + clen > n:
            raise ValueError("VORBIS comment record overruns block")
        rec = body[off : off + clen].decode("utf-8")
        off += clen
        key, eq, val = rec.partition("=")
        if not eq:
            raise ValueError(f"VORBIS comment without '=' ({rec[:30]!r})")
        if not key or any(not ("\x20" <= c <= "\x7d") or c == "=" for c in key):
            raise ValueError(f"invalid VORBIS field name {key[:30]!r}")
        fields.append((key.upper(), val))
    if off != n:
        raise ValueError("trailing bytes in VORBIS_COMMENT block")
    return FlacVorbis(vendor=vendor, n_comments=ncom, fields=tuple(fields))


def parse_flac_vorbis(payload: bytes) -> FlacVorbis:
    """The VORBIS_COMMENT block of a FLAC stream, through the same
    validated block walk as the triage pass. Exactly one block of
    type 4 is required (the spec allows at most one)."""
    blocks, _ = _walk_blocks(payload)
    vc = [(s, ln) for (t, s, ln) in blocks if t == 4]
    if not vc:
        raise ValueError("no VORBIS_COMMENT block")
    if len(vc) > 1:
        raise ValueError("multiple VORBIS_COMMENT blocks")
    s, ln = vc[0]
    return parse_vorbis_comment(payload[s : s + ln])


def first_field(v: FlacVorbis, key: str) -> str | None:
    """First occurrence of a (repeatable) field, spec-normalized key."""
    k = key.upper()
    for fk, fv in v.fields:
        if fk == k:
            return fv
    return None


def encode_vorbis_block(vendor: str, comments: list[tuple[str, str]]) -> bytes:
    vb = vendor.encode("utf-8")
    out = len(vb).to_bytes(4, "little") + vb
    out += len(comments).to_bytes(4, "little")
    for k, v in comments:
        rec = f"{k}={v}".encode("utf-8")
        out += len(rec).to_bytes(4, "little") + rec
    return out


# --------------------------------------------------------------------------
# encoder (synth fixture + tests)

_SYNTH_RATES = (44100, 22050, 8000)


def encode_flac_meta(sample_rate: int, channels: int, bits: int,
                     total_samples: int, padding: int = 0,
                     vorbis: bool = False, frames: bytes = b"",
                     vorbis_body: bytes | None = None) -> bytes:
    """Minimal valid FLAC prefix: STREAMINFO (+ optional PADDING and
    VORBIS_COMMENT blocks) + opaque `frames` bytes the walker must
    never touch. `vorbis_body` overrides the canned empty comment
    block with real tagged fields (see encode_vorbis_block)."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits - 1) << 36)
        | total_samples
    )
    si = (
        struct.pack(">HH", 4096, 4096)
        + (0).to_bytes(3, "big") * 2
        + packed.to_bytes(8, "big")
        + bytes(16)
    )
    assert len(si) == 34
    blocks = [(0, si)]
    if padding:
        blocks.append((1, bytes(padding)))
    if vorbis_body is not None:
        blocks.append((4, vorbis_body))
    elif vorbis:
        vend = b"\x04\x00\x00\x00synt\x00\x00\x00\x00"
        blocks.append((4, vend))
    out = bytearray(b"fLaC")
    for i, (btype, body) in enumerate(blocks):
        hdr = btype | (0x80 if i == len(blocks) - 1 else 0)
        out += bytes([hdr]) + len(body).to_bytes(3, "big") + body
    return bytes(out) + frames


# --------------------------------------------------------------------------
# Spark query

FLAC_META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("total_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_meta_blocks", T.IntegerType(), True),
        T.StructField("has_vorbis_comment", T.BooleanType(), True),
    ]
)


def multimodal_flac_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → synthetic FLAC prefixes (fields derived from the
    row, the text bytes appended as the opaque frame region the
    walker must skip past metadata and never read) → triage."""
    def walk(d: int, text: str):
        data = text.encode("utf-8")
        m = parse_flac_meta(
            encode_flac_meta(
                sample_rate=_SYNTH_RATES[d % 3],
                channels=1 + d % 2,
                bits=16,
                total_samples=len(data) * 100,
                padding=1 + d % 7,
                vorbis=(d % 3 == 0),
                frames=data,
            )
        )
        yield (d, m.sample_rate, m.channels, m.bits_per_sample,
               m.total_samples, m.duration_ms, m.n_meta_blocks,
               m.has_vorbis_comment)

    return walker_query(spark, sf_dir, walk, FLAC_META_SCHEMA)


MULTIMODAL_FLAC_SQL = """
WITH base AS (
  SELECT doc_id,
         octet_length(encode(text)) AS nb,
         doc_id % 3 AS cfg
  FROM documents
)
SELECT doc_id AS asset_id,
       CAST(CASE cfg WHEN 0 THEN 44100 WHEN 1 THEN 22050 ELSE 8000 END
         AS INTEGER) AS sample_rate,
       CAST(1 + doc_id % 2 AS INTEGER) AS channels,
       16 AS bits_per_sample,
       CAST(nb * 100 AS BIGINT) AS total_samples,
       CAST(CASE cfg WHEN 0 THEN nb * 100000 // 44100
                     WHEN 1 THEN nb * 100000 // 22050
                     ELSE nb * 100000 // 8000 END AS BIGINT) AS duration_ms,
       CAST(2 + CASE WHEN cfg = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_meta_blocks,
       cfg = 0 AS has_vorbis_comment
FROM base
ORDER BY asset_id
"""


_VORBIS_VENDOR = "synth-flac 1.0"
_VORBIS_LANGS = ("en", "de", "fr")  # doc_id % 4 == 3 → no LANGUAGE tag


def _synth_vorbis_fields(doc_id: int, text: str) -> list[tuple[str, str]]:
    """Closed-form tag set: ARTIST cycles over 50 names (key case
    alternates to exercise the spec's case-insensitive field names),
    TITLE is the first 24 printable-ASCII chars of the text (may
    legally contain '=' — the length prefix, not the separator, frames
    the value), LANGUAGE cycles en/de/fr and is ABSENT every 4th doc,
    GENRE cycles 5 values."""
    a = "".join(ch for ch in text if " " <= ch <= "~")
    fields = [
        ("ARTIST" if doc_id % 2 == 0 else "Artist", f"artist-{doc_id % 50}"),
        ("TITLE", a[:24]),
    ]
    if doc_id % 4 != 3:
        fields.append(("LANGUAGE", _VORBIS_LANGS[doc_id % 4]))
    fields.append(("GENRE", f"g{doc_id % 5}"))
    return fields


FLAC_VORBIS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("vendor", T.StringType(), True),
        T.StructField("n_comments", T.IntegerType(), True),
        T.StructField("artist", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("genre", T.StringType(), True),
    ]
)


def multimodal_flac_vorbis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → FLAC files with real VORBIS_COMMENT blocks (see
    _synth_vorbis_fields) → tag extraction. The little-endian length
    framing, case-insensitive field names, '='-in-value tolerance, and
    the absent-tag NULL path are all on the oracle path."""
    def walk(d: int, text: str):
        data = text.encode("utf-8")
        v = parse_flac_vorbis(
            encode_flac_meta(
                sample_rate=_SYNTH_RATES[d % 3],
                channels=1 + d % 2,
                bits=16,
                total_samples=len(data) * 100,
                padding=1 + d % 7,
                vorbis_body=encode_vorbis_block(
                    _VORBIS_VENDOR, _synth_vorbis_fields(d, text)
                ),
                frames=data,
            )
        )
        yield (d, v.vendor, v.n_comments, first_field(v, "artist"),
               first_field(v, "title"), first_field(v, "language"),
               first_field(v, "genre"))

    return walker_query(spark, sf_dir, walk, FLAC_VORBIS_SCHEMA)


FLAC_VORBIS_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS a
  FROM documents
)
SELECT doc_id AS asset_id,
       '{_VORBIS_VENDOR}' AS vendor,
       CAST(3 + CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END AS INTEGER)
         AS n_comments,
       'artist-' || (doc_id % 50) AS artist,
       left(a, 24) AS title,
       CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
                       WHEN 2 THEN 'fr' END AS language,
       'g' || (doc_id % 5) AS genre
FROM base
ORDER BY asset_id
"""


QUERIES = {
    "multimodal_flac_meta": multimodal_flac_meta,
    "multimodal_flac_vorbis": multimodal_flac_vorbis,
}

ORACLES = {
    "multimodal_flac_meta": MULTIMODAL_FLAC_SQL,
    "multimodal_flac_vorbis": FLAC_VORBIS_SQL,
}
