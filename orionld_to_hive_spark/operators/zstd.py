"""Zstandard frame walk — RFC 8878 framing, block arithmetic, no entropy decode.

Beyond-reference capability: zstd is the compression format of modern
training-data distribution (.jsonl.zst corpora, zstd-parquet,
zstd-compressed WebDataset), and a 100 TB intake stage wants to
count/size/validate archives without decompressing them. RFC 8878
makes that possible WITHOUT a codec: every block carries a 3-byte
header whose `Block_Size` states its COMPRESSED size, so a frame can
be walked block-by-block — sizes, counts, flags, declared content
size, trailing checksum presence — by pure arithmetic, the
tar/mp4/mp3 move applied to the compression layer. The FSE/Huffman
entropy payloads of Compressed blocks stay honestly opaque.

Hand-rolled from the public RFC 8878 layout:

  - frame magic 0xFD2FB528 (LE); Frame_Header_Descriptor byte:
    Frame_Content_Size_Flag (2 bits), Single_Segment_Flag,
    Content_Checksum_Flag, Dictionary_ID_Flag (2 bits), reserved bit
    (must be 0); optional Window_Descriptor, Dictionary_ID (1/2/4
    bytes), Frame_Content_Size (0/1/2/4/8 bytes, FCS=1 biased +256,
    always present under Single_Segment).
  - blocks: 3-byte LE header = Last_Block(1) | Block_Type(2) |
    Block_Size(21): Raw (payload verbatim, size = content), RLE (ONE
    stored byte, size = the repeat count), Compressed (opaque),
    type 3 reserved → refuse.
  - optional 4-byte XXH64-low32 content checksum (presence tracked;
    verification needs the hash of DECODED content — out of scope
    and refused if demanded).
  - skippable frames: magic 0x184D2A5?, 4-byte LE size, payload
    skipped (the WebDataset/zstd-seekable index convention).

Raw and RLE blocks are fully DECODED (they're stored plainly), so the
fixture can round-trip the document text bit-for-bit through a legal
zstd frame built of Raw blocks — any real zstd decoder accepts it —
while Compressed blocks are counted and skipped by arithmetic.

Oracle strategy: fixtures are multi-frame streams (a skippable index
frame for even ids + a content frame of ≤1000-byte Raw blocks + an
RLE run) whose frame/block/byte accounting is a closed form of the
document row, and the reassembled Raw+RLE content must equal a
closed-form projection of the text — decoded, not just framed.
"""
from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

_MAGIC = 0xFD2FB528
_SKIP_LO = 0x184D2A50
_RAW_CAP = 1000  # fixture Raw-block payload cap


class ZstdFrame(NamedTuple):
    skippable: bool
    n_blocks: int  # 0 for skippable frames
    content_size: int | None  # declared FCS (None when absent)
    decoded: bytes  # Raw+RLE reassembly ('' when any block is Compressed)
    has_checksum: bool
    compressed_bytes: int  # whole frame length in the stream


class ZstdMeta(NamedTuple):
    n_frames: int
    n_skippable: int
    n_blocks: int
    content_bytes: int  # Σ decoded lengths of content frames
    declared_bytes: int  # Σ declared FCS values
    checksum_frames: int
    decoded: bytes  # concatenated content


def _u32(b: bytes, off: int) -> int:
    if off + 4 > len(b):
        raise ValueError("zstd: truncated u32 field")
    return int.from_bytes(b[off : off + 4], "little")


def _parse_frame(payload: bytes, pos: int) -> tuple[ZstdFrame, int]:
    start = pos
    magic = _u32(payload, pos)
    pos += 4
    if magic & 0xFFFFFFF0 == _SKIP_LO:
        size = _u32(payload, pos)
        pos += 4
        if pos + size > len(payload):
            raise ValueError("zstd: skippable frame overruns the stream")
        pos += size
        return ZstdFrame(True, 0, None, b"", False, pos - start), pos
    if magic != _MAGIC:
        raise ValueError(f"zstd: bad frame magic {magic:#010x}")
    if pos >= len(payload):
        raise ValueError("zstd: truncated frame header")
    fhd = payload[pos]
    pos += 1
    if fhd & 0x08:
        raise ValueError("zstd: reserved frame-header bit set")
    fcs_flag = fhd >> 6
    single_segment = bool(fhd & 0x20)
    checksum = bool(fhd & 0x04)
    did_flag = fhd & 0x03
    if not single_segment:
        if pos >= len(payload):
            raise ValueError("zstd: truncated window descriptor")
        pos += 1  # Window_Descriptor: triage keeps only its presence
    pos += (0, 1, 2, 4)[did_flag]
    fcs_len = (0, 2, 4, 8)[fcs_flag] if not single_segment else (1, 2, 4, 8)[fcs_flag]
    if fcs_flag == 0 and not single_segment:
        fcs = None
    else:
        if pos + fcs_len > len(payload):
            raise ValueError("zstd: truncated frame content size")
        fcs = int.from_bytes(payload[pos : pos + fcs_len], "little")
        if fcs_len == 2:
            fcs += 256  # RFC 8878 §3.1.1.1.2: 2-byte FCS is biased
        pos += fcs_len

    decoded = bytearray()
    opaque = False
    n_blocks = 0
    while True:
        if pos + 3 > len(payload):
            raise ValueError("zstd: truncated block header")
        hdr = int.from_bytes(payload[pos : pos + 3], "little")
        pos += 3
        last = hdr & 0x1
        btype = (hdr >> 1) & 0x3
        bsize = hdr >> 3
        n_blocks += 1
        if btype == 0:  # Raw
            if pos + bsize > len(payload):
                raise ValueError("zstd: raw block overruns the stream")
            decoded += payload[pos : pos + bsize]
            pos += bsize
        elif btype == 1:  # RLE: ONE stored byte, bsize = repeat count
            if pos + 1 > len(payload):
                raise ValueError("zstd: truncated RLE block")
            decoded += payload[pos : pos + 1] * bsize
            pos += 1
        elif btype == 2:  # Compressed: opaque, skipped by size
            if pos + bsize > len(payload):
                raise ValueError("zstd: compressed block overruns the stream")
            opaque = True
            pos += bsize
        else:
            raise ValueError("zstd: reserved block type 3")
        if last:
            break
    if checksum:
        if pos + 4 > len(payload):
            raise ValueError("zstd: truncated content checksum")
        pos += 4
    if fcs is not None and not opaque and len(decoded) != fcs:
        raise ValueError(
            f"zstd: decoded size {len(decoded)} != declared content size {fcs}"
        )
    return (
        ZstdFrame(False, n_blocks, fcs, b"" if opaque else bytes(decoded),
                  checksum, pos - start),
        pos,
    )


def parse_zstd_meta(payload: bytes) -> ZstdMeta:
    """Walk a (possibly multi-frame) zstd stream by block arithmetic."""
    frames: list[ZstdFrame] = []
    pos = 0
    while pos < len(payload):
        frame, pos = _parse_frame(payload, pos)
        frames.append(frame)
    if not frames:
        raise ValueError("zstd: empty stream")
    content = [f for f in frames if not f.skippable]
    return ZstdMeta(
        n_frames=len(frames),
        n_skippable=sum(1 for f in frames if f.skippable),
        n_blocks=sum(f.n_blocks for f in frames),
        content_bytes=sum(len(f.decoded) for f in content),
        declared_bytes=sum(f.content_size or 0 for f in content),
        checksum_frames=sum(1 for f in content if f.has_checksum),
        decoded=b"".join(f.decoded for f in content),
    )


# --------------------------------------------------------------------------
# Fixture writer — legal zstd streams out of Raw + RLE blocks (any real
# decoder accepts them; RFC 8878 §3.1.1.2.2/.3).


def _block_header(last: bool, btype: int, size: int) -> bytes:
    return (int(last) | (btype << 1) | (size << 3)).to_bytes(3, "little")


def encode_zstd(doc_id: int, text: bytes) -> bytes:
    """Stream: a skippable index frame for even ids (payload = 8
    closed-form bytes), then one content frame — Single_Segment with
    an exact 8-byte FCS, the text in ≤1000-byte Raw blocks, and a
    trailing RLE run of (id%9)+1 '!' bytes. ids % 3 == 0 set the
    Content_Checksum flag with 4 placeholder trailer bytes: the
    walker tracks checksum PRESENCE and frame framing only (XXH64
    verification needs the hash of decoded content — documented out
    of scope), so the placeholder exercises the flag/length path;
    frames WITHOUT the flag are byte-for-byte decodable by any real
    zstd decoder (Raw/RLE blocks are stored plainly per RFC 8878)."""
    out = bytearray()
    if doc_id % 2 == 0:
        out += (_SKIP_LO | 0xE).to_bytes(4, "little")
        out += (8).to_bytes(4, "little")
        out += (doc_id % 256).to_bytes(1, "big") * 8
    rle_n = doc_id % 9 + 1
    content_size = len(text) + rle_n
    # Single_Segment (0x20) ⇒ no window descriptor, FCS always present;
    # 8-byte FCS (flag 3 << 6); checksum flag for ids % 3 == 0.
    fhd = 0x20 | (3 << 6) | (0x04 if doc_id % 3 == 0 else 0)
    out += _MAGIC.to_bytes(4, "little")
    out += bytes([fhd])
    out += content_size.to_bytes(8, "little")
    chunks = [text[i : i + _RAW_CAP] for i in range(0, len(text), _RAW_CAP)] or [b""]
    for c in chunks:
        out += _block_header(False, 0, len(c)) + c
    out += _block_header(True, 1, rle_n) + b"!"
    if doc_id % 3 == 0:
        out += (0xA5A5A5A5).to_bytes(4, "little")  # carried, never verified
    return bytes(out)


# --------------------------------------------------------------------------
# Spark query

ZSTD_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("n_skippable", T.IntegerType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("content_bytes", T.LongType(), True),
        T.StructField("declared_bytes", T.LongType(), True),
        T.StructField("checksum_frames", T.IntegerType(), True),
        T.StructField("body_text", T.StringType(), True),
    ]
)


def zstd_frame_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → zstd streams (see encode_zstd) → frame/block walk.
    body_text strips the closed-form RLE tail and must equal the
    source text bit-for-bit — the Raw-block reassembly, FCS
    verification, and block arithmetic are all on the oracle path."""
    def walk(d: int, text: str):
        m = parse_zstd_meta(encode_zstd(d, text.encode("utf-8")))
        yield (d, m.n_frames, m.n_skippable, m.n_blocks, m.content_bytes,
               m.declared_bytes, m.checksum_frames,
               m.decoded[: -(d % 9 + 1)].decode("utf-8"))

    return walker_query(spark, sf_dir, walk, ZSTD_SCHEMA)


# closed forms of encode_zstd: skippable for even ids; blocks =
# ceil(bytes/1000) (min 1) raw + 1 RLE; content = bytes + id%9+1;
# checksum flag at id%3==0; body_text ≡ documents.text bit-for-bit.
ZSTD_SQL = """
SELECT doc_id AS asset_id,
       CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_frames,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_skippable,
       CAST(GREATEST(CAST(CEIL(octet_length(encode(text)) / 1000.0) AS BIGINT), 1)
            + 1 AS INTEGER) AS n_blocks,
       CAST(octet_length(encode(text)) + doc_id % 9 + 1 AS BIGINT)
         AS content_bytes,
       CAST(octet_length(encode(text)) + doc_id % 9 + 1 AS BIGINT)
         AS declared_bytes,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS checksum_frames,
       text AS body_text
FROM documents
ORDER BY asset_id
"""


QUERIES = {"zstd_frame_meta": zstd_frame_meta}

ORACLES = {"zstd_frame_meta": ZSTD_SQL}
