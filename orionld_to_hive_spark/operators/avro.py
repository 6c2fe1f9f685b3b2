"""Avro Object Container File walk — real varint/zigzag decode, block
accounting, sync-marker verification, null + deflate codecs.

Beyond-reference capability: Avro OCF is the other first-class
data-lake row format next to Parquet (`parquet_meta.py`) — Kafka
archive dumps, Sqoop/NiFi landings, and event-log exports arrive as
.avro containers, and a 100 TB intake stage wants the same triage it
gets for Parquet: schema identity, record/block counts, codec, and a
bit-exact payload check, without a library dependency.

Hand-rolled from the public Avro 1.11 specification (Object Container
Files + binary encoding):

  - magic `Obj\\x01`; file metadata as an Avro map<string, bytes>:
    repeated blocks of a zigzag-varint entry count (a NEGATIVE count
    is the spec's block form — abs(count) entries follow a long
    byte-size), each entry a string key + bytes value, terminated by
    count 0. `avro.schema` (JSON) is required; `avro.codec` defaults
    to `null`.
  - a 16-byte sync marker after the metadata; every data block ends
    with the SAME marker (the spec's corruption/seek boundary) — any
    mismatch refuses.
  - data blocks: long record-count, long byte-size, payload, sync.
    Codec `null` = raw Avro binary; `deflate` = RFC 1951 raw DEFLATE
    (no zlib wrapper — the spec's choice); `snappy` would need a
    codec library → honest NotImplementedError.
  - records per the fixture's writer schema
    {"name": "Doc", fields: [id long, chunk string]}: id is a
    zigzag varint, chunk a varint-length utf-8 string. The decoder
    must consume each block EXACTLY (leftover bytes refuse).

Oracle strategy (the container-family construction): the fixture
writes real OCF bytes whose record/block/codec/metadata accounting is
a closed form of the document row, and the reassembled chunk
concatenation must equal documents.text bit-for-bit — so the varint
walk, the deflate decode (even ids), and the per-record string
decode are all on the oracle path for every graded row.
"""
from __future__ import annotations

import json
import zlib
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

_MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # fixture sync marker (any 16 bytes are legal)


class AvroMeta(NamedTuple):
    codec: str
    schema_name: str
    n_blocks: int
    n_records: int
    meta_entries: int
    body_text: str  # concatenated `chunk` fields, in order


# ---------------------------------------------------------------- varints


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    u = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("avro: truncated varint")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("avro: varint too long")
    return (u >> 1) ^ -(u & 1), pos


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _zigzag_decode(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise ValueError("avro: bad bytes length")
    return buf[pos : pos + n], pos + n


# ---------------------------------------------------------------- parser


def parse_avro_meta(payload: bytes) -> AvroMeta:
    if payload[:4] != _MAGIC:
        raise ValueError("avro: missing Obj\\x01 magic")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _zigzag_decode(payload, pos)
        if count == 0:
            break
        if count < 0:  # spec block form: abs(count) entries + byte size
            count = -count
            _, pos = _zigzag_decode(payload, pos)
        for _ in range(count):
            key_b, pos = _read_bytes(payload, pos)
            val, pos = _read_bytes(payload, pos)
            key = key_b.decode("utf-8")
            if key in meta:
                raise ValueError(f"avro: duplicate metadata key {key!r}")
            meta[key] = val
    if "avro.schema" not in meta:
        raise ValueError("avro: metadata missing avro.schema")
    try:
        schema = json.loads(meta["avro.schema"])
    except ValueError as e:
        raise ValueError(f"avro: unparseable schema JSON ({e})") from e
    if not isinstance(schema, dict) or schema.get("type") != "record":
        raise ValueError("avro: only record writer schemas supported")
    name = schema.get("name")
    if not isinstance(name, str) or not name:
        raise ValueError("avro: record schema without a name")
    codec = meta.get("avro.codec", b"null").decode("latin-1")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro: codec {codec!r} not supported")

    sync = payload[pos : pos + 16]
    if len(sync) != 16:
        raise ValueError("avro: truncated sync marker")
    pos += 16

    n_blocks = 0
    n_records = 0
    chunks: list[str] = []
    while pos < len(payload):
        count, pos = _zigzag_decode(payload, pos)
        size, pos = _zigzag_decode(payload, pos)
        if count < 0 or size < 0 or pos + size > len(payload):
            raise ValueError("avro: bad block framing")
        data = payload[pos : pos + size]
        pos += size
        if payload[pos : pos + 16] != sync:
            raise ValueError("avro: data block not followed by the sync marker")
        pos += 16
        if codec == "deflate":
            try:
                data = zlib.decompress(data, -zlib.MAX_WBITS)
            except zlib.error as e:
                raise ValueError(f"avro: bad deflate block ({e})") from e
        # decode `count` records of the fixture schema (id, chunk) and
        # require the block to be consumed EXACTLY
        dpos = 0
        for _ in range(count):
            _, dpos = _zigzag_decode(data, dpos)  # id
            chunk, dpos = _read_bytes(data, dpos)
            chunks.append(chunk.decode("utf-8"))
        if dpos != len(data):
            raise ValueError(
                f"avro: block has {len(data) - dpos} bytes beyond its records"
            )
        n_blocks += 1
        n_records += count
    return AvroMeta(
        codec=codec,
        schema_name=name,
        n_blocks=n_blocks,
        n_records=n_records,
        meta_entries=len(meta),
        body_text="".join(chunks),
    )


# ---------------------------------------------------------------- fixture

_SCHEMA_JSON = (
    '{"type":"record","name":"Doc","fields":'
    '[{"name":"id","type":"long"},{"name":"chunk","type":"string"}]}'
)


def _avro_string(s: bytes) -> bytes:
    return _zigzag_encode(len(s)) + s


def encode_avro(doc_id: int, text: str) -> bytes:
    """Real OCF: 1 + doc_id%5 records (the text split into that many
    contiguous character ranges), packed two records per block;
    deflate codec for even ids (codec entry present), null for odd
    (codec entry omitted — the default path). Every field of the
    manifest is a closed form of the document row."""
    n = 1 + doc_id % 5
    pieces = [
        text[len(text) * i // n : len(text) * (i + 1) // n] for i in range(n)
    ]
    deflate = doc_id % 2 == 0

    out = bytearray(_MAGIC)
    entries = [(b"avro.schema", _SCHEMA_JSON.encode())]
    if deflate:
        entries.append((b"avro.codec", b"deflate"))
    out += _zigzag_encode(len(entries))
    for k, v in entries:
        out += _avro_string(k) + _avro_string(v)
    out += _zigzag_encode(0)
    out += _SYNC

    for b0 in range(0, n, 2):
        block_pieces = pieces[b0 : b0 + 2]
        data = bytearray()
        for i, piece in enumerate(block_pieces, start=b0):
            data += _zigzag_encode(doc_id * 100 + i)
            data += _avro_string(piece.encode("utf-8"))
        data = bytes(data)
        if deflate:
            co = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
            data = co.compress(data) + co.flush()
        out += _zigzag_encode(len(block_pieces))
        out += _zigzag_encode(len(data))
        out += data
        out += _SYNC
    return bytes(out)


# ---------------------------------------------------------------- query

AVRO_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), True),
        T.StructField("schema_name", T.StringType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("n_records", T.IntegerType(), True),
        T.StructField("meta_entries", T.IntegerType(), True),
        T.StructField("body_text", T.StringType(), True),
    ]
)


def avro_container_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → real Avro OCF fixtures (encode_avro) → container
    walk. The varint metadata map, sync-marker chain, per-block
    record decode, and deflate codec (even ids) are all on the oracle
    path: body_text must equal documents.text bit-for-bit."""

    def walk(d: int, text: str):
        m = parse_avro_meta(encode_avro(d, text))
        yield (d, m.codec, m.schema_name, m.n_blocks, m.n_records,
               m.meta_entries, m.body_text)

    return walker_query(spark, sf_dir, walk, AVRO_SCHEMA)


# closed forms of encode_avro: n = 1 + id%5 records, 2 per block →
# ceil(n/2) blocks; codec + its metadata entry by parity; the chunk
# concatenation is the text itself.
AVRO_SQL = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN 'deflate' ELSE 'null' END AS codec,
       'Doc' AS schema_name,
       CAST((doc_id % 5 + 2) // 2 AS INTEGER) AS n_blocks,
       CAST(1 + doc_id % 5 AS INTEGER) AS n_records,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INTEGER)
         AS meta_entries,
       text AS body_text
FROM documents
ORDER BY asset_id
"""


QUERIES = {"avro_container_meta": avro_container_meta}

ORACLES = {"avro_container_meta": AVRO_SQL}
