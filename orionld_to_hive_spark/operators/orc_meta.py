"""ORC postscript/footer audit — hand-rolled protobuf wire walk.

Beyond-reference capability: ORC is the third first-class lake row
format next to Parquet (`parquet_meta.py`, Thrift compact protocol)
and Avro (`avro.py`, varint framing) — Hive-era warehouses are full
of it, and the same 100 TB audit posture applies: certify millions of
rows by reading a few hundred TAIL bytes, never scanning data.

Hand-rolled from the public ORC v1 specification (orc.apache.org):

  - the file ends with a 1-byte postscript length; the postscript
    (never compressed, ≤255 bytes) is a protobuf message ending with
    the literal magic "ORC": footerLength(1), compression(2: enum
    NONE/ZLIB/SNAPPY/LZO/LZ4/ZSTD), compressionBlockSize(3),
    version(4, packed), metadataLength(5), writerVersion(6),
    magic(8000).
  - the footer (the `footerLength` bytes immediately before the
    postscript) is protobuf too: headerLength(1), contentLength(2),
    repeated StripeInformation(3: offset/indexLength/dataLength/
    footerLength/numberOfRows), repeated Type(4: kind enum,
    subtypes packed, fieldNames), numberOfRows(6), ...
  - Σ per-stripe numberOfRows must equal the footer's numberOfRows
    (enforced — the same cross-check the Parquet audit runs).
  - compression kinds other than NONE wrap the footer in ORC's
    3-byte-header compressed streams — refused honestly here (the
    fixture writes uncompressed; a ZLIB path is block framing +
    zlib, left as the documented next increment).

The protobuf walk is GENERIC (varint / fixed64 / length-delimited /
fixed32 decoded by wire type, unknown fields skipped by their own
framing, never blind) — the construction `parquet_meta.py` uses for
Thrift.

Oracle strategy: the fixture bytes are written by PYARROW's ORC
writer (an independent implementation — the `zipfile`/`tarfile`
construction); the hand-rolled walker must agree with closed forms of
the document row, and units additionally pin it field-for-field
against `pyarrow.orc.ORCFile` metadata.
"""
from __future__ import annotations

import io
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

_COMPRESSION = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO", 4: "LZ4", 5: "ZSTD"}

# Type.kind enum values for the leaves the fixture schema uses
_KIND = {
    0: "boolean", 1: "byte", 2: "short", 3: "int", 4: "long",
    5: "float", 6: "double", 7: "string", 8: "binary", 9: "timestamp",
    10: "list", 11: "map", 12: "struct", 13: "union", 14: "decimal",
    15: "date", 16: "varchar", 17: "char",
}


class OrcMeta(NamedTuple):
    compression: str
    n_rows: int
    n_stripes: int
    n_leaf_columns: int
    field_names: str  # root struct's child names, comma-joined
    footer_length: int


# ------------------------------------------------------------- protobuf


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    v = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("orc: truncated protobuf varint")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7
        if shift > 63:
            raise ValueError("orc: protobuf varint too long")


def _fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Generic protobuf wire walk → (field_no, wire_type, value).
    Length-delimited values yield the raw bytes; varints the int."""
    pos = 0
    while pos < len(buf):
        key, pos = _varint(buf, pos)
        field_no, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _varint(buf, pos)
            yield field_no, wire, v
        elif wire == 1:
            if pos + 8 > len(buf):
                raise ValueError("orc: truncated fixed64")
            yield field_no, wire, buf[pos : pos + 8]
            pos += 8
        elif wire == 2:
            n, pos = _varint(buf, pos)
            if n < 0 or pos + n > len(buf):
                raise ValueError("orc: bad length-delimited field")
            yield field_no, wire, buf[pos : pos + n]
            pos += n
        elif wire == 5:
            if pos + 4 > len(buf):
                raise ValueError("orc: truncated fixed32")
            yield field_no, wire, buf[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"orc: unsupported protobuf wire type {wire}")


def parse_orc_meta(payload: bytes) -> OrcMeta:
    if len(payload) < 4:
        raise ValueError("orc: file too short")
    ps_len = payload[-1]
    if ps_len + 1 > len(payload):
        raise ValueError("orc: postscript length overruns file")
    ps = payload[-1 - ps_len : -1]

    footer_len = None
    compression = None
    magic = None
    for field_no, wire, val in _fields(ps):
        if field_no == 1 and wire == 0:
            footer_len = val
        elif field_no == 2 and wire == 0:
            compression = val
        elif field_no == 8000 and wire == 2:
            magic = val
    if magic != b"ORC":
        raise ValueError(f"orc: postscript magic {magic!r}")
    if footer_len is None:
        raise ValueError("orc: postscript without footerLength")
    comp = _COMPRESSION.get(compression if compression is not None else 0)
    if comp is None:
        raise ValueError(f"orc: unknown compression kind {compression}")
    if comp != "NONE":
        raise NotImplementedError(
            f"orc: {comp}-compressed footers not supported"
        )

    end = len(payload) - 1 - ps_len
    if footer_len > end:
        raise ValueError("orc: footerLength overruns file")
    footer = payload[end - footer_len : end]

    n_rows = None
    stripe_rows: list[int] = []
    types: list[tuple[int, list[str]]] = []  # (kind, field_names)
    for field_no, wire, val in _fields(footer):
        if field_no == 3 and wire == 2:  # StripeInformation
            rows = None
            for f2, w2, v2 in _fields(val):
                if f2 == 5 and w2 == 0:
                    rows = v2
            if rows is None:
                raise ValueError("orc: stripe without numberOfRows")
            stripe_rows.append(rows)
        elif field_no == 4 and wire == 2:  # Type
            kind = 0
            names: list[str] = []
            for f2, w2, v2 in _fields(val):
                if f2 == 1 and w2 == 0:
                    kind = v2
                elif f2 == 3 and w2 == 2:
                    names.append(v2.decode("utf-8"))
            types.append((kind, names))
        elif field_no == 6 and wire == 0:
            n_rows = val
    if n_rows is None:
        raise ValueError("orc: footer without numberOfRows")
    if sum(stripe_rows) != n_rows:
        raise ValueError(
            f"orc: stripe rows {sum(stripe_rows)} != footer rows {n_rows}"
        )
    if not types:
        raise ValueError("orc: footer without a type tree")
    root_kind, root_names = types[0]
    if _KIND.get(root_kind) != "struct":
        raise ValueError("orc: root type is not a struct")
    # leaf count: every non-compound type in the tree
    leaves = sum(
        1 for kind, _ in types[1:]
        if _KIND.get(kind) not in ("list", "map", "struct", "union")
    )
    return OrcMeta(
        compression=comp,
        n_rows=n_rows,
        n_stripes=len(stripe_rows),
        n_leaf_columns=leaves,
        field_names=",".join(root_names),
        footer_length=footer_len,
    )


# ------------------------------------------------------------- fixture


def encode_orc(doc_id: int, text: str) -> bytes:
    """REAL ORC bytes from pyarrow's writer (the independent
    implementation): 1 + doc_id%5 rows of (id long, chunk string) —
    the text split into contiguous character ranges — uncompressed."""
    import pyarrow as pa
    import pyarrow.orc as orc

    n = 1 + doc_id % 5
    pieces = [
        text[len(text) * i // n : len(text) * (i + 1) // n] for i in range(n)
    ]
    t = pa.table(
        {
            "id": pa.array([doc_id * 100 + i for i in range(n)], pa.int64()),
            "chunk": pa.array(pieces, pa.string()),
        }
    )
    buf = io.BytesIO()
    orc.write_table(t, buf, compression="uncompressed")
    return buf.getvalue()


# ------------------------------------------------------------- query

ORC_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("compression", T.StringType(), True),
        T.StructField("n_rows", T.IntegerType(), True),
        T.StructField("n_stripes", T.IntegerType(), True),
        T.StructField("n_leaf_columns", T.IntegerType(), True),
        T.StructField("field_names", T.StringType(), True),
    ]
)


def orc_footer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → real pyarrow-written ORC files → hand-rolled
    postscript/footer walk. Row/stripe/schema accounting is a closed
    form of the document row; the Σ-stripe-rows ≡ footer-rows
    cross-check runs on every asset."""
    def walk(d: int, text: str):
        m = parse_orc_meta(encode_orc(d, text))
        yield (d, m.compression, m.n_rows, m.n_stripes, m.n_leaf_columns,
               m.field_names)

    return walker_query(spark, sf_dir, walk, ORC_SCHEMA)


ORC_SQL = """
SELECT doc_id AS asset_id,
       'NONE' AS compression,
       CAST(1 + doc_id % 5 AS INTEGER) AS n_rows,
       1 AS n_stripes,
       2 AS n_leaf_columns,
       'id,chunk' AS field_names
FROM documents
ORDER BY asset_id
"""


QUERIES = {"orc_footer_audit": orc_footer_audit}

ORACLES = {"orc_footer_audit": ORC_SQL}
