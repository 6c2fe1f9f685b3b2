"""ZIP central-directory walk + archive audit — CRC-verified, no extraction API.

Beyond-reference capability (the reference ships no archive handling;
see `/root/reference` SURVEY §2 — its four scripts move rows, never
containers): alongside TAR/WebDataset shards (`tar.py`), training
corpora and document dumps routinely arrive as ZIP archives — the
container under docx/epub, the distribution format of many public
datasets. The audit stage a 100 TB pipeline needs is exactly this:
read the end-of-central-directory record, walk the central directory,
cross-check every local header against it, and verify every member's
CRC-32 — producing a trustworthy manifest without ever exposing an
extraction API.

Hand-rolled from the public PKWARE APPNOTE.TXT layout (the writer in
the fixtures is stdlib `zipfile`, which gives the units an INDEPENDENT
implementation of the same spec to agree with — the `tarfile`
construction from `tar.py`):

  - End of central directory (EOCD), sig 0x06054b50: disk numbers,
    entry counts, central-directory size + offset, comment. Located
    by a bounded backwards scan (comment ≤ 65535 bytes) with the
    framing re-checked: EOCD + 22 + comment_len must END the file.
  - Central directory file header, sig 0x02014b50: version, flags,
    method, dos time/date, crc-32, compressed + uncompressed sizes,
    name/extra/comment lengths, local-header offset.
  - Local file header, sig 0x04034b50: same leading fields; payload
    follows name+extra.

Strict audit profile (refusals are loud, never silent skips):
  - multi-disk archives, ZIP64 (0xFFFF/0xFFFFFFFF sentinels or the
    EOCD64 locator) → NotImplementedError;
  - encryption (flag bit 0), streaming data descriptors (bit 3 — a
    seekable writer has no reason to emit them), methods other than
    stored(0)/deflate(8), CD/local disagreement, CRC or length
    mismatch after inflation → ValueError.

100 TB posture: the walk is O(central directory) for the manifest and
O(payload) only for the CRC pass, which is the point of the audit; it
runs per document inside the one `walker_query` boundary like every
walker in this family, so archives parallelize across executors with
zero shuffle.

Oracle strategy (the tar/mp4/warc construction): per document the
fixture is a small archive whose member names/sizes are closed forms
of the document row, so DuckDB computes every manifest column from
`documents` directly; `crc_checked` equals `n_entries` only if the
walker really inflated and CRC-verified every member.
"""
from __future__ import annotations

import io
import struct
import zipfile
import zlib
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

_EOCD_SIG = b"PK\x05\x06"
_CDH_SIG = b"PK\x01\x02"
_LFH_SIG = b"PK\x03\x04"
_EOCD64_LOC_SIG = b"PK\x06\x07"
_EOCD_LEN = 22
_CDH_LEN = 46
_LFH_LEN = 30


class ZipEntry(NamedTuple):
    name: str
    method: int  # 0 stored, 8 deflate
    crc32: int
    csize: int
    usize: int
    offset: int  # local header offset within the archive


class ZipMeta(NamedTuple):
    n_entries: int
    n_stored: int
    n_deflated: int
    total_bytes: int  # Σ uncompressed sizes
    txt_bytes: int  # Σ uncompressed sizes of .txt members
    crc_checked: int  # members whose payload CRC was verified


def _u16(b: bytes, off: int) -> int:
    return b[off] | (b[off + 1] << 8)


def _u32(b: bytes, off: int) -> int:
    return struct.unpack_from("<I", b, off)[0]


def _find_eocd(payload: bytes) -> int:
    """Locate the EOCD by the spec's only robust method: scan back
    from the end over the ≤65535-byte comment span, and accept a sig
    only when its comment length makes the record END the file."""
    n = len(payload)
    if n < _EOCD_LEN:
        raise ValueError("zip: too short for an EOCD record")
    lo = max(0, n - _EOCD_LEN - 0xFFFF)
    pos = payload.rfind(_EOCD_SIG, lo, n - _EOCD_LEN + len(_EOCD_SIG))
    while pos >= 0:
        clen = _u16(payload, pos + 20)
        if pos + _EOCD_LEN + clen == n:
            return pos
        pos = payload.rfind(_EOCD_SIG, lo, pos)
    raise ValueError("zip: no EOCD record found")


def _decode_name(raw: bytes, flags: int) -> str:
    # APPNOTE D.2: bit 11 = utf-8, else cp437 (both stdlib codecs).
    return raw.decode("utf-8" if flags & 0x800 else "cp437")


def parse_zip_entries(payload: bytes) -> list[ZipEntry]:
    """EOCD → central-directory walk → per-entry local-header
    cross-check. Returns the manifest WITHOUT touching payload bytes
    (that's `verify_zip_crcs`); every structural invariant the spec
    states is enforced loudly."""
    eocd = _find_eocd(payload)
    disk_no = _u16(payload, eocd + 4)
    cd_disk = _u16(payload, eocd + 6)
    n_here = _u16(payload, eocd + 8)
    n_total = _u16(payload, eocd + 10)
    cd_size = _u32(payload, eocd + 12)
    cd_off = _u32(payload, eocd + 16)
    if disk_no != 0 or cd_disk != 0:
        raise NotImplementedError("zip: multi-disk archives not supported")
    if n_here != n_total:
        raise ValueError("zip: per-disk vs total entry counts disagree")
    if n_total == 0xFFFF or cd_size == 0xFFFFFFFF or cd_off == 0xFFFFFFFF:
        raise NotImplementedError("zip: ZIP64 not supported")
    if eocd >= 20 and payload[eocd - 20 : eocd - 16] == _EOCD64_LOC_SIG:
        raise NotImplementedError("zip: ZIP64 not supported")
    if cd_off + cd_size != eocd:
        raise ValueError("zip: central directory does not abut the EOCD")

    entries: list[ZipEntry] = []
    pos = cd_off
    for _ in range(n_total):
        if pos + _CDH_LEN > eocd:
            raise ValueError("zip: central directory truncated")
        if payload[pos : pos + 4] != _CDH_SIG:
            raise ValueError("zip: bad central-directory header signature")
        flags = _u16(payload, pos + 8)
        method = _u16(payload, pos + 10)
        crc = _u32(payload, pos + 16)
        csize = _u32(payload, pos + 20)
        usize = _u32(payload, pos + 24)
        nlen = _u16(payload, pos + 28)
        xlen = _u16(payload, pos + 30)
        clen = _u16(payload, pos + 32)
        disk = _u16(payload, pos + 34)
        lfh_off = _u32(payload, pos + 42)
        if flags & 0x1:
            raise NotImplementedError("zip: encrypted entries not supported")
        if flags & 0x8:
            raise ValueError("zip: streaming data descriptor in a seekable archive")
        if method not in (0, 8):
            raise NotImplementedError(f"zip: compression method {method} not supported")
        if disk != 0:
            raise NotImplementedError("zip: multi-disk archives not supported")
        if csize == 0xFFFFFFFF or usize == 0xFFFFFFFF or lfh_off == 0xFFFFFFFF:
            raise NotImplementedError("zip: ZIP64 not supported")
        if method == 0 and csize != usize:
            raise ValueError("zip: stored entry with csize != usize")
        end = pos + _CDH_LEN + nlen + xlen + clen
        if end > eocd:
            raise ValueError("zip: central-directory entry overruns the directory")
        name = _decode_name(payload[pos + _CDH_LEN : pos + _CDH_LEN + nlen], flags)
        entries.append(ZipEntry(name, method, crc, csize, usize, lfh_off))
        pos = end
    if pos != eocd:
        raise ValueError("zip: trailing bytes inside the central directory")

    # Cross-check every local header against its CD record.
    for e in entries:
        p = e.offset
        if p + _LFH_LEN > cd_off:
            raise ValueError("zip: local header out of bounds")
        if payload[p : p + 4] != _LFH_SIG:
            raise ValueError("zip: bad local file header signature")
        lflags = _u16(payload, p + 6)
        lmethod = _u16(payload, p + 8)
        lcrc = _u32(payload, p + 14)
        lcsize = _u32(payload, p + 18)
        lusize = _u32(payload, p + 22)
        lnlen = _u16(payload, p + 26)
        lxlen = _u16(payload, p + 28)
        lname = _decode_name(payload[p + _LFH_LEN : p + _LFH_LEN + lnlen], lflags)
        if lname != e.name:
            raise ValueError(f"zip: local/central name mismatch for {e.name!r}")
        if lmethod != e.method:
            raise ValueError(f"zip: local/central method mismatch for {e.name!r}")
        if (lcrc, lcsize, lusize) != (e.crc32, e.csize, e.usize):
            raise ValueError(f"zip: local/central crc/size mismatch for {e.name!r}")
        if p + _LFH_LEN + lnlen + lxlen + e.csize > cd_off:
            raise ValueError(f"zip: payload of {e.name!r} overruns the archive")
    return entries


def _entry_payload(payload: bytes, e: ZipEntry) -> bytes:
    """Inflate (or slice) one member and verify length + CRC-32."""
    p = e.offset
    nlen = _u16(payload, p + 26)
    xlen = _u16(payload, p + 28)
    start = p + _LFH_LEN + nlen + xlen
    raw = payload[start : start + e.csize]
    if e.method == 0:
        data = raw
    else:
        try:
            data = zlib.decompress(raw, wbits=-15)
        except zlib.error as err:
            raise ValueError(f"zip: deflate stream of {e.name!r} is corrupt") from err
    if len(data) != e.usize:
        raise ValueError(f"zip: inflated size mismatch for {e.name!r}")
    if zlib.crc32(data) & 0xFFFFFFFF != e.crc32:
        raise ValueError(f"zip: CRC-32 mismatch for {e.name!r}")
    return data


def parse_zip_meta(payload: bytes) -> ZipMeta:
    """Full audit: manifest walk + CRC verification of EVERY member."""
    entries = parse_zip_entries(payload)
    checked = 0
    for e in entries:
        _entry_payload(payload, e)
        checked += 1
    return ZipMeta(
        n_entries=len(entries),
        n_stored=sum(1 for e in entries if e.method == 0),
        n_deflated=sum(1 for e in entries if e.method == 8),
        total_bytes=sum(e.usize for e in entries),
        txt_bytes=sum(e.usize for e in entries if e.name.endswith(".txt")),
        crc_checked=checked,
    )


# --------------------------------------------------------------------------
# Fixture writer — stdlib zipfile, an independent implementation of the
# same spec (the tarfile construction).

_EPOCH = (1980, 1, 1, 0, 0, 0)  # DOS-time floor: deterministic archives


def _add(zf: zipfile.ZipFile, name: str, data: bytes, method: int) -> None:
    info = zipfile.ZipInfo(name, date_time=_EPOCH)
    info.compress_type = method
    info.external_attr = 0o644 << 16
    zf.writestr(info, data)


def encode_zip_sample(doc_id: int, text: bytes) -> bytes:
    """Per-doc archive: {id}.txt DEFLATED (the text), {id}.cls STORED
    (one label byte), plus a STORED {id}.json sidecar for even ids —
    both methods and the sidecar branch exercised on every graded row."""
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as zf:
        key = f"{doc_id:08d}"
        _add(zf, f"{key}.txt", text, zipfile.ZIP_DEFLATED)
        _add(zf, f"{key}.cls", str(doc_id % 10).encode(), zipfile.ZIP_STORED)
        if doc_id % 2 == 0:
            _add(zf, f"{key}.json", f'{{"id": {doc_id}}}'.encode(), zipfile.ZIP_STORED)
    return bio.getvalue()


# --------------------------------------------------------------------------
# Spark query

ZIP_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_entries", T.IntegerType(), True),
        T.StructField("n_stored", T.IntegerType(), True),
        T.StructField("n_deflated", T.IntegerType(), True),
        T.StructField("total_bytes", T.LongType(), True),
        T.StructField("txt_bytes", T.LongType(), True),
        T.StructField("crc_checked", T.IntegerType(), True),
    ]
)


def zip_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → ZIP archives (see encode_zip_sample) → CRC-verified
    audit. Every manifest column is a closed form of the document row;
    the EOCD framing, CD walk, local-header cross-check, deflate
    inflation, and CRC-32 verification are all on the oracle path for
    every member of every archive."""
    def walk(d: int, text: str):
        m = parse_zip_meta(encode_zip_sample(d, text.encode("utf-8")))
        yield (d, m.n_entries, m.n_stored, m.n_deflated, m.total_bytes,
               m.txt_bytes, m.crc_checked)

    return walker_query(spark, sf_dir, walk, ZIP_SCHEMA)


# per doc: .txt = octet_length(text) deflated; .cls = 1 stored byte;
# even ids add a stored json sidecar '{"id": N}' of length 8+digits(N);
# crc_checked == n_entries iff every member inflated + CRC-verified.
ZIP_SQL = """
SELECT doc_id AS asset_id,
       CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_entries,
       CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_stored,
       1 AS n_deflated,
       CAST(octet_length(encode(text)) + 1
            + CASE WHEN doc_id % 2 = 0
                   THEN 8 + length(CAST(doc_id AS VARCHAR))
                   ELSE 0 END AS BIGINT) AS total_bytes,
       CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
       CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS crc_checked
FROM documents
ORDER BY asset_id
"""


QUERIES = {"zip_manifest": zip_manifest}

ORACLES = {"zip_manifest": ZIP_SQL}
