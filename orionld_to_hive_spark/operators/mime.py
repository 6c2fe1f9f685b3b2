"""MIME/EML walk — RFC 5322 headers, RFC 2046 multipart, real CTE decode.

Beyond-reference capability (the reference ships no message
handling): mail archives (mbox/EML dumps, support corpora, the
classic public research sets) are a staple text-corpus source, and
the extraction stage is exactly this: parse the header block, walk
the multipart tree by boundary delimiters, decode each leaf's
Content-Transfer-Encoding (base64 / quoted-printable for REAL — not
triage), and lift out the text body. Unlike the container walkers'
skip-by-arithmetic, the payloads here are decoded and verified
bit-for-bit (the `warc_text_extraction` construction).

Hand-rolled from the public RFCs:

  - RFC 5322 header block: CRLF lines, `Name: value`, continuation
    lines start with WSP (unfolding), names are printable-ASCII
    tokens without ':'; case-insensitive.
  - RFC 2045 Content-Type parameters: `;`-separated `key=token` or
    `key="quoted"`; `boundary` required for multipart/*.
  - RFC 2046 multipart framing: delimiter = CRLF + `--boundary`
    (the CRLF belongs to the delimiter, NOT the preceding part); a
    first delimiter with no preamble may omit the leading CRLF;
    close delimiter `--boundary--`; preamble/epilogue ignored;
    transport padding (WSP) tolerated after delimiters.
  - RFC 2045 §6.7 quoted-printable: `=XX` upper/lower hex escapes,
    `=CRLF` soft breaks; malformed escapes refuse.
  - base64 decoded via binascii strict mode (non-alphabet bytes,
    bad padding refuse loudly).

The fixture writer is also hand-rolled (so the encoded body is the
EXACT document bytes — no canonicalization), and the units pin the
whole wire format against stdlib `email.parser` as an INDEPENDENT
implementation: same tree, same decoded payloads, part-for-part.

Oracle strategy: subject/part-counts/attachment bytes are closed
forms of the document row and `body_text` must equal the source
document bit-for-bit — so the QP/base64 decode, boundary framing,
and header unfolding are all on the oracle path for every graded row.
"""
from __future__ import annotations

import binascii
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

_HEX = b"0123456789ABCDEFabcdef"
_B64_ALPHABET = set(b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/=\r\n")


class MimePart(NamedTuple):
    content_type: str  # lowercased type/subtype
    cte: str  # lowercased content-transfer-encoding
    headers: dict[str, str]
    body: bytes  # DECODED payload (leaves only)
    children: "list[MimePart]"  # multipart members


# Headers whose duplication would make the walk ambiguous — the ones
# the parser actually branches on (plus subject, which the query
# emits). Trace headers (Received, …) may legally repeat.
_STRUCTURAL_HEADERS = frozenset(
    ("content-type", "content-transfer-encoding", "mime-version", "subject")
)


def _parse_headers(block: bytes) -> dict[str, str]:
    """RFC 5322 header block with unfolding. Duplicates of the
    STRUCTURAL headers refuse (ambiguous walk); other repeated
    headers — trace fields repeat in real mail — keep the first
    occurrence."""
    headers: dict[str, str] = {}
    lines = block.split(b"\r\n")
    unfolded: list[bytes] = []
    for line in lines:
        if line[:1] in (b" ", b"\t"):
            if not unfolded:
                raise ValueError("mime: continuation line before any header")
            unfolded[-1] += b" " + line.strip()
        else:
            unfolded.append(line)
    for line in unfolded:
        if not line:
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            raise ValueError(f"mime: header line without ':': {line[:40]!r}")
        if not name or any(c <= 0x20 or c >= 0x7F for c in name):
            raise ValueError(f"mime: bad header name {name[:40]!r}")
        key = name.decode("ascii").lower()
        # RFC 5322 mail routinely repeats trace headers (Received,
        # Return-Path, …) — only duplicates of the STRUCTURAL headers
        # this walker consumes are ambiguous enough to refuse
        # (ADVICE r12); for everything else, first occurrence wins
        # (the usual mail-parser convention).
        if key in headers:
            if key in _STRUCTURAL_HEADERS:
                raise ValueError(f"mime: duplicate header {key!r}")
            continue
        headers[key] = value.strip().decode("latin-1")
    return headers


def _parse_content_type(value: str) -> tuple[str, dict[str, str]]:
    parts = value.split(";")
    ctype = parts[0].strip().lower()
    if ctype.count("/") != 1:
        raise ValueError(f"mime: bad content type {ctype!r}")
    params: dict[str, str] = {}
    for p in parts[1:]:
        p = p.strip()
        if not p:
            continue
        k, sep, v = p.partition("=")
        if not sep:
            raise ValueError(f"mime: content-type parameter without '=': {p!r}")
        v = v.strip()
        if v.startswith('"') and v.endswith('"') and len(v) >= 2:
            v = v[1:-1]
        params[k.strip().lower()] = v
    return ctype, params


def decode_qp(data: bytes) -> bytes:
    """RFC 2045 §6.7: '=XX' escapes, '=CRLF' soft breaks; anything
    else after '=' refuses."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        if c == 0x3D:  # '='
            if data[i + 1 : i + 3] == b"\r\n":
                i += 3
                continue
            h = data[i + 1 : i + 3]
            if len(h) < 2 or h[0] not in _HEX or h[1] not in _HEX:
                raise ValueError("mime: malformed quoted-printable escape")
            out.append(int(h, 16))
            i += 3
            continue
        out.append(c)
        i += 1
    return bytes(out)


def encode_qp(data: bytes) -> bytes:
    """Binary-profile QP: every byte outside the printable-ASCII
    literal set (and '=' / space / CR / LF) escaped, so decoding is
    exact with NO newline canonicalization; ≤76-char lines via soft
    breaks."""
    pieces: list[bytes] = []
    line = bytearray()
    for b in data:
        tok = bytes([b]) if 33 <= b <= 126 and b != 0x3D else b"=%02X" % b
        if len(line) + len(tok) > 75:
            pieces.append(bytes(line) + b"=\r\n")
            line = bytearray()
        line += tok
    pieces.append(bytes(line))
    return b"".join(pieces)


def _decode_b64(data: bytes) -> bytes:
    if any(c not in _B64_ALPHABET for c in data):
        raise ValueError("mime: non-alphabet byte in base64 body")
    try:
        return binascii.a2b_base64(data.replace(b"\r\n", b""), strict_mode=True)
    except binascii.Error as e:
        raise ValueError(f"mime: bad base64 body ({e})") from e


def _encode_b64(data: bytes) -> bytes:
    lines = [
        binascii.b2a_base64(data[i : i + 57])[:-1]
        for i in range(0, len(data), 57)
    ]
    return b"\r\n".join(lines)


def _split_multipart(body: bytes, boundary: bytes) -> list[bytes]:
    delim = b"--" + boundary
    if body.startswith(delim):
        pos = 0
    else:
        idx = body.find(b"\r\n" + delim)
        if idx < 0:
            raise ValueError("mime: first boundary delimiter not found")
        pos = idx + 2
    parts: list[bytes] = []
    while True:
        line_end = body.find(b"\r\n", pos)
        if line_end < 0:
            raise ValueError("mime: boundary delimiter line without CRLF")
        after = body[pos + len(delim) : line_end].strip(b" \t")
        if after == b"--":
            return parts  # close delimiter; epilogue ignored
        if after != b"":
            raise ValueError("mime: garbage after boundary delimiter")
        start = line_end + 2
        nxt = body.find(b"\r\n" + delim, start)
        if nxt < 0:
            raise ValueError("mime: unterminated multipart (no close delimiter)")
        parts.append(body[start:nxt])
        pos = nxt + 2


def _parse_entity(raw: bytes, depth: int, *, top: bool) -> MimePart:
    if depth > 8:
        raise ValueError("mime: multipart nesting too deep")
    split = raw.find(b"\r\n\r\n")
    if split < 0:
        raise ValueError("mime: no blank line after the header block")
    headers = _parse_headers(raw[:split])
    body = raw[split + 4 :]
    if top and headers.get("mime-version", "").strip() != "1.0":
        raise ValueError("mime: missing or unsupported MIME-Version")
    ctype, params = _parse_content_type(headers.get("content-type", "text/plain"))
    cte = headers.get("content-transfer-encoding", "7bit").strip().lower()
    if ctype.startswith("multipart/"):
        if cte not in ("7bit", "8bit", "binary"):
            raise ValueError(f"mime: multipart with encoded CTE {cte!r}")
        boundary = params.get("boundary")
        if not boundary:
            raise ValueError("mime: multipart without a boundary parameter")
        chunks = _split_multipart(body, boundary.encode("ascii"))
        children = [_parse_entity(c, depth + 1, top=False) for c in chunks]
        return MimePart(ctype, cte, headers, b"", children)
    if cte in ("7bit", "8bit", "binary"):
        decoded = body
    elif cte == "base64":
        decoded = _decode_b64(body)
    elif cte == "quoted-printable":
        decoded = decode_qp(body)
    else:
        raise NotImplementedError(f"mime: content-transfer-encoding {cte!r}")
    return MimePart(ctype, cte, headers, decoded, [])


def parse_eml(raw: bytes) -> MimePart:
    """Parse one RFC 5322 message (CRLF wire format) into its MIME
    tree with leaf payloads DECODED."""
    return _parse_entity(raw, 0, top=True)


def _leaves(part: MimePart) -> list[MimePart]:
    if not part.content_type.startswith("multipart/"):
        return [part]
    out: list[MimePart] = []
    for c in part.children:
        out.extend(_leaves(c))
    return out


# --------------------------------------------------------------------------
# Fixture writer — hand-rolled wire bytes (stdlib email.parser is the
# independent implementation the units compare against).


def encode_eml(doc_id: int, text: bytes) -> bytes:
    """multipart/mixed: text/plain body (QP for even ids, base64 for
    odd — the EXACT text bytes either way), an application/
    octet-stream attachment of (id%7)+1 closed-form bytes, and for
    ids % 3 == 0 a NESTED multipart/alternative carrying a fixed
    text/html part. Preamble + epilogue + transport padding present
    so the walker's framing rules are exercised on every row."""
    bnd = f"bnd-{doc_id}".encode()
    if doc_id % 2 == 0:
        cte, enc = b"quoted-printable", encode_qp(text)
    else:
        cte, enc = b"base64", _encode_b64(text)
    att = bytes([doc_id % 256]) * (doc_id % 7 + 1)

    out = bytearray()
    out += b"Subject: doc %d\r\n" % doc_id
    out += b"From: crawler@example.com\r\n"
    out += b"To: corpus@example.com\r\n"
    out += b"MIME-Version: 1.0\r\n"
    out += b'Content-Type: multipart/mixed; boundary="%s"\r\n' % bnd
    out += b"\r\n"
    out += b"This is a MIME preamble; parsers must ignore it.\r\n"
    out += b"--%s \r\n" % bnd  # transport padding after the delimiter
    out += b"Content-Type: text/plain; charset=\"utf-8\"\r\n"
    out += b"Content-Transfer-Encoding: %s\r\n\r\n" % cte
    out += enc
    out += b"\r\n--%s\r\n" % bnd
    out += b"Content-Type: application/octet-stream\r\n"
    out += b"Content-Transfer-Encoding: base64\r\n\r\n"
    out += _encode_b64(att)
    if doc_id % 3 == 0:
        inner = f"alt-{doc_id}".encode()
        out += b"\r\n--%s\r\n" % bnd
        out += b'Content-Type: multipart/alternative; boundary="%s"\r\n\r\n' % inner
        out += b"--%s\r\n" % inner
        out += b"Content-Type: text/html; charset=\"us-ascii\"\r\n"
        out += b"Content-Transfer-Encoding: 7bit\r\n\r\n"
        out += b"<p>alt</p>"
        out += b"\r\n--%s--\r\n" % inner
    out += b"\r\n--%s--\r\n" % bnd
    out += b"This is the epilogue; also ignored.\r\n"
    return bytes(out)


# --------------------------------------------------------------------------
# Spark query

EML_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("subject", T.StringType(), True),
        T.StructField("n_parts", T.IntegerType(), True),
        T.StructField("n_attachments", T.IntegerType(), True),
        T.StructField("att_bytes", T.LongType(), True),
        T.StructField("cte", T.StringType(), True),
        T.StructField("body_text", T.StringType(), True),
    ]
)


def eml_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → EML fixtures (see encode_eml) → MIME walk + CTE
    decode. body_text must equal the source text BIT-FOR-BIT, so the
    boundary framing, header unfolding, and QP/base64 decode are all
    on the oracle path for every graded row."""
    def walk(d: int, text: str):
        msg = parse_eml(encode_eml(d, text.encode("utf-8")))
        leaves = _leaves(msg)
        body = next(p for p in leaves if p.content_type == "text/plain")
        atts = [p for p in leaves if p.content_type == "application/octet-stream"]
        yield (d, msg.headers["subject"], len(leaves), len(atts),
               sum(len(p.body) for p in atts), body.cte,
               body.body.decode("utf-8"))

    return walker_query(spark, sf_dir, walk, EML_SCHEMA)


# closed forms of encode_eml; body_text ≡ documents.text bit-for-bit.
EML_SQL = """
SELECT doc_id AS asset_id,
       'doc ' || CAST(doc_id AS VARCHAR) AS subject,
       CAST(2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_parts,
       1 AS n_attachments,
       CAST(doc_id % 7 + 1 AS BIGINT) AS att_bytes,
       CASE WHEN doc_id % 2 = 0 THEN 'quoted-printable' ELSE 'base64' END
         AS cte,
       text AS body_text
FROM documents
ORDER BY asset_id
"""


QUERIES = {"eml_text_extraction": eml_text_extraction}

ORACLES = {"eml_text_extraction": EML_SQL}
