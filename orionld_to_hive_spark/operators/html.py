"""HTML → text extraction — the crawl stage between WARC and dedup.

Beyond-reference capability (the reference ships no crawl handling;
its ingest surface is batch TSV, `tsv_to_hive.py:1`): after the WARC
walk and the HTTP split (`operators/warc.py`), real crawl bodies are
HTML — the stage every production text pipeline runs next is
tag-aware text extraction, and it feeds everything downstream
(dedup, quality, tokenization). Hand-rolled from the public HTML
syntax rules (WHATWG parsing spec's tokenizer states, reduced to the
text-extraction subset):

  - markup declarations / comments (`<!-- ... -->`) removed outright;
  - tags scanned with QUOTED-ATTRIBUTE awareness (a `>` inside
    `href="a>b"` does not end the tag — the classic naive-regex bug);
  - `<script>`/`<style>` element CONTENT removed (raw-text elements:
    their body is not markup and may contain `</p>` etc.);
  - block-level elements contribute a newline separator, inline
    elements contribute nothing (so `a<b>b</b>c` reads "abc" but
    `<p>a</p><p>b</p>` reads "a\\nb");
  - character references decoded (named core set + decimal/hex
    numeric); a bare `&` that doesn't form a reference stays literal
    (browser behavior, not an error);
  - whitespace normalized the way text pipelines expect: runs
    containing a newline collapse to ONE newline, other runs to one
    space, ends stripped.

Real-world HTML is routinely unterminated/misnested; browsers define
recovery, so the extractor is deliberately LENIENT (an unterminated
tag drops the trailing fragment, unknown elements are inline) —
unlike the binary walkers, where malformed framing refuses loudly.
The units pin the extractor against stdlib `html.parser.HTMLParser`
(an independent implementation of the same tokenizer) over the
fixture corpus.

Oracle strategy: the fixture page embeds the escaped document text in
a fixed skeleton (title, comment, attribute with a quoted `>`, a
numeric charref, script/style decoys), so the extracted page text is
a closed form DuckDB computes with two regexp_replace calls and
string concatenation.
"""
from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.walker import walker_query

# Block-level elements (WHATWG flow content that breaks lines) plus
# the document-structure elements; everything else is inline.
_BLOCK = frozenset(
    """address article aside blockquote body br caption dd details
    dialog div dl dt fieldset figcaption figure footer form h1 h2 h3
    h4 h5 h6 head header hgroup hr html li main nav ol p pre section
    summary table tbody td tfoot th thead title tr ul""".split()
)
_RAWTEXT = frozenset({"script", "style"})
_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
}

_WS_NL = re.compile(r"[ \t\r\f]*\n[ \t\r\f\n]*")
_WS = re.compile(r"[ \t\r\f]+")


def normalize_ws(s: str) -> str:
    """Whitespace-run collapse: runs containing a newline → one
    newline, other runs → one space, ends stripped. The SAME two
    regexes the DuckDB oracle applies (RE2 and re agree on these
    classes)."""
    return _WS.sub(" ", _WS_NL.sub("\n", s)).strip(" \n")


def decode_charrefs(s: str) -> str:
    """Named core set + `&#NNN;` / `&#xHH;`. A bare or malformed `&`
    stays literal (browser recovery, not an error)."""
    out = []
    i = 0
    n = len(s)
    while True:
        j = s.find("&", i)
        if j < 0:
            out.append(s[i:])
            return "".join(out)
        out.append(s[i:j])
        k = s.find(";", j + 1, j + 12)
        rep = None
        if k > j + 1:
            ent = s[j + 1 : k]
            if ent.startswith("#"):
                num = ent[1:]
                try:
                    cp = int(num[1:], 16) if num[:1] in "xX" else int(num)
                    if 0 < cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
                        rep = chr(cp)
                except ValueError:
                    rep = None
            else:
                rep = _ENTITIES.get(ent)
        if rep is None:
            out.append("&")
            i = j + 1
        else:
            out.append(rep)
            i = k + 1


def _tag_name(tag: str) -> tuple[str, bool]:
    """(name, closing) from the inside of a tag. Declarations
    (`!DOCTYPE`) and fragments yield name '' → inline no-op."""
    t = tag.strip()
    closing = t.startswith("/")
    if closing:
        t = t[1:]
    name = []
    for ch in t:
        if ch.isalnum() or ch in "-:":
            name.append(ch)
        else:
            break
    return "".join(name).lower(), closing


def extract_text(html: str) -> str:
    """Tag-aware text extraction per the module contract."""
    pieces: list[str] = []
    i = 0
    n = len(html)
    lower = html.lower()
    while i < n:
        j = html.find("<", i)
        if j < 0:
            pieces.append(decode_charrefs(html[i:]))
            break
        if j > i:
            pieces.append(decode_charrefs(html[i:j]))
        if html.startswith("<!--", j):
            e = html.find("-->", j + 4)
            i = n if e < 0 else e + 3
            continue
        # scan to the tag's real end: '>' inside a quoted attribute
        # value does not count
        k = j + 1
        quote = None
        while k < n:
            ch = html[k]
            if quote:
                if ch == quote:
                    quote = None
            elif ch in ('"', "'"):
                quote = ch
            elif ch == ">":
                break
            k += 1
        if k >= n:
            break  # unterminated tag: drop the trailing fragment
        name, closing = _tag_name(html[j + 1 : k])
        i = k + 1
        if not closing and name in _RAWTEXT:
            # raw-text element: body is not markup — skip to the
            # matching close tag (case-insensitive)
            e = lower.find("</" + name, i)
            if e < 0:
                break  # unterminated raw text: drop the rest
            g = html.find(">", e)
            i = n if g < 0 else g + 1
            pieces.append("\n")  # script/style are block-level
            continue
        if name in _BLOCK:
            pieces.append("\n")
    return normalize_ws("".join(pieces))


# --------------------------------------------------------------------------
# encoder (synth fixture + tests)


def _escape(text: str) -> str:
    return (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def encode_html(doc_id: int, text: str) -> str:
    """Closed-form fixture page: title + comment + attribute with a
    quoted '>' + numeric charref + script/style decoys (the script
    body contains a fake close tag) around the escaped document
    text."""
    return (
        "<!DOCTYPE html>\n<html>\n <head>\n"
        f"  <title>t{doc_id}</title>\n"
        "  <style type='text/css'>p { color: red; }</style>\n"
        '  <script>if (1<2) { alert("</p> not a tag"); }</script>\n'
        " </head>\n <body>\n"
        f"  <!-- synthetic page for doc {doc_id} -->\n"
        f'  <h1 class="t" data-x="a>b">Doc {doc_id}&#33;</h1>\n'
        f"  <p>{_escape(text)}</p>\n"
        f'  <div><a href="/doc/{doc_id}">link {doc_id % 7}</a></div>\n'
        " </body>\n</html>\n"
    )


# --------------------------------------------------------------------------
# Spark queries

HTML_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_chars", T.IntegerType(), True),
        T.StructField("page_text", T.StringType(), True),
    ]
)


def html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → synthetic HTML pages → tag-aware extraction. The
    quoted-'>' attribute, charref decode, comment/script/style
    removal, and block/inline separation are all on the oracle path
    for every document."""
    def walk(d: int, text: str):
        page = extract_text(encode_html(d, text))
        yield d, len(page), page

    return walker_query(spark, sf_dir, walk, HTML_EXTRACT_SCHEMA)


def warc_html_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production chain in one query: .warc(.gz) container
    walk → HTTP split → charset decode → HTML text extraction. Stacks
    the warc.py stages under the html.py extractor so the END-TO-END
    path (gzip CRC → WARC framing → HTTP → charset → tags) is
    oracle-certified, not just each stage alone."""
    from orionld_to_hive_spark.operators.warc import (
        _CRLF,
        _META_PAYLOAD,
        _gzip_member,
        decode_http_body,
        encode_warc_record,
        parse_http_response,
        parse_warc,
    )

    def walk(d: int, text: str):
        body = encode_html(d, text).encode("utf-8")
        http = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            + f"Content-Length: {len(body)}".encode()
            + _CRLF + _CRLF + body
        )
        resp = encode_warc_record(
            "response",
            f"<urn:uuid:doc-{d}>",
            http,
            target_uri=f"http://example.com/doc/{d}",
        )
        meta = encode_warc_record(
            "metadata", f"<urn:uuid:meta-{d}>", _META_PAYLOAD
        )
        blob = (
            _gzip_member(resp) + _gzip_member(meta)
            if d % 2 == 0
            else resp + meta
        )
        rec = next(r for r in parse_warc(blob) if r.rec_type == "response")
        h = parse_http_response(rec.payload)
        page_html, _, fired = decode_http_body(h.body, h.content_type)
        assert fired == "declared"
        page = extract_text(page_html)
        yield d, len(page), page

    return walker_query(spark, sf_dir, walk, HTML_EXTRACT_SCHEMA)


# expected page text: 't{id}\nDoc {id}!\n' + normalized(text) + '\n'
# + 'link {id%7}', with the middle newline collapsing away when the
# normalized text is empty
_HTML_PAGE_SQL = """
WITH base AS (
  SELECT doc_id,
         trim(
           regexp_replace(
             regexp_replace(text, '[ \\t\\r\\f]*\\n[ \\t\\r\\f\\n]*',
                            chr(10), 'g'),
             '[ \\t\\r\\f]+', ' ', 'g'),
           ' ' || chr(10)) AS nt
  FROM documents
),
page AS (
  SELECT doc_id,
         't' || doc_id || chr(10) || 'Doc ' || doc_id || '!' || chr(10)
         || CASE WHEN nt = '' THEN '' ELSE nt || chr(10) END
         || 'link ' || (doc_id % 7) AS page_text
  FROM base
)
SELECT doc_id AS asset_id,
       CAST(length(page_text) AS INTEGER) AS n_chars,
       page_text
FROM page
ORDER BY asset_id
"""


# --------------------------------------------------------------------------
# Main-content extraction (boilerplate removal) — the jusText/
# Readability-family heuristic reduced to its load-bearing core:
# segment the page into BLOCKS at block-level element boundaries,
# score each by length and link density, keep the content blocks.


class HtmlBlock(NamedTuple):
    text: str  # normalized block text
    n_chars: int
    n_link_chars: int  # chars inside <a> elements


_MIN_CONTENT_CHARS = 25
_MAX_LINK_DENSITY = 0.5


def extract_blocks(html: str) -> list[HtmlBlock]:
    """Walk the page with the same tokenizer rules as extract_text,
    but finalize a BLOCK at every block-level tag boundary and track
    how many of a block's characters sit inside `<a>` elements — the
    two signals the boilerplate heuristic scores."""
    blocks: list[HtmlBlock] = []
    buf: list[str] = []
    link_chars = 0
    a_depth = 0

    def flush() -> None:
        nonlocal link_chars
        text = normalize_ws("".join(buf))
        if text:
            blocks.append(HtmlBlock(text, len(text), min(link_chars, len(text))))
        buf.clear()
        link_chars = 0

    i = 0
    n = len(html)
    lower = html.lower()
    while i < n:
        j = html.find("<", i)
        if j < 0:
            seg = decode_charrefs(html[i:])
            buf.append(seg)
            if a_depth:
                link_chars += len(normalize_ws(seg))
            break
        if j > i:
            seg = decode_charrefs(html[i:j])
            buf.append(seg)
            if a_depth:
                link_chars += len(normalize_ws(seg))
        if html.startswith("<!--", j):
            e = html.find("-->", j + 4)
            i = n if e < 0 else e + 3
            continue
        k = j + 1
        quote = None
        while k < n:
            ch = html[k]
            if quote:
                if ch == quote:
                    quote = None
            elif ch in ('"', "'"):
                quote = ch
            elif ch == ">":
                break
            k += 1
        if k >= n:
            break
        name, closing = _tag_name(html[j + 1 : k])
        i = k + 1
        if not closing and name in _RAWTEXT:
            e = lower.find("</" + name, i)
            if e < 0:
                break
            g = html.find(">", e)
            i = n if g < 0 else g + 1
            flush()
            continue
        if name == "a":
            a_depth = max(0, a_depth + (-1 if closing else 1))
        elif name in _BLOCK:
            flush()
    flush()
    return blocks


def main_content(html: str) -> tuple[str, int, int]:
    """→ (content text, n_blocks, n_content_blocks): blocks of at
    least _MIN_CONTENT_CHARS chars whose link density stays under
    _MAX_LINK_DENSITY are content; the rest (navigation, short
    headings, link farms, footers) are boilerplate."""
    blocks = extract_blocks(html)
    kept = [
        b.text
        for b in blocks
        if b.n_chars >= _MIN_CONTENT_CHARS
        and b.n_link_chars / b.n_chars < _MAX_LINK_DENSITY
    ]
    return "\n".join(kept), len(blocks), len(kept)


def encode_html_page(doc_id: int, text: str) -> str:
    """Boilerplate-rich fixture: nav link farm, short heading, TWO
    content paragraphs carrying the document text (each prefixed so
    it always clears the length threshold), a link-dense sidebar, a
    short footer. The content paragraphs are the ONLY blocks the
    heuristic may keep."""
    half = len(text) // 2
    p0, p1 = text[:half], text[half:]
    return (
        "<!DOCTYPE html>\n<html>\n <body>\n"
        f'  <nav><a href="/">Home</a> <a href="/about">About</a> '
        f'<a href="/tag/{doc_id % 5}">Tag {doc_id % 5}</a></nav>\n'
        f"  <h1>Doc {doc_id}</h1>\n"
        f"  <p>Paragraph one of document {doc_id}: {_escape(p0)}</p>\n"
        f"  <p>Paragraph two of document {doc_id}: {_escape(p1)}</p>\n"
        f'  <div><a href="/prev/{doc_id}">previous article</a> | '
        f'<a href="/next/{doc_id}">next article</a></div>\n'
        f"  <footer>© site {doc_id % 3}</footer>\n"
        " </body>\n</html>\n"
    )


MAIN_CONTENT_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("n_content_blocks", T.IntegerType(), True),
        T.StructField("content_text", T.StringType(), True),
    ]
)


def html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → boilerplate-rich pages (encode_html_page) → block
    segmentation + link-density scoring → main content. The nav/
    sidebar/footer blocks must be dropped and the two content
    paragraphs kept verbatim — both the segmentation and the density
    arithmetic are on the oracle path for every row."""
    def walk(d: int, text: str):
        content, n_blocks, n_kept = main_content(encode_html_page(d, text))
        yield d, n_blocks, n_kept, content

    return walker_query(spark, sf_dir, walk, MAIN_CONTENT_SCHEMA)


# The fixture always yields 5 non-empty blocks (nav, h1, p, p, the
# sidebar+footer merge into two: div then footer → 6? — no: nav, h1,
# p0, p1, div, footer = 6 blocks) and exactly the two paragraphs
# survive. Paragraph text = prefix + normalized half, with the
# trailing/leading whitespace of each half folding into the prefix
# space per normalize_ws.
_MAIN_CONTENT_SQL = """
WITH halves AS (
  SELECT doc_id,
         substr(text, 1, length(text) // 2) AS p0,
         substr(text, length(text) // 2 + 1) AS p1
  FROM documents
),
norm AS (
  SELECT doc_id,
         trim(
           regexp_replace(
             regexp_replace('Paragraph one of document ' || doc_id || ': ' || p0,
                            '[ \\t\\r\\f]*\\n[ \\t\\r\\f\\n]*', chr(10), 'g'),
             '[ \\t\\r\\f]+', ' ', 'g'),
           ' ' || chr(10)) AS b0,
         trim(
           regexp_replace(
             regexp_replace('Paragraph two of document ' || doc_id || ': ' || p1,
                            '[ \\t\\r\\f]*\\n[ \\t\\r\\f\\n]*', chr(10), 'g'),
             '[ \\t\\r\\f]+', ' ', 'g'),
           ' ' || chr(10)) AS b1
  FROM halves
)
SELECT doc_id AS asset_id,
       6 AS n_blocks,
       2 AS n_content_blocks,
       b0 || chr(10) || b1 AS content_text
FROM norm
ORDER BY asset_id
"""


QUERIES = {
    "html_text_extraction": html_text_extraction,
    "warc_html_extraction": warc_html_extraction,
    "html_main_content": html_main_content,
}

ORACLES = {
    "html_text_extraction": _HTML_PAGE_SQL,
    "warc_html_extraction": _HTML_PAGE_SQL,
    "html_main_content": _MAIN_CONTENT_SQL,
}
