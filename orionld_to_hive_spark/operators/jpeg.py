"""Baseline JPEG decode (ISO/IEC 10918-1 sequential DCT, Huffman) —
pure numpy, no codec libraries.

Closes the multimodal matrix's last declared refusal: r8 shipped the
complete baseline PNG decoder; JPEG was documented as out of reach
"without codec libs", but baseline JPEG needs none — marker parsing,
canonical Huffman decode, dequantization, an exact 8×8 float IDCT,
pixel-replication chroma upsampling and the JFIF YCbCr→RGB transform
are all spec arithmetic. Supported: SOF0 baseline AND SOF2
progressive (r10 — spectral selection, successive approximation,
multi-scan coefficient accumulation, EOB runs, AC refinement
correction bits, interleaved and non-interleaved DC scans), 8-bit
precision, grey (1 component) and YCbCr (3 components), arbitrary h/v
sampling factors 1-4 (4:4:4 / 4:2:2 / 4:2:0 …), interleaved and
single-component scans, 8- and 16-bit DQT, multiple tables per DQT/DHT
segment, restart intervals (DRI/RSTn), byte stuffing, and (r11)
4-component Adobe frames — APP14 transform 0 (plain CMYK, planes
emitted as stored) and 2 (YCCK: JFIF YCbCr math then CMY = 255 − RGB,
K passthrough). Honest refusals: other SOFs (lossless, hierarchical,
12-bit), arithmetic coding, 5+ component frames, APP14 transform
values invalid for the component count.

The registry query rides the same byte-domain-oracle trick as the PNG
family (multimodal.py): the flat-block grey encoder below quantizes DC
with step 8, and a flat 8×8 block's only DCT coefficient is
F(0,0) = 8·(s−128), so round(8·(s−128)/8)·8 dequantizes and
inverse-transforms back to EXACTLY s for every byte value — the lossy
codec is lossless by construction on this subset, and DuckDB can
predict every decoded pixel from the document's hex dump. The
decoder stays fully general (it never knows blocks are flat); its
general paths — AC coefficients, subsampling, color transform,
restarts, 16-bit DQT — are pinned by hand-built streams in
tests/test_jpeg_baseline.py.

Scale shape: decode is Arrow-batched mapInPandas, partition-local,
zero shuffle before the final per-asset stats (one row per asset, no
pixel data leaves the executor). Per-asset Python cost is linear in
payload bytes; at 100 TB the decode parallelizes per file split like
every other mapInPandas stage.

Reference: the reference engine (dannydenovi/OrionLD-to-Hive) has no
multimodal surface at all (hive.py:1-138 is tabular); this is
north-star capability per SURVEY.md §6/BASELINE.json.
"""

from __future__ import annotations

import functools
import struct
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.multimodal import (
    PNG_DARK,
    PNG_STATS_SCHEMA,
    _pad_raster,
)
from orionld_to_hive_spark.sources.warehouse import load_docs_spread

# Zig-zag index: ZIGZAG[k] = raster position (row*8+col) of the k-th
# coefficient in transmission order (spec Figure 5).
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Orthonormal DCT-II basis: M[u, x] = c(u)/2 · cos((2x+1)uπ/16); the
# inverse transform of coefficient matrix F is Mᵀ·F·M (spec A.3.3).
_IDCT_M = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


class JpegImage(NamedTuple):
    samples: np.ndarray  # uint8, shape (height*width*channels,) interleaved
    width: int
    height: int
    channels: int  # 1 = grey, 3 = RGB, 4 = CMYK (stored-plane values)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    de-stuffing. Keeps a multi-byte accumulator so peek/skip (the LUT
    Huffman fast path) and read_bits are O(1) per call instead of
    per-bit. At a real marker the accumulator is padded with virtual
    1-bits (spec F.1.2.3: trailing padding is 1s; canonical tables
    reserve the all-ones code, so padding can never decode as a
    symbol) — the marker byte itself is never consumed."""

    __slots__ = ("data", "pos", "_acc", "_nbits", "_virtual")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0
        self._virtual = 0  # pad bits appended past the entropy data

    def _ensure(self, n: int) -> None:
        # r14 measured-and-rejected: a marker-free 4-byte fast refill
        # (slice + int.from_bytes) A/B'd 0.99× on the CMYK corpus —
        # refills are small and infrequent enough that the window scan
        # costs what it saves; the byte loop stays.
        while self._nbits < n:
            if self.pos < len(self.data):
                b = self.data[self.pos]
                if b == 0xFF:
                    nxt = (
                        self.data[self.pos + 1]
                        if self.pos + 1 < len(self.data)
                        else 0xD9
                    )
                    if nxt == 0x00:
                        self.pos += 2
                    else:
                        # marker: virtual padding, don't consume
                        self._acc = (self._acc << 8) | 0xFF
                        self._nbits += 8
                        self._virtual += 8
                        continue
                else:
                    self.pos += 1
                self._acc = (self._acc << 8) | b
                self._nbits += 8
            else:
                self._acc = (self._acc << 8) | 0xFF
                self._nbits += 8
                self._virtual += 8

    def peek(self, n: int) -> int:
        self._ensure(n)
        return (self._acc >> (self._nbits - n)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self._nbits -= n
        self._acc &= (1 << self._nbits) - 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        self._ensure(n)
        self._nbits -= n
        v = (self._acc >> self._nbits) & ((1 << n) - 1)
        self._acc &= (1 << self._nbits) - 1
        return v

    def read_bit(self) -> int:
        return self.read_bits(1)

    def align(self) -> None:
        # virtual bits still sitting in the buffer were only PEEKED
        # (legal near a marker); consumed virtual bits mean the decode
        # overran the scan data
        if self._nbits < self._virtual:
            raise ValueError("entropy decode ran past the scan data")
        self._acc = 0
        self._nbits = 0
        self._virtual = 0

    def consume_rst(self) -> int:
        """After align(): consume an RSTn marker, return n."""
        if self.data[self.pos] != 0xFF:
            raise ValueError("expected RST marker")
        m = self.data[self.pos + 1]
        if not 0xD0 <= m <= 0xD7:
            raise ValueError(f"expected RSTn, got FF{m:02X}")
        self.pos += 2
        return m - 0xD0


_LUT_BITS = 8


def _build_huff(
    bits: list[int], vals: list[int]
) -> tuple[list, dict[tuple[int, int], int]]:
    """Canonical JPEG Huffman table (spec C.2): BITS[i] codes of
    length i+1, values assigned in order. Returns (lut, slow): `lut`
    maps every 8-bit window whose prefix is a code of ≤ 8 bits to
    (value, code_length) — one list index per symbol on the fast path;
    `slow` keys (length, code) for the rare > 8-bit codes."""
    slow: dict[tuple[int, int], int] = {}
    lut: list = [None] * (1 << _LUT_BITS)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            slow[(length, code)] = vals[k]
            if length <= _LUT_BITS:
                base = code << (_LUT_BITS - length)
                for w in range(base, base + (1 << (_LUT_BITS - length))):
                    lut[w] = (vals[k], length)
            k += 1
            code += 1
        code <<= 1
    return lut, slow


def _huff_decode(r: _BitReader, table) -> int:
    # Hot path: operates on the reader's accumulator directly instead
    # of peek()/skip() — the method-call overhead is ~35% of entropy
    # decode time at this call volume (measured, PLANS.md r12); the
    # semantics are exactly peek(_LUT_BITS) + skip(hit[1]).
    lut, slow = table
    if r._nbits < _LUT_BITS:
        r._ensure(_LUT_BITS)
    nb = r._nbits
    hit = lut[(r._acc >> (nb - _LUT_BITS)) & 0xFF]
    if hit is not None:
        nb -= hit[1]
        r._nbits = nb
        r._acc &= (1 << nb) - 1
        return hit[0]
    code = r.read_bits(_LUT_BITS)
    for length in range(_LUT_BITS + 1, 17):
        code = (code << 1) | r.read_bit()
        v = slow.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, t: int) -> int:
    """Sign-extend a t-bit magnitude (spec F.2.2.1 EXTEND)."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes) -> JpegImage:
    """Decode boundary with crawl-data hygiene: a malformed stream
    must surface as ValueError (or NotImplementedError for honest
    capability refusals) — never a low-level IndexError/KeyError/
    struct.error, and never StopIteration, which would silently
    terminate a surrounding generator (the mapInPandas batch loop).
    Found by fuzzing mutated streams; the impl's own specific
    ValueErrors pass through untouched."""
    try:
        return _decode_jpeg_impl(payload)
    except (ValueError, NotImplementedError):
        raise
    except (StopIteration, IndexError, KeyError, struct.error,
            OverflowError) as e:
        # OverflowError: a corrupt progressive stream can pump the DC
        # predictor past int64 before any range check fires
        raise ValueError(
            f"malformed JPEG stream ({type(e).__name__}: {e})"
        ) from e


def _decode_jpeg_impl(payload: bytes) -> JpegImage:
    """Decode a baseline sequential-DCT Huffman JPEG. See module
    docstring for the supported matrix and the refusal list."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}  # id -> 64 entries, zigzag order
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None  # (height, width, comps) comps: [(cid, h, v, tq)]
    restart_interval = 0
    scan_out: dict[int, np.ndarray] = {}  # cid -> full-res-at-sampling plane
    progressive = False
    adobe_transform = None  # APP14 "Adobe" color-transform byte
    # progressive only: cid -> (by, bx, 64) RAW (un-dequantized) coefs
    # in transmission order, accumulated across scans (spectral
    # selection fills bands, successive approximation fills bit planes)
    coef_store: dict[int, np.ndarray] = {}

    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        # spec B.1.1.2: markers may be preceded by any number of 0xFF
        # fill bytes — skip them before reading the marker code
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # TEM / stray RST: no payload
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2 : pos + seglen]
        end = pos + seglen
        if marker == 0xDB:  # DQT — one or more tables
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                i += 1
                if pq == 0:
                    qt[tq] = np.frombuffer(
                        body[i : i + 64], dtype=np.uint8
                    ).astype(np.int32)
                    i += 64
                else:
                    qt[tq] = (
                        np.frombuffer(body[i : i + 128], dtype=">u2")
                        .astype(np.int32)
                    )
                    i += 128
        elif marker == 0xC4:  # DHT — one or more tables
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                huff[(tc, th)] = _build_huff(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            precision = body[0]
            if precision != 8:
                raise NotImplementedError(
                    f"{precision}-bit precision (baseline is 8)"
                )
            h, w = struct.unpack_from(">HH", body, 1)
            nc = body[5]
            if nc not in (1, 3, 4):
                raise NotImplementedError(
                    f"{nc}-component JPEG (grey, YCbCr, CMYK/YCCK only)"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            for cid, ch, cv, _tq in comps:
                if ch == 0 or cv == 0 or hmax % ch or vmax % cv:
                    # spec-legal but pathological (e.g. 3:2 ratios);
                    # pixel-replication upsampling needs an integer
                    # ratio — refuse loudly rather than mis-size planes
                    raise NotImplementedError(
                        f"non-integer chroma upsampling ratio "
                        f"(component {cid}: {ch}x{cv} vs max "
                        f"{hmax}x{vmax})"
                    )
            frame = (h, w, comps)
            if progressive:
                # allocate the coefficient accumulators, padded to the
                # interleaved MCU grid so dummy blocks at the right and
                # bottom edges decode into real storage (cropped at
                # assembly)
                mcus_x = -(-w // (8 * hmax))
                mcus_y = -(-h // (8 * vmax))
                for cid, ch, cv, _tq in comps:
                    coef_store[cid] = np.zeros(
                        (mcus_y * cv, mcus_x * ch, 64), dtype=np.int32
                    )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF{marker - 0xC0}); "
                "only SOF0 and SOF2 are supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xEE and body[:5] == b"Adobe":  # APP14
            # layout: "Adobe" ver(2) flags0(2) flags1(2) transform(1)
            if len(body) < 12:
                raise ValueError("short Adobe APP14 segment")
            adobe_transform = body[11]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            if progressive:
                pos = _decode_scan_progressive(
                    payload, end, body, frame, huff,
                    restart_interval, coef_store,
                )
            else:
                pos = _decode_scan(
                    payload, end, body, frame, qt, huff,
                    restart_interval, scan_out,
                )
            continue
        # APPn / COM / anything else: skip
        pos = end

    if frame is None:
        raise ValueError("no frame in JPEG stream")
    if progressive:
        return _assemble_progressive(frame, qt, coef_store, adobe_transform)
    return _assemble(frame, scan_out, adobe_transform)


# ---------------------------------------------------------------------------
# Vectorized DC-only scan decode (r14 second pass, guide §4.2). A flat-
# block baseline scan is a rigid grammar per block — DC Huffman code,
# `cat` magnitude bits, immediate EOB — and that structure covers the
# whole synthesized corpus. The fast path below decodes such scans with
# numpy instead of the per-symbol Python walk:
#
#   1. destuff the entropy segment once (vectorized 0xFF00 removal) and
#      locate the terminating marker;
#   2. for EVERY bit position q, decode speculatively via 16-bit-window
#      LUTs: DC (value, length), the magnitude bits, and the symbol
#      after them under the real AC table — giving a per-position block
#      length L[q] and a validity flag ok[q] (`ok` requires that next
#      symbol to be EOB under the scan's actual tables);
#   3. chase the block chain p += L[p] (a plain-int loop over lists —
#      n_blocks steps, not n_symbols Python frames), collecting each
#      block's start/category/magnitude;
#   4. EXTEND, per-component predictor cumsum and dequantization run
#      vectorized; only coef[0] is nonzero by construction.
#
# EXACTNESS: the fast path answers ONLY when every block conforms to
# the DC-only grammar under the stream's own Huffman tables and stays
# inside the real entropy bits; any other condition — a real AC
# coefficient, an invalid window, a restart interval, a category > 15,
# an overrun into the virtual 1-padding — returns None and the serial
# walk below runs unchanged. Where it answers, the arithmetic is the
# same table lookup + EXTEND + predictor chain `_decode_block`
# performs, pinned bit-identical on the corpus and on adversarial
# streams in tests/test_opt_r14.py (and every pre-existing jpeg test
# now exercises the dispatch).

# Each entry holds two 64K int16 arrays (256 KiB), so the cache a reused
# Python worker keeps for its lifetime is bounded: the corpus needs a
# handful of tables, and an adversarial scan of distinct tables only
# cycles the least recently used ones out.
_LUT16_CACHE_MAX = 16


def _lut16(table) -> tuple:
    """(val, length) int16 arrays indexed by every 16-bit lookahead
    window; length 0 marks windows whose prefix decodes to no code.
    Canonical codes are prefix-free, so the per-code ranges are
    disjoint. Cached by table content (tables are rebuilt per payload
    but shared across a corpus)."""
    _lut, slow = table
    return _lut16_for(tuple(sorted(slow.items())))


@functools.lru_cache(maxsize=_LUT16_CACHE_MAX)
def _lut16_for(codes: tuple) -> tuple:
    val = np.zeros(1 << 16, dtype=np.int16)
    ln = np.zeros(1 << 16, dtype=np.int16)
    for (length, code), v in codes:
        base = code << (16 - length)
        span = 1 << (16 - length)
        val[base : base + span] = v
        ln[base : base + span] = length
    return val, ln


def _entropy_segment(payload: bytes, data_start: int) -> tuple:
    """(destuffed entropy bytes, absolute position of the terminating
    marker's 0xFF) — vectorized equivalent of _BitReader's byte walk:
    0xFF00 pairs collapse to 0xFF, the first 0xFF followed by any
    other byte (or a trailing lone 0xFF) ends the segment."""
    arr = np.frombuffer(payload, dtype=np.uint8)[data_start:]
    if not len(arr):
        return arr, data_start
    is_marker = (arr[:-1] == 0xFF) & (arr[1:] != 0x00)
    cand = np.nonzero(is_marker)[0]
    if len(cand):
        end = int(cand[0])
    elif arr[-1] == 0xFF:
        end = len(arr) - 1
    else:
        end = len(arr)
    seg = arr[:end]
    stuffed = np.zeros(len(seg), dtype=bool)
    if len(seg) > 1:
        stuffed[1:] = (seg[:-1] == 0xFF) & (seg[1:] == 0x00)
    return seg[~stuffed], data_start + end


def _dc_fast_coefs(payload, data_start, per_mcu, n_mcus):
    """Try the vectorized DC-only decode of one interleaved baseline
    scan. Returns (coef0_column, marker_pos) — the dequantized DC
    coefficient per block in stream order — or None when the scan does
    not conform (the caller then runs the serial walk)."""
    blocks_per_mcu = len(per_mcu)
    n_blocks = n_mcus * blocks_per_mcu
    data, marker_pos = _entropy_segment(payload, data_start)
    nbits = len(data) * 8
    if nbits == 0:
        return None
    padded = np.concatenate(
        [data, np.full(8, 0xFF, dtype=np.uint8)]
    ).astype(np.uint32)
    m24 = (padded[:-2] << 16) | (padded[1:-1] << 8) | padded[2:]

    def win16(q):
        return (m24[q >> 3] >> (8 - (q & 7))) & 0xFFFF

    q = np.arange(nbits, dtype=np.int64)
    w = win16(q)
    # one packed per-position decode table per distinct (dc, ac) table
    # pair in the MCU schedule (≤ 4 pairs; most scans share one):
    # enc[q] = L<<26 | cat<<20 | mag, or -1 where the position does not
    # decode as a DC-only block — ONE tolist per pair so the chain walk
    # below runs on plain Python ints
    pair_of_slot = []
    pairs = {}
    per_slot = []
    for _cid, dct, act, qvals in per_mcu:
        key = (id(dct), id(act))
        if key not in pairs:
            dval, dlen = _lut16(dct)
            aval, alen = _lut16(act)
            cat = dval[w].astype(np.int64)
            dl = dlen[w].astype(np.int64)
            capped = np.minimum(cat, 15)
            wm = win16(q + dl)
            mag = (wm >> (16 - capped)) & ((np.int64(1) << capped) - 1)
            # `capped` also bounds the window index: positions whose
            # category exceeds 15 are rejected below, so their lookup
            # address only needs to stay in range
            wa = win16(q + dl + capped)
            av = aval[wa]
            al = alen[wa].astype(np.int64)
            ok = (dl > 0) & (cat <= 15) & (al > 0) & (av == 0)
            enc = np.where(
                ok, ((dl + cat + al) << 26) | (cat << 20) | mag, -1
            )
            pairs[key] = enc.tolist()
        pair_of_slot.append(pairs[key])
        per_slot.append(qvals[0])

    # chase the block chain (plain-int list walk: n_blocks steps, not
    # n_symbols Python frames)
    p = 0
    cats = [0] * n_blocks
    mags = [0] * n_blocks
    i = 0
    for _m in range(n_mcus):
        for s in range(blocks_per_mcu):
            if p >= nbits:
                return None
            e = pair_of_slot[s][p]
            if e < 0:
                return None
            cats[i] = (e >> 20) & 0x3F
            mags[i] = e & 0xFFFFF
            p += e >> 26
            i += 1
    if p > nbits:
        return None

    cat = np.array(cats, dtype=np.int64)
    mag = np.array(mags, dtype=np.int64)
    half = np.where(cat > 0, np.int64(1) << np.maximum(cat - 1, 0), np.int64(1))
    ext = np.where(
        cat == 0,
        0,
        np.where(mag >= half, mag, mag - (np.int64(1) << cat) + 1),
    )
    # per-component predictor chains: slots of one cid, in stream
    # order, form that component's DC difference sequence
    grid = ext.reshape(n_mcus, blocks_per_mcu)
    dc = np.empty_like(grid)
    cids = [slot[0] for slot in per_mcu]
    for cid in set(cids):
        cols = [s for s, c in enumerate(cids) if c == cid]
        dc[:, cols] = (
            np.cumsum(grid[:, cols].ravel()).reshape(n_mcus, len(cols))
        )
    q0 = np.array(per_slot, dtype=np.int64)[None, :]
    return (dc * q0).ravel().astype(np.float64), marker_pos


def _decode_scan(payload, data_start, body, frame, qt, huff,
                 restart_interval, scan_out) -> int:
    """Decode one scan's entropy data; returns stream position of the
    next marker. Fills scan_out[cid] with the component's plane at its
    own sampling resolution."""
    height, width, comps = frame
    ns = body[0]
    scan_comps = []
    for s in range(ns):
        cs, tda = body[1 + 2 * s], body[2 + 2 * s]
        comp = next(c for c in comps if c[0] == cs)
        scan_comps.append((comp, tda >> 4, tda & 0xF))
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    if ns == 1:
        # non-interleaved: MCU is a single 8×8 block of that component
        (cid, ch, cv, tq), td, ta = scan_comps[0]
        cw = -(-width * ch // hmax)
        chh = -(-height * cv // vmax)
        bx, by = -(-cw // 8), -(-chh // 8)
        mcus_x, mcus_y = bx, by
        layout = [((cid, tq, td, ta), 1, 1, bx * 8, by * 8)]
    else:
        mcus_x = -(-width // (8 * hmax))
        mcus_y = -(-height // (8 * vmax))
        layout = [
            ((cid, tq, td, ta), ch, cv, mcus_x * ch * 8, mcus_y * cv * 8)
            for (cid, ch, cv, tq), td, ta in scan_comps
        ]

    n_mcus = mcus_x * mcus_y
    # Per-MCU schedule resolved ONCE: table/quant lookups and the
    # ch×cv sub-block expansion were previously re-done per MCU (4
    # dict lookups + nested loops per block at full call volume);
    # quant values pre-cast to Python ints so the hot loop never pays
    # numpy scalar conversion (measured with the scatter change below:
    # 1.6× on the 4-plane CMYK decode, PLANS.md r12).
    per_mcu = []  # (cid, dc_table, ac_table, q_ints) per block in MCU
    for (cid, tq, td, ta), ch, cv, _pw, _ph in layout:
        q = [int(x) for x in qt[tq]]
        for _ in range(ch * cv):
            per_mcu.append((cid, huff[(0, td)], huff[(1, ta)], q))
    blocks_per_mcu = len(per_mcu)
    n_blocks = n_mcus * blocks_per_mcu
    # coefficients in TRANSMISSION (zigzag) order, dequantized at
    # write time; the IDCT runs ONCE, batched over every block of the
    # scan — per-block numpy work (alloc + two 8×8 matmuls) dominates
    # a python-loop decoder, batching it is a measured ~2× on the
    # registry corpus
    # vectorized DC-only fast path (exact; None on any non-conforming
    # block or when restarts partition the predictor chains)
    fast = None if restart_interval else _dc_fast_coefs(
        payload, data_start, per_mcu, n_mcus
    )
    if fast is not None:
        coef0, end_pos = fast
        # DC-only blocks are flat: the two 8×8 IDCT matmuls reduce to
        # (M[0,i]·v)·M[0,j] — the same multiplication order (and
        # therefore bit-identical doubles) as the matmul, whose only
        # other addends are exact zeros
        m0 = _IDCT_M[0]
        spatial = (m0[None, :, None] * coef0[:, None, None]) * m0[None, None, :]
    else:
        coefs = np.zeros((n_blocks, 64), dtype=np.float64)
        r = _BitReader(payload, data_start)
        pred = {key[0]: 0 for key, *_ in layout}
        rst_n = 0
        bi = 0
        for m in range(n_mcus):
            if restart_interval and m and m % restart_interval == 0:
                r.align()
                got = r.consume_rst()
                if got != rst_n & 7:
                    raise ValueError("RST marker out of sequence")
                rst_n += 1
                for k in pred:
                    pred[k] = 0
            for cid, dct, act, q in per_mcu:
                _decode_block(r, dct, act, q, pred, cid, coefs[bi])
                bi += 1
        end_pos = r.pos
        blocks = np.zeros((n_blocks, 64), dtype=np.float64)
        blocks[:, ZIGZAG] = coefs
        spatial = _IDCT_M.T @ blocks.reshape(n_blocks, 8, 8) @ _IDCT_M
    # Vectorized tile scatter: block bi = m·B + off(+j) sits at plane
    # tile (my·cv + byi, mx·ch + bxi) — a pure reshape/transpose, no
    # per-block Python assignment (the old loop was ~30% of scan time
    # on 4-plane frames).
    off = 0
    for (cid, _tq, _td, _ta), ch, cv, pw, ph in layout:
        nb = ch * cv
        idx = (
            np.arange(n_mcus)[:, None] * blocks_per_mcu
            + off
            + np.arange(nb)[None, :]
        ).ravel()
        tiles = spatial[idx].reshape(mcus_y, mcus_x, cv, ch, 8, 8)
        scan_out[cid] = (
            tiles.transpose(0, 2, 4, 1, 3, 5).reshape(cv * 8 * mcus_y,
                                                      ch * 8 * mcus_x)
        )[:ph, :pw]
        off += nb
    return _skip_to_marker(payload, end_pos)


def _skip_to_marker(payload: bytes, p: int) -> int:
    """Advance past entropy padding / trailing RSTs to the next real
    marker — the shared tail of every scan decoder."""
    last = len(payload) - 1
    while p < last and not (payload[p] == 0xFF and payload[p + 1] != 0x00):
        p += 1
    while p < last and 0xD0 <= payload[p + 1] <= 0xD7:
        p += 2
        while p < last and not (
            payload[p] == 0xFF and payload[p + 1] != 0x00
        ):
            p += 1
    return p


def _decode_block(r, dc_table, ac_table, q, pred, cid, coef) -> None:
    """Entropy-decode one block into `coef` (a view of the scan's
    coefficient matrix, transmission order, dequantized). Inlined
    read_bits+EXTEND on the receive path (spec F.2.2.1 RECEIVE then
    EXTEND) — same hot-path rationale as _huff_decode. `q` is a list
    of Python ints (pre-cast by the scan scheduler)."""
    t = _huff_decode(r, dc_table)
    if t:
        if r._nbits < t:
            r._ensure(t)
        nb = r._nbits - t
        v = r._acc >> nb
        r._nbits = nb
        r._acc &= (1 << nb) - 1
        pred[cid] += v if v >= (1 << (t - 1)) else v - (1 << t) + 1
    coef[0] = pred[cid] * q[0]
    k = 1
    while k < 64:
        rs = _huff_decode(r, ac_table)
        rr, s = rs >> 4, rs & 0xF
        if s == 0:
            if rr == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += rr
        if r._nbits < s:
            r._ensure(s)
        nb = r._nbits - s
        v = r._acc >> nb
        r._nbits = nb
        r._acc &= (1 << nb) - 1
        coef[k] = (v if v >= (1 << (s - 1)) else v - (1 << s) + 1) * q[k]
        k += 1


def _decode_scan_progressive(payload, data_start, body, frame, huff,
                             restart_interval, store) -> int:
    """Decode one PROGRESSIVE scan (spec §G.2, decode procedures
    G.1.2): spectral selection [Ss, Se] of one bit plane (successive
    approximation Ah→Al) into the raw coefficient accumulators.
    DC scans (Ss=0) may be interleaved; AC scans are single-component
    by construction (B.2.3: Ns > 1 only when Ss = 0)."""
    height, width, comps = frame
    ns = body[0]
    sel = []
    for s in range(ns):
        cs, tda = body[1 + 2 * s], body[2 + 2 * s]
        comp = next(c for c in comps if c[0] == cs)
        sel.append((comp, tda >> 4, tda & 0xF))
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    r = _BitReader(payload, data_start)

    if ss == 0:  # DC scan (first pass or refinement)
        if se != 0:
            raise ValueError("DC progressive scan must have Se = 0")
        mcus_x = -(-width // (8 * hmax))
        mcus_y = -(-height // (8 * vmax))
        if ns == 1:
            # non-interleaved DC scan: walk the component's REAL grid
            (cid, ch, cv, _tq), td, _ta = sel[0]
            cw = -(-width * ch // hmax)
            chh = -(-height * cv // vmax)
            layout = [((cid, td), 1, 1)]
            mcus_x, mcus_y = -(-cw // 8), -(-chh // 8)
        else:
            layout = [
                ((cid, td), ch, cv)
                for (cid, ch, cv, _tq), td, _ta in sel
            ]
        pred = {key[0]: 0 for key, *_ in layout}
        rst_n = 0
        for m in range(mcus_x * mcus_y):
            if restart_interval and m and m % restart_interval == 0:
                r.align()
                if r.consume_rst() != rst_n & 7:
                    raise ValueError("RST marker out of sequence")
                rst_n += 1
                for k in pred:
                    pred[k] = 0
            my, mx = divmod(m, mcus_x)
            for (cid, td), ch, cv in layout:
                for byi in range(cv):
                    for bxi in range(ch):
                        blk = store[cid][my * cv + byi, mx * ch + bxi]
                        if ah == 0:
                            t = _huff_decode(r, huff[(0, td)])
                            pred[cid] += _extend(r.read_bits(t), t)
                            blk[0] = pred[cid] << al
                        elif r.read_bit():
                            blk[0] |= 1 << al
    else:  # AC scan: one component, spectral band [ss, se]
        if ns != 1:
            raise ValueError("progressive AC scan must be one component")
        (cid, ch, cv, _tq), _td, ta = sel[0]
        actab = huff[(1, ta)]
        cw = -(-width * ch // hmax)
        chh = -(-height * cv // vmax)
        bx_n, by_n = -(-cw // 8), -(-chh // 8)
        plane = store[cid]
        eobrun = 0
        rst_n = 0
        for bidx in range(bx_n * by_n):
            if restart_interval and bidx and bidx % restart_interval == 0:
                r.align()
                if r.consume_rst() != rst_n & 7:
                    raise ValueError("RST marker out of sequence")
                rst_n += 1
                eobrun = 0
            by, bx = divmod(bidx, bx_n)
            coef = plane[by, bx]
            if ah == 0:  # first pass for this band (G.1.2.2)
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _huff_decode(r, actab)
                    rr, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if rr == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << rr) - 1
                        if rr:
                            eobrun += r.read_bits(rr)
                        break
                    k += rr
                    if k > se:
                        # corrupt run length: refuse loudly instead of
                        # writing into another scan's spectral band or
                        # dying on a bare IndexError past k=63
                        raise ValueError(
                            "AC run past the scan's spectral band"
                        )
                    coef[k] = _extend(r.read_bits(s), s) << al
                    k += 1
            else:  # refinement pass (G.1.2.3)
                eobrun = _refine_ac(r, actab, coef, ss, se, al, eobrun)
    return _skip_to_marker(payload, r.pos)


def _refine_ac(r, actab, coef, ss, se, al, eobrun) -> int:
    """AC successive-approximation refinement of one block (spec
    G.1.2.3 / the libjpeg decode_mcu_AC_refine shape): correction
    bits for every already-nonzero coefficient in the band, newly
    significant coefficients arrive as ±1 << Al."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(r, actab)
            rr, s = rs >> 4, rs & 0xF
            if s == 0:
                if rr < 15:
                    eobrun = 1 << rr
                    if rr:
                        eobrun += r.read_bits(rr)
                    break  # remainder of this block handled below
                val = 0  # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("refinement size must be 1")
                val = p1 if r.read_bit() else m1
            while k <= se:
                c = int(coef[k])
                if c != 0:
                    if r.read_bit() and (c & p1) == 0:
                        coef[k] = c + (p1 if c >= 0 else m1)
                else:
                    if rr == 0:
                        break
                    rr -= 1
                k += 1
            if val != 0 and k <= se:
                coef[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            c = int(coef[k])
            if c != 0 and r.read_bit() and (c & p1) == 0:
                coef[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _assemble_progressive(frame, qt, store, adobe_transform=None) -> JpegImage:
    """Dequantize + IDCT the accumulated raw coefficients (all scans
    seen), then reuse the baseline assembly (upsample/crop/color)."""
    scan_out: dict[int, np.ndarray] = {}
    for cid, _ch, _cv, tq in frame[2]:
        if tq not in qt:
            raise ValueError(f"missing quantization table {tq}")
        arr = store[cid]
        by_n, bx_n, _ = arr.shape
        deq = arr.reshape(-1, 64).astype(np.float64) * qt[tq]
        blocks = np.zeros((by_n * bx_n, 64), dtype=np.float64)
        blocks[:, ZIGZAG] = deq
        spatial = _IDCT_M.T @ blocks.reshape(-1, 8, 8) @ _IDCT_M
        scan_out[cid] = (
            spatial.reshape(by_n, bx_n, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by_n * 8, bx_n * 8)
        )
    return _assemble(frame, scan_out, adobe_transform)


def _assemble(frame, scan_out, adobe_transform=None) -> JpegImage:
    height, width, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    out_planes = []
    for cid, ch, cv, _tq in comps:
        if cid not in scan_out:
            raise ValueError(f"no scan data for component {cid}")
        plane = scan_out[cid]
        # pixel-replication upsample to full resolution, then crop
        # (ratio-1 repeats skipped: np.repeat(…, 1) still copies the
        # whole plane — r14, pure identity)
        if vmax != cv:
            plane = np.repeat(plane, vmax // cv, axis=0)
        if hmax != ch:
            plane = np.repeat(plane, hmax // ch, axis=1)
        out_planes.append(plane[:height, :width])
    if len(out_planes) == 1:
        px = np.clip(np.round(out_planes[0] + 128.0), 0, 255)
        return JpegImage(px.astype(np.uint8).ravel(), width, height, 1)
    if len(out_planes) == 4:
        # Adobe 4-component frames (the common scanned-document /
        # print-origin crawl case). transform 2 = YCCK: the first
        # three planes ride the JFIF YCbCr math, then CMY = 255 − RGB
        # with K passed through (the published ycck→cmyk transform);
        # transform 0 / no APP14 = plain CMYK, planes emitted as
        # stored. Adobe's historical value inversion is NOT undone
        # here — the decoder reports stored samples (same contract as
        # libjpeg's raw CMYK output); consumers that want ink
        # percentages apply 255−x themselves.
        if adobe_transform == 2:
            y = out_planes[0] + 128.0
            cb, cr = out_planes[1], out_planes[2]
            cmyk = np.stack(
                [
                    255.0 - (y + 1.402 * cr),
                    255.0 - (y - 0.344136 * cb - 0.714136 * cr),
                    255.0 - (y + 1.772 * cb),
                    out_planes[3] + 128.0,
                ],
                axis=-1,
            )
        elif adobe_transform in (None, 0):
            cmyk = np.stack([p + 128.0 for p in out_planes], axis=-1)
        else:
            raise ValueError(
                f"APP14 transform {adobe_transform} invalid for a "
                "4-component frame (0 = CMYK, 2 = YCCK)"
            )
        px = np.clip(np.round(cmyk), 0, 255).astype(np.uint8)
        return JpegImage(px.ravel(), width, height, 4)
    y = out_planes[0] + 128.0
    cb = out_planes[1]  # already centered: level shift cancels the -128
    cr = out_planes[2]
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    px = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return JpegImage(px.ravel(), width, height, 3)


# --------------------------------------------------------------------------
# Flat-block grey encoder — the byte-domain-oracle generator. Each
# input byte becomes one flat 8×8 block; DC quant step 8 makes the
# roundtrip exact (module docstring). Compact custom Huffman tables:
# DC categories 0-9 as the ten 4-bit codes 0000-1001 (all-ones code
# unused, per spec convention), AC table is the single 1-bit EOB.
JPEG_BLOCKS_W = 4  # blocks per row → 32 px wide, matching PNG_W

_ENC_DC_BITS = [0, 0, 0, 10] + [0] * 12
_ENC_DC_VALS = list(range(10))
_ENC_AC_BITS = [1] + [0] * 15
_ENC_AC_VALS = [0x00]
_ENC_QT = bytes([8] * 64)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self._acc = 0
                self._n = 0

    def flush(self) -> bytes:
        if self._n:
            self.write((1 << (8 - self._n)) - 1, 8 - self._n)  # pad 1s
        return bytes(self.out)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


# bit_length of 0..1023 — covers every |DC diff| the flat encoders can
# produce (level-shifted plane values ∈ [−128, 127+?], diffs ∈ ±511)
_BITLEN_LUT = np.array(
    [0] + [int(v).bit_length() for v in range(1, 1024)], dtype=np.int64
)


def _pack_dc_stream(vals: "np.ndarray", nplanes: int) -> bytes:
    """Vectorized entropy coder for the flat-block baseline scans
    (r14, guide §4.2): `vals` is the STREAM-ORDER sequence of
    level-shifted DC values (plane-interleaved when nplanes > 1, each
    plane's predictor chain starting at 0), and the emitted stream is
    byte-identical to the per-symbol `_BitWriter` loop it replaces —
    per value: 4-bit DC category code, `cat` magnitude bits
    (diff, or diff + 2^cat − 1 when negative), then the 1-bit EOB of
    the single-entry AC table; final partial byte padded with 1s
    (spec F.1.2.3) and 0xFF bytes stuffed with 0x00.

    Vectorization: symbols are ≤ 4+10+1 bits, so with a ≤ 7-bit byte
    phase each fits a 24-bit window — three bitwise_or scatters place
    every symbol (bit ranges are disjoint by construction, so OR over
    a zero buffer is exactly concatenation). The per-byte Python loop
    this replaces was ~40% of the whole CMYK walker's CPU (profiled;
    the other 60% is the general-purpose DECODER, which must stay a
    real bit-serial Huffman walk)."""
    vals = vals.astype(np.int64)
    prev = np.zeros(len(vals), dtype=np.int64)
    prev[nplanes:] = vals[:-nplanes]
    diff = vals - prev
    cat = _BITLEN_LUT[np.abs(diff)]
    mag = np.where(diff > 0, diff, diff + (np.int64(1) << cat) - 1)
    # (cat << cat | mag) << 1: category bits, magnitude bits, EOB 0-bit
    sym = ((cat << cat) | np.where(cat > 0, mag, 0)) << 1
    ln = cat + 5
    end = np.cumsum(ln)
    off = end - ln
    total_bits = int(end[-1]) if len(end) else 0
    nbytes = (total_bits + 7) // 8
    out = np.zeros(nbytes + 2, dtype=np.uint8)
    byte_i = off >> 3
    v24 = sym << (24 - (off & 7) - ln)
    np.bitwise_or.at(out, byte_i, (v24 >> 16).astype(np.uint8))
    np.bitwise_or.at(out, byte_i + 1, ((v24 >> 8) & 0xFF).astype(np.uint8))
    np.bitwise_or.at(out, byte_i + 2, (v24 & 0xFF).astype(np.uint8))
    out = out[:nbytes]
    rem = total_bits & 7
    if rem:
        out[-1] |= (1 << (8 - rem)) - 1  # pad 1s, as _BitWriter.flush
    # byte stuffing: a 0x00 after every 0xFF (including a padded one)
    if (out == 0xFF).any():
        stuffed = np.zeros(nbytes + int((out == 0xFF).sum()), dtype=np.uint8)
        pos = np.arange(nbytes) + np.cumsum(out == 0xFF) - (out == 0xFF)
        stuffed[pos] = out
        out = stuffed
    return out.tobytes()


def encode_jpeg_gray_flat(
    raw: np.ndarray, width_blocks: int = JPEG_BLOCKS_W
) -> bytes:
    """REAL baseline JPEG writer restricted to flat blocks: byte i of
    `raw` becomes the flat 8×8 block at raster position i (zero-padded
    to full rows; empty input becomes one black row of blocks). Output
    decodes to exactly the input bytes under any conforming baseline
    decoder."""
    raster = _pad_raster(np.asarray(raw, dtype=np.uint8), width_blocks)
    n_rows = len(raster) // width_blocks
    w_px, h_px = width_blocks * 8, n_rows * 8
    head = bytearray(b"\xff\xd8")
    head += _seg(0xDB, bytes([0x00]) + _ENC_QT)
    head += _seg(
        0xC0,
        struct.pack(">BHHB", 8, h_px, w_px, 1) + bytes([1, 0x11, 0]),
    )
    head += _seg(
        0xC4,
        bytes([0x00]) + bytes(_ENC_DC_BITS) + bytes(_ENC_DC_VALS)
        + bytes([0x10]) + bytes(_ENC_AC_BITS) + bytes(_ENC_AC_VALS),
    )
    head += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # vectorized DC entropy pack (byte-identical to the old per-symbol
    # _BitWriter loop — see _pack_dc_stream)
    body = _pack_dc_stream(raster.astype(np.int64) - 128, 1)
    return bytes(head) + body + b"\xff\xd9"


# --------------------------------------------------------------------------
# PROGRESSIVE writer (r10): general single-component SOF2 encoder over
# RAW quantized coefficient blocks, any scan script (spectral
# selection [Ss,Se] × successive approximation Ah→Al). Follows spec
# G.1.2.2 (first pass: run/size + EOB runs) and G.1.2.3 (refinement:
# ±1<<Al newly-significant coefs, deferred correction bits) — the
# encode mirror of the decoder above, used by the registry query's
# flat twin AND by the tests' arbitrary-coefficient roundtrips (which
# cross-check the progressive DECODER against the certified baseline
# path on identical coefficients).
#
# Tables: DC categories 0-15 as 5-bit codes; AC rs symbols 0-254 as
# 8-bit codes + 0xFF at 9 bits (Kraft-incomplete, spec-legal) — big
# but universal, so any coefficient pattern encodes.
_PENC_DC_BITS = [0, 0, 0, 0, 16] + [0] * 11
_PENC_DC_VALS = list(range(16))
_PENC_AC_BITS = [0] * 7 + [255, 1] + [0] * 7
_PENC_AC_VALS = list(range(255)) + [255]


def _penc_ac(bw: "_BitWriter", sym: int) -> None:
    if sym < 255:
        bw.write(sym, 8)
    else:
        bw.write(510, 9)


def _penc_scan_body(bw, blocks, ss, se, ah, al) -> None:
    """Entropy-encode one progressive scan over every block."""
    if ss == 0:  # DC scan
        if ah == 0:
            pred = 0
            for coef in blocks:
                v = int(coef[0]) >> al  # DC point transform: arith shift
                diff = v - pred
                pred = v
                cat = abs(diff).bit_length()
                bw.write(cat, 5)
                if cat:
                    bw.write(
                        diff if diff > 0 else diff + (1 << cat) - 1, cat
                    )
        else:
            for coef in blocks:
                bw.write((int(coef[0]) >> al) & 1, 1)
        return
    if ah == 0:  # AC first pass for this band
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                rr = eobrun.bit_length() - 1
                _penc_ac(bw, rr << 4)
                if rr:
                    bw.write(eobrun - (1 << rr), rr)
                eobrun = 0

        for coef in blocks:
            r = 0
            for k in range(ss, se + 1):
                v = int(coef[k])
                t = abs(v) >> al
                if t == 0:
                    r += 1
                    continue
                flush_eob()
                while r > 15:
                    _penc_ac(bw, 0xF0)
                    r -= 16
                nbits = t.bit_length()
                _penc_ac(bw, (r << 4) | nbits)
                bw.write(
                    t if v > 0 else (-t) + (1 << nbits) - 1, nbits
                )
                r = 0
            if r > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        return
    # AC refinement pass (jcphuff encode_mcu_AC_refine shape)
    eobrun = 0
    pending: list[int] = []  # correction bits owed with the next EOB

    def flush_eob_ref():
        nonlocal eobrun, pending
        if eobrun:
            rr = eobrun.bit_length() - 1
            _penc_ac(bw, rr << 4)
            if rr:
                bw.write(eobrun - (1 << rr), rr)
            eobrun = 0
        for b in pending:
            bw.write(b, 1)
        pending = []

    for coef in blocks:
        absv = [abs(int(coef[k])) >> al for k in range(ss, se + 1)]
        eob_idx = -1
        for i, t in enumerate(absv):
            if t == 1:
                eob_idx = i
        r = 0
        br: list[int] = []  # correction bits in the current run
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            # Emit any required ZRLs FIRST — before buffering this
            # coefficient's correction bit — unless the run can fold
            # into the EOB (jcphuff order; a deferred ZRL would land
            # the correction bit before the next code while the
            # decoder reads it in the advance loop AFTER that code)
            while r > 15 and i <= eob_idx:
                flush_eob_ref()
                _penc_ac(bw, 0xF0)
                r -= 16
                for b in br:
                    bw.write(b, 1)
                br = []
            if t > 1:  # previously significant: one correction bit
                br.append(t & 1)
                continue
            # t == 1: newly significant this pass
            flush_eob_ref()
            _penc_ac(bw, (r << 4) | 1)
            bw.write(1 if int(coef[ss + i]) > 0 else 0, 1)
            for b in br:
                bw.write(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            pending.extend(br)
            if eobrun == 0x7FFF:
                flush_eob_ref()
    flush_eob_ref()


DEFAULT_PROGRESSIVE_SCANS = ((0, 0, 0, 1), (0, 0, 1, 0), (1, 63, 0, 0))


def encode_jpeg_progressive(
    blocks: np.ndarray,
    width_blocks: int,
    scans=DEFAULT_PROGRESSIVE_SCANS,
    qtable: bytes = _ENC_QT,
) -> bytes:
    """REAL single-component SOF2 writer: `blocks` is (n_blocks, 64)
    RAW quantized coefficients in transmission (zigzag) order, laid
    out `width_blocks` per row (must divide n_blocks); `scans` is the
    scan script as (Ss, Se, Ah, Al) tuples."""
    blocks = np.asarray(blocks, dtype=np.int64)
    n_blocks = len(blocks)
    assert n_blocks % width_blocks == 0
    w_px = width_blocks * 8
    h_px = (n_blocks // width_blocks) * 8
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + qtable)
    out += _seg(
        0xC2, struct.pack(">BHHB", 8, h_px, w_px, 1) + bytes([1, 0x11, 0])
    )
    out += _seg(
        0xC4,
        bytes([0x00]) + bytes(_PENC_DC_BITS) + bytes(_PENC_DC_VALS)
        + bytes([0x10]) + bytes(_PENC_AC_BITS) + bytes(_PENC_AC_VALS),
    )
    for ss, se, ah, al in scans:
        # Tda byte: table 0 for both classes (one DC + one AC table)
        out += _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        bw = _BitWriter()
        _penc_scan_body(bw, blocks, ss, se, ah, al)
        out += bw.flush()
    return bytes(out) + b"\xff\xd9"


def encode_jpeg_baseline_blocks(
    blocks: np.ndarray, width_blocks: int, qtable: bytes = _ENC_QT
) -> bytes:
    """Baseline (SOF0) twin of encode_jpeg_progressive over the same
    RAW quantized coefficient blocks — the tests' cross-check anchor:
    the baseline decode path is certified (r9 driver + hand-built
    streams), so progressive-encode→decode must pixel-match
    baseline-encode→decode on identical coefficients; a symmetric
    encoder/decoder bug in the new progressive pair cannot survive
    that comparison."""
    blocks = np.asarray(blocks, dtype=np.int64)
    n_blocks = len(blocks)
    assert n_blocks % width_blocks == 0
    w_px = width_blocks * 8
    h_px = (n_blocks // width_blocks) * 8
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + qtable)
    out += _seg(
        0xC0, struct.pack(">BHHB", 8, h_px, w_px, 1) + bytes([1, 0x11, 0])
    )
    out += _seg(
        0xC4,
        bytes([0x00]) + bytes(_PENC_DC_BITS) + bytes(_PENC_DC_VALS)
        + bytes([0x10]) + bytes(_PENC_AC_BITS) + bytes(_PENC_AC_VALS),
    )
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bw = _BitWriter()
    pred = 0
    for coef in blocks:
        v = int(coef[0])
        diff = v - pred
        pred = v
        cat = abs(diff).bit_length()
        bw.write(cat, 5)
        if cat:
            bw.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        r = 0
        for k in range(1, 64):
            a = int(coef[k])
            if a == 0:
                r += 1
                continue
            while r > 15:
                _penc_ac(bw, 0xF0)
                r -= 16
            nbits = abs(a).bit_length()
            _penc_ac(bw, (r << 4) | nbits)
            bw.write(a if a > 0 else a + (1 << nbits) - 1, nbits)
            r = 0
        if r > 0:
            _penc_ac(bw, 0x00)  # EOB
    return bytes(out) + bw.flush() + b"\xff\xd9"


def encode_jpeg_gray_flat_progressive(
    raw: np.ndarray, width_blocks: int = JPEG_BLOCKS_W
) -> bytes:
    """Progressive twin of encode_jpeg_gray_flat: same flat blocks
    (byte i → flat 8×8 block i, DC quant step 8 ⇒ lossless), sent as
    a 3-scan script — DC first pass at Al=1, DC refinement to Al=0,
    then the all-zero AC band as pure EOB runs. Decodes to exactly
    the input bytes, so it shares the grey byte-domain oracle."""
    raster = _pad_raster(np.asarray(raw, dtype=np.uint8), width_blocks)
    blocks = np.zeros((len(raster), 64), dtype=np.int64)
    blocks[:, 0] = raster.astype(np.int64) - 128
    return encode_jpeg_progressive(blocks, width_blocks)


def encode_jpeg_color_flat_progressive(
    raw: np.ndarray, width_blocks: int = JPEG_BLOCKS_W
) -> bytes:
    """COLOR progressive twin (r10): 4:4:4 YCbCr flat blocks sent as
    a 5-scan SOF2 script — interleaved 3-component DC first pass at
    Al=1, interleaved DC refinement, then each component's all-zero
    AC band as EOB runs. Exercises the decoder's multi-component
    progressive paths (interleaved DC MCU walk with per-component
    predictors + per-component non-interleaved AC scans) and decodes
    to exactly the baseline color construction's pixels, so it shares
    the color closed-form oracle."""
    raster = _pad_raster(np.asarray(raw, dtype=np.uint8), width_blocks)
    n_blocks = len(raster)
    w_px = width_blocks * 8
    h_px = (n_blocks // width_blocks) * 8
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + _ENC_QT)
    out += _seg(
        0xC2,
        struct.pack(">BHHB", 8, h_px, w_px, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    out += _seg(
        0xC4,
        bytes([0x00]) + bytes(_PENC_DC_BITS) + bytes(_PENC_DC_VALS)
        + bytes([0x10]) + bytes(_PENC_AC_BITS) + bytes(_PENC_AC_VALS),
    )
    # raw quantized DC per component (DC quant step 8 ⇒ coef = value)
    dc = [
        (int(b) - 128, JPEG_CB, JPEG_CR) for b in raster.tolist()
    ]
    # scan 1: interleaved DC first pass, Al = 1
    out += _seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x01])
    )
    bw = _BitWriter()
    preds = [0, 0, 0]
    for vals in dc:
        for c, v in enumerate(vals):
            v1 = v >> 1
            diff = v1 - preds[c]
            preds[c] = v1
            cat = abs(diff).bit_length()
            bw.write(cat, 5)
            if cat:
                bw.write(
                    diff if diff > 0 else diff + (1 << cat) - 1, cat
                )
    out += bw.flush()
    # scan 2: interleaved DC refinement, Ah=1 → Al=0
    out += _seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x10])
    )
    bw = _BitWriter()
    for vals in dc:
        for v in vals:
            bw.write(v & 1, 1)
    out += bw.flush()
    # scans 3-5: each component's AC band — all zero ⇒ pure EOB runs
    zero = np.zeros((n_blocks, 64), dtype=np.int64)
    for cs in (1, 2, 3):
        out += _seg(0xDA, bytes([1, cs, 0x00, 1, 63, 0x00]))
        bw = _BitWriter()
        _penc_scan_body(bw, zero, 1, 63, 0, 0)
        out += bw.flush()
    return bytes(out) + b"\xff\xd9"


# Color twin of the flat-block encoder: 4:4:4 YCbCr, byte i → luma
# block of value i, chroma planes held at the CONSTANTS Cb=+20,
# Cr=−10 (centered domain). The decoded RGB is then a closed form of
# each byte — R = max(0, b−14), G = b, B = min(255, b+35) — because
# 1.402·(−10) = −14.02 rounds to −14 for every integer b, the G
# residue +0.25864 rounds away, and 1.772·20 = +35.44 rounds to +35
# before the 255 clip. The DuckDB oracle applies exactly that CASE
# arithmetic to the hex dump, so the 3-component interleaved scan and
# the JFIF color transform are oracle-pinned end to end, not just
# unit-pinned.
JPEG_CB = 20
JPEG_CR = -10


def encode_jpeg_color_flat(
    raw: np.ndarray, width_blocks: int = JPEG_BLOCKS_W
) -> bytes:
    """REAL baseline 4:4:4 color JPEG writer restricted to flat
    blocks: byte i of `raw` becomes luma block i; both chroma planes
    are flat (JPEG_CB, JPEG_CR). Zero-padded like the grey twin."""
    raster = _pad_raster(np.asarray(raw, dtype=np.uint8), width_blocks)
    n_rows = len(raster) // width_blocks
    w_px, h_px = width_blocks * 8, n_rows * 8
    head = bytearray(b"\xff\xd8")
    head += _seg(0xDB, bytes([0x00]) + _ENC_QT)
    head += _seg(
        0xC0,
        struct.pack(">BHHB", 8, h_px, w_px, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    head += _seg(
        0xC4,
        bytes([0x00]) + bytes(_ENC_DC_BITS) + bytes(_ENC_DC_VALS)
        + bytes([0x10]) + bytes(_ENC_AC_BITS) + bytes(_ENC_AC_VALS),
    )
    head += _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    # Y/Cb/Cr interleaved DC stream, vectorized (byte-identical to the
    # old per-symbol loop — see _pack_dc_stream)
    s = raster.astype(np.int64) - 128
    vals = np.column_stack(
        [s, np.full(len(s), JPEG_CB, np.int64), np.full(len(s), JPEG_CR, np.int64)]
    ).ravel()
    return bytes(head) + _pack_dc_stream(vals, 3) + b"\xff\xd9"


# Flat-block CMYK plane values per source byte b — chosen so each of
# the four channels is a distinct non-degenerate closed form DuckDB
# can compute from the hex dump (see MULTIMODAL_JPEG_CMYK_SQL).
def _cmyk_planes(b: int) -> tuple[int, int, int, int]:
    return b, min(b + 64, 255), max(b - 64, 0), 255 - b


def encode_jpeg_cmyk_flat(
    raw: np.ndarray, width_blocks: int = JPEG_BLOCKS_W, transform: int = 0
) -> bytes:
    """REAL baseline 4-component Adobe JPEG writer restricted to flat
    blocks: byte i of `raw` becomes block i of all four planes via
    `_cmyk_planes`. Writes the APP14 "Adobe" segment with the given
    transform byte (0 = plain CMYK — the oracle path, decode is the
    identity on stored planes; 2 = YCCK for the unit-test path, where
    the first three stored planes are Y/Cb/Cr). Zero-padded like the
    grey twin."""
    raster = _pad_raster(np.asarray(raw, dtype=np.uint8), width_blocks)
    n_rows = len(raster) // width_blocks
    w_px, h_px = width_blocks * 8, n_rows * 8
    head = bytearray(b"\xff\xd8")
    head += _seg(
        0xEE, b"Adobe" + bytes([0, 100, 0, 0, 0, 0, transform])
    )
    head += _seg(0xDB, bytes([0x00]) + _ENC_QT)
    head += _seg(
        0xC0,
        struct.pack(">BHHB", 8, h_px, w_px, 4)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]),
    )
    head += _seg(
        0xC4,
        bytes([0x00]) + bytes(_ENC_DC_BITS) + bytes(_ENC_DC_VALS)
        + bytes([0x10]) + bytes(_ENC_AC_BITS) + bytes(_ENC_AC_VALS),
    )
    head += _seg(
        0xDA, bytes([4, 1, 0x00, 2, 0x00, 3, 0x00, 4, 0x00, 0, 63, 0])
    )
    # 4-plane interleaved DC stream, vectorized (byte-identical to the
    # old per-symbol loop — see _pack_dc_stream)
    b = raster.astype(np.int64)
    if transform == 2:
        planes = [
            b - 128,
            np.full(len(b), JPEG_CB, np.int64),
            np.full(len(b), JPEG_CR, np.int64),
            (255 - b) - 128,
        ]
    else:
        # _cmyk_planes(b), level-shifted — the same closed forms
        planes = [
            b - 128,
            np.minimum(b + 64, 255) - 128,
            np.maximum(b - 64, 0) - 128,
            (255 - b) - 128,
        ]
    vals = np.column_stack(planes).ravel()
    return bytes(head) + _pack_dc_stream(vals, 4) + b"\xff\xd9"


# --------------------------------------------------------------------------
# Registry query: synth flat-block JPEGs from document text, decode
# with the GENERAL decoder, aggregate per-asset pixel stats. Exact
# integer sums in float64 → the hex-dump oracle matches bit-for-bit,
# but only if every stage (huffman, dequant, IDCT, level shift,
# raster placement) is right.
_ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)


def _synth_batches(encoder):
    """Batch generator: (doc_id, text) pdfs → asset pdfs through
    `encoder`. Module-level so the fused query paths can compose it
    in-process with the decode generators (guide §4.1: one boundary
    crossing instead of three — see _fused_pixel_stats)."""

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [
                encoder(
                    np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8)
                )
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "payload": payloads,
                    "mime": "image/jpeg",
                }
            )

    return synth


def _assets_from_documents(
    spark: SparkSession, sf_dir: str, encoder
) -> DataFrame:
    """Documents → flat-block JPEG assets through `encoder`, as a
    standalone asset frame (test/composition surface; the registry
    stats queries use the fused single-crossing path below)."""
    return load_docs_spread(spark, sf_dir).mapInPandas(
        _synth_batches(encoder), _ASSET_SCHEMA
    )


def jpeg_assets_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assets_from_documents(spark, sf_dir, encode_jpeg_gray_flat)


def parse_jpeg_dims(payload: bytes) -> tuple[int, int, int]:
    """Header-only metadata pass: walk markers to SOF0 and return
    (width, height, n_components) WITHOUT touching entropy data — the
    cheap first phase of selective decode (at 100 TB you read a few
    hundred header bytes per asset to decide which assets are worth
    the full decode). Same refusal surface as decode_jpeg for
    non-baseline frames."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD9, 0xDA):  # EOI / SOS: no frame seen
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos)
        if marker in (0xC0, 0xC2):
            h, w = struct.unpack_from(">HH", payload, pos + 3)
            return w, h, payload[pos + 7]
        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF{marker - 0xC0}); "
                "only SOF0 and SOF2 are supported"
            )
        pos += seglen
    raise ValueError("no frame in JPEG stream")


def _stats_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Batch generator: asset pdfs → pixel-stat pdfs (module-level for
    in-process composition — see _fused_pixel_stats)."""
    for pdf in it:
        n = len(pdf)
        out = {
            "asset_id": pdf["asset_id"].to_numpy(),
            "width": np.zeros(n, dtype="int32"),
            "height": np.zeros(n, dtype="int32"),
            "n_pixels": np.zeros(n, dtype="int32"),
            "mean_pixel": np.zeros(n),
            "max_pixel": np.zeros(n, dtype="int32"),
            "n_dark": np.zeros(n, dtype="int32"),
        }
        for j, payload in enumerate(pdf["payload"]):
            img = decode_jpeg(bytes(payload))
            px = img.samples
            out["width"][j] = img.width
            out["height"][j] = img.height
            out["n_pixels"][j] = px.size
            out["mean_pixel"][j] = (
                np.floor(int(px.sum(dtype=np.int64)) / px.size * 1e6 + 0.5)
                / 1e6
            )
            out["max_pixel"][j] = int(px.max())
            out["n_dark"][j] = int((px < PNG_DARK).sum())
        yield pd.DataFrame(out)


def jpeg_pixel_stats(df: DataFrame) -> DataFrame:
    return df.mapInPandas(_stats_batches, PNG_STATS_SCHEMA)


def _fused_pixel_stats(spark: SparkSession, sf_dir: str, encoder) -> DataFrame:
    """Encode + decode inside ONE Python task (r14 second pass, guide
    §4.1 "control how many times data crosses the boundary"): the
    staged shape `jpeg_pixel_stats(_assets_from_documents(...))`
    chained two mapInPandas nodes, so every synthesized payload
    crossed Python→JVM→Python (Arrow-serialized twice) purely to
    change batch functions. The fused node composes the SAME two batch
    generators in-process — `_stats_batches(_synth_batches(enc)(it))`,
    identical code objects, identical per-doc arithmetic, identical
    batch boundaries — and the payload bytes never cross the boundary
    at all (only doc text in, stat rows out). In production the asset
    bytes arrive from parquet and cross once either way; here the
    fixture round-trip was pure overhead. Staged ≡ fused pinned in
    tests/test_opt_r14.py; the oracle is unchanged."""
    synth = _synth_batches(encoder)
    return load_docs_spread(spark, sf_dir).mapInPandas(
        lambda it: _stats_batches(synth(it)), PNG_STATS_SCHEMA
    )


def multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fused_pixel_stats(spark, sf_dir, encode_jpeg_gray_flat)


def jpeg_progressive_assets_from_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _assets_from_documents(
        spark, sf_dir, encode_jpeg_gray_flat_progressive
    )


def multimodal_jpeg_progressive_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pixel stats over REAL-decoded PROGRESSIVE (SOF2) JPEGs — the
    r10 decoder extension on the oracle path: DC successive
    approximation (first pass at Al=1 + refinement scan) and the
    EOB-run machinery of the AC band scan feed every stat; the flat
    construction makes the multi-scan pipeline lossless, so the query
    shares the grey byte-domain oracle with multimodal_jpeg_stats."""
    return _fused_pixel_stats(
        spark, sf_dir, encode_jpeg_gray_flat_progressive
    )


def multimodal_jpeg_progressive_color_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pixel stats over REAL-decoded PROGRESSIVE COLOR (SOF2, 4:4:4)
    JPEGs — puts the decoder's multi-component progressive paths
    (interleaved DC scans with per-component predictors, per-component
    AC band scans) on the oracle path via the color closed form."""
    return _fused_pixel_stats(
        spark, sf_dir, encode_jpeg_color_flat_progressive
    )


def jpeg_color_assets_from_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _assets_from_documents(spark, sf_dir, encode_jpeg_color_flat)


def multimodal_jpeg_color_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pixel stats over REAL-decoded 4:4:4 COLOR JPEGs: the
    3-component interleaved scan and the JFIF YCbCr→RGB transform are
    on the oracle path — a wrong upsample, predictor interleave, or
    transform constant shifts a stat."""
    return _fused_pixel_stats(spark, sf_dir, encode_jpeg_color_flat)


# Byte-domain oracle: byte b → 64 pixels of exactly b; rows of
# JPEG_BLOCKS_W blocks, zero-padded. nb = block rows; width 32,
# height 8·nb, 256·nb pixels; mean = 64·Σb/(256·nb) = Σb/(4·nb).
MULTIMODAL_JPEG_SQL = f"""
WITH docs AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
),
dims AS (
  SELECT doc_id, hx, n,
         CASE WHEN n = 0 THEN 1
              ELSE (n + {JPEG_BLOCKS_W} - 1) // {JPEG_BLOCKS_W} END AS nb
  FROM docs
),
codes AS (
  SELECT doc_id,
         16 * (strpos('0123456789ABCDEF',
                      substr(hx, CAST(2*i + 1 AS INTEGER), 1)) - 1)
            + (strpos('0123456789ABCDEF',
                      substr(hx, CAST(2*i + 2 AS INTEGER), 1)) - 1) AS code
  FROM dims, UNNEST(range(n)) AS t(i)
),
agg AS (
  SELECT doc_id,
         CAST(SUM(code) AS BIGINT) AS s,
         MAX(code) AS mx,
         CAST(SUM(CASE WHEN code < {PNG_DARK} THEN 1 ELSE 0 END) AS BIGINT)
           AS dark
  FROM codes GROUP BY doc_id
)
SELECT d.doc_id AS asset_id,
       {JPEG_BLOCKS_W * 8} AS width,
       CAST(d.nb * 8 AS INTEGER) AS height,
       CAST(d.nb * {JPEG_BLOCKS_W} * 64 AS INTEGER) AS n_pixels,
       FLOOR(CAST(COALESCE(a.s, 0) AS DOUBLE)
             / (d.nb * {JPEG_BLOCKS_W}) * 1e6 + 0.5) / 1e6 AS mean_pixel,
       CAST(COALESCE(a.mx, 0) AS INTEGER) AS max_pixel,
       CAST(64 * (COALESCE(a.dark, 0) + (d.nb * {JPEG_BLOCKS_W} - d.n))
            AS INTEGER) AS n_dark
FROM dims d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY asset_id
"""


def jpeg_cmyk_assets_from_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _assets_from_documents(spark, sf_dir, encode_jpeg_cmyk_flat)


def multimodal_jpeg_cmyk_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pixel stats over REAL-decoded 4-component Adobe CMYK JPEGs
    (r10 verdict item 3 — the most common real-crawl refusal after
    progressive): the APP14 parse, 4-component interleaved scan, and
    4-plane assembly are on the oracle path."""
    return _fused_pixel_stats(spark, sf_dir, encode_jpeg_cmyk_flat)


# CMYK byte-domain oracle: byte b → 64 CMYK pixels (b, min(b+64,255),
# max(b−64,0), 255−b); per byte the channel sum is
# 255 + min(b+64,255) + max(b−64,0), the max channel is
# GREATEST(min(b+64,255), 255−b), and the dark (<32) count is
# (b<32) + (b<96) + (b>223). A zero padding block contributes
# (0,64,0,255): sum 319, max 255, dark 2.
MULTIMODAL_JPEG_CMYK_SQL = f"""
WITH docs AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
),
dims AS (
  SELECT doc_id, hx, n,
         CASE WHEN n = 0 THEN 1
              ELSE (n + {JPEG_BLOCKS_W} - 1) // {JPEG_BLOCKS_W} END AS nb
  FROM docs
),
codes AS (
  SELECT doc_id,
         16 * (strpos('0123456789ABCDEF',
                      substr(hx, CAST(2*i + 1 AS INTEGER), 1)) - 1)
            + (strpos('0123456789ABCDEF',
                      substr(hx, CAST(2*i + 2 AS INTEGER), 1)) - 1) AS code
  FROM dims, UNNEST(range(n)) AS t(i)
),
agg AS (
  SELECT doc_id,
         CAST(SUM(255 + LEAST(code + 64, 255)
                  + GREATEST(code - 64, 0)) AS BIGINT) AS s,
         MAX(GREATEST(LEAST(code + 64, 255), 255 - code)) AS mx,
         CAST(SUM(CASE WHEN code < 32 THEN 1 ELSE 0 END
                  + CASE WHEN code < 96 THEN 1 ELSE 0 END
                  + CASE WHEN code > 223 THEN 1 ELSE 0 END) AS BIGINT)
           AS dark
  FROM codes GROUP BY doc_id
)
SELECT d.doc_id AS asset_id,
       {JPEG_BLOCKS_W * 8} AS width,
       CAST(d.nb * 8 AS INTEGER) AS height,
       CAST(d.nb * {JPEG_BLOCKS_W} * 64 * 4 AS INTEGER) AS n_pixels,
       FLOOR((CAST(COALESCE(a.s, 0) AS DOUBLE)
              + 319.0 * (d.nb * {JPEG_BLOCKS_W} - d.n))
             / (d.nb * {JPEG_BLOCKS_W} * 4) * 1e6 + 0.5) / 1e6 AS mean_pixel,
       CAST(CASE WHEN d.nb * {JPEG_BLOCKS_W} > d.n
                 THEN 255 ELSE a.mx END AS INTEGER) AS max_pixel,
       CAST(64 * (COALESCE(a.dark, 0)
                  + 2 * (d.nb * {JPEG_BLOCKS_W} - d.n)) AS INTEGER) AS n_dark
FROM dims d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY asset_id
"""


# Selective decode: header-only dims pass → filter → full decode of
# the SURVIVORS only. The pattern real multimodal pipelines run at
# 100 TB: the metadata pass reads a few hundred bytes per asset and
# the expensive pixel decode is paid only for assets the predicate
# keeps. Here: assets at least JPEG_SELECT_MIN_ROWS block rows tall
# (height ≥ 16 px ⇔ source document > JPEG_BLOCKS_W bytes).
JPEG_SELECT_MIN_ROWS = 2


def _dims_filter_batches(min_rows: int):
    """Batch generator: asset pdfs → surviving asset pdfs (header-only
    dims parse + the height predicate). Factored out of the staged
    shape so the fused path composes it in-process."""
    cut = 8 * min_rows

    def dims(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            heights = np.fromiter(
                (parse_jpeg_dims(bytes(p))[1] for p in pdf["payload"]),
                dtype=np.int32,
                count=len(pdf),
            )
            yield pdf[["asset_id", "payload", "mime"]][heights >= cut]

    return dims


def _jpeg_selective(spark, sf_dir: str, min_rows: int) -> DataFrame:
    """Selective decode, fused (r14 second pass, guide §4.1): encode →
    header dims pass → predicate → full decode of survivors, all
    inside ONE Python task. The staged shape (kept below as
    `_jpeg_selective_staged`, the equivalence twin) chained THREE
    mapInPandas nodes with a JVM filter between — every payload
    crossed the boundary five times; the survivors' pixel decode and
    the header triage are per-doc-independent, so composing the same
    batch generators in-process is row-identical (the JVM
    `height >= 8·min_rows` filter becomes the same int32 comparison
    in pandas). The 100 TB shape is unchanged: header triage still
    gates the expensive decode per batch — only the fixture payload
    round-trips are gone."""
    synth = _synth_batches(encode_jpeg_gray_flat)
    dims = _dims_filter_batches(min_rows)
    return load_docs_spread(spark, sf_dir).mapInPandas(
        lambda it: _stats_batches(dims(synth(it))), PNG_STATS_SCHEMA
    )


def _jpeg_selective_staged(spark, sf_dir: str, min_rows: int) -> DataFrame:
    """The r9-r13 three-stage selective pipeline — RETAINED as the
    equivalence twin of the fused form (pinned in test_opt_r14)."""
    assets = jpeg_assets_from_documents(spark, sf_dir)

    def dims(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            heights = [
                parse_jpeg_dims(bytes(p))[1] for p in pdf["payload"]
            ]
            out = pdf[["asset_id", "payload", "mime"]].copy()
            out["height"] = pd.Series(heights, dtype="int32").values
            yield out

    dims_schema = T.StructType(
        list(_ASSET_SCHEMA.fields)
        + [T.StructField("height", T.IntegerType(), True)]
    )
    survivors = (
        assets.mapInPandas(dims, dims_schema)
        .filter(F.col("height") >= 8 * min_rows)
        .select("asset_id", "payload", "mime")
    )
    return jpeg_pixel_stats(survivors)


def multimodal_jpeg_selective_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _jpeg_selective(spark, sf_dir, JPEG_SELECT_MIN_ROWS)


# On this corpus EVERY document clears the r9 predicate (docs are
# 300-500 bytes, nb >= 2 needs > 4), so the r9 query pins frame
# equality but cannot demonstrate the selective pattern's SAVING. The
# tall variant keeps ~1/3 of assets (nb >= 96 ⇔ height >= 768 px ⇔
# doc > 380 bytes) — enough drop for the decode-only-survivors payoff
# to be measurable (ladder row + PLANS.md r10 note) while staying an
# exact byte-domain oracle.
JPEG_TALL_MIN_ROWS = 96


def multimodal_jpeg_tall_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-phase selective decode at a predicate that actually drops
    rows: header dims pass over every asset, full pixel decode only
    for the ~1/3 that are >= 768 px tall."""
    return _jpeg_selective(spark, sf_dir, JPEG_TALL_MIN_ROWS)


# oracle: the grey stats restricted to nb ≥ JPEG_SELECT_MIN_ROWS —
# the dims predicate in byte-domain form
MULTIMODAL_JPEG_SELECTIVE_SQL = MULTIMODAL_JPEG_SQL.replace(
    "FROM dims d LEFT JOIN agg a ON d.doc_id = a.doc_id",
    "FROM dims d LEFT JOIN agg a ON d.doc_id = a.doc_id\n"
    f"WHERE d.nb >= {JPEG_SELECT_MIN_ROWS}",
)

MULTIMODAL_JPEG_TALL_SQL = MULTIMODAL_JPEG_SQL.replace(
    "FROM dims d LEFT JOIN agg a ON d.doc_id = a.doc_id",
    "FROM dims d LEFT JOIN agg a ON d.doc_id = a.doc_id\n"
    f"WHERE d.nb >= {JPEG_TALL_MIN_ROWS}",
)


# Color byte-domain oracle: byte b → 64 RGB pixels with the closed
# form above. Per byte the channel-sample SUM is
# max(b−14,0) + b + min(b+35,255); the MAX rides the B channel
# (min(b+35,255), and 35 for zero padding); the dark (<32) count per
# byte is (b<46) + (b<32) — B is never dark (≥35).
MULTIMODAL_JPEG_COLOR_SQL = f"""
WITH docs AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
),
dims AS (
  SELECT doc_id, hx, n,
         CASE WHEN n = 0 THEN 1
              ELSE (n + {JPEG_BLOCKS_W} - 1) // {JPEG_BLOCKS_W} END AS nb
  FROM docs
),
codes AS (
  SELECT doc_id,
         16 * (strpos('0123456789ABCDEF',
                      substr(hx, CAST(2*i + 1 AS INTEGER), 1)) - 1)
            + (strpos('0123456789ABCDEF',
                      substr(hx, CAST(2*i + 2 AS INTEGER), 1)) - 1) AS code
  FROM dims, UNNEST(range(n)) AS t(i)
),
agg AS (
  SELECT doc_id,
         CAST(SUM(GREATEST(code - 14, 0) + code
                  + LEAST(code + 35, 255)) AS BIGINT) AS s,
         MAX(LEAST(code + 35, 255)) AS mx,
         CAST(SUM(CASE WHEN code < 46 THEN 1 ELSE 0 END
                  + CASE WHEN code < 32 THEN 1 ELSE 0 END) AS BIGINT)
           AS dark
  FROM codes GROUP BY doc_id
)
SELECT d.doc_id AS asset_id,
       {JPEG_BLOCKS_W * 8} AS width,
       CAST(d.nb * 8 AS INTEGER) AS height,
       CAST(d.nb * {JPEG_BLOCKS_W} * 64 * 3 AS INTEGER) AS n_pixels,
       FLOOR((CAST(COALESCE(a.s, 0) AS DOUBLE)
              + 35.0 * (d.nb * {JPEG_BLOCKS_W} - d.n))
             / (d.nb * {JPEG_BLOCKS_W} * 3) * 1e6 + 0.5) / 1e6 AS mean_pixel,
       CAST(CASE WHEN d.nb * {JPEG_BLOCKS_W} > d.n
                 THEN GREATEST(COALESCE(a.mx, 0), 35)
                 ELSE a.mx END AS INTEGER) AS max_pixel,
       CAST(64 * (COALESCE(a.dark, 0)
                  + 2 * (d.nb * {JPEG_BLOCKS_W} - d.n)) AS INTEGER) AS n_dark
FROM dims d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY asset_id
"""


QUERIES = {
    "multimodal_jpeg_stats": multimodal_jpeg_stats,
    "multimodal_jpeg_progressive_stats": multimodal_jpeg_progressive_stats,
    "multimodal_jpeg_progressive_color_stats":
        multimodal_jpeg_progressive_color_stats,
    "multimodal_jpeg_color_stats": multimodal_jpeg_color_stats,
    "multimodal_jpeg_cmyk_stats": multimodal_jpeg_cmyk_stats,
    "multimodal_jpeg_selective_stats": multimodal_jpeg_selective_stats,
    "multimodal_jpeg_tall_stats": multimodal_jpeg_tall_stats,
}

ORACLES = {
    "multimodal_jpeg_stats": MULTIMODAL_JPEG_SQL,
    "multimodal_jpeg_progressive_stats": MULTIMODAL_JPEG_SQL,
    "multimodal_jpeg_progressive_color_stats": MULTIMODAL_JPEG_COLOR_SQL,
    "multimodal_jpeg_color_stats": MULTIMODAL_JPEG_COLOR_SQL,
    "multimodal_jpeg_cmyk_stats": MULTIMODAL_JPEG_CMYK_SQL,
    "multimodal_jpeg_selective_stats": MULTIMODAL_JPEG_SELECTIVE_SQL,
    "multimodal_jpeg_tall_stats": MULTIMODAL_JPEG_TALL_SQL,
}
