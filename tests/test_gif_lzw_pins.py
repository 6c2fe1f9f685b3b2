"""Byte pins for the GIF LZW codec.

The digests below were recorded from the original dict-of-bytes
encoder before it was rewritten around int-keyed tables, so any drift
in the compressor's output (code order, width switch point, CLEAR
placement, final flush) fails here. Each pinned stream also decodes
back to its input, which pins the decoder on the same code patterns.

Inputs come from the stdlib `random.Random` byte stream, which is
stable across Python and numpy versions. The `clear-*` cases carry
more than 4,096 codes, so the 12-bit table fills and the encoder
emits CLEAR; across min code sizes 2..8 they walk every code-width
step from min_code_size + 1 up to 12 bits.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pytest

from orionld_to_hive_spark.operators.gif import lzw_decode, lzw_encode

# name -> (sha256 prefix of lzw_encode output, output length)
PINS = {
    "empty-2": ("d03502c43d74a30b936740a9517dc4ea", 1),
    "empty-8": ("ca175b7b97e4180ff4b1dc13271f897a", 3),
    "one-2": ("570d499486c98c910e4967baf5f9cd99", 2),
    "one-8": ("3c77d334ebc8b26af2d3e0d905279b9d", 4),
    "short-2": ("eea6a72870ab8443f9fc69fa66eb0918", 100),
    "clear-2": ("77cb6b36733a6f7f5903228c77f5c684", 6954),
    "short-3": ("5e8ec576e6771a5632fedd541cb185ea", 151),
    "clear-3": ("7b05f544fb2c2a6ee68bdcea9649b5c9", 10570),
    "short-4": ("ec53402cc989182285f6d91bdf6e00eb", 201),
    "clear-4": ("e9ede9a51857262e515f62cdef4fba22", 14704),
    "short-5": ("8ac06a84ab405abc592fce315085d584", 259),
    "clear-5": ("aff2a5b856f113aa0521b735f553adb5", 18656),
    "short-6": ("7cfb0e68b87bd34fbf080dd33f5918eb", 292),
    "clear-6": ("bc1dd365926c20f09713d5ab84a977c8", 24531),
    "short-7": ("2b9e1c05ce0b53b7a8365558732cdc21", 323),
    "clear-7": ("574dfcb0a8b3963bda059143915e9037", 30081),
    "short-8": ("8a6598bc333ed47f121b5da6178e877c", 345),
    "clear-8": ("2d196eb5f4d72daca41d5968a2fe9280", 32810),
    "run-2": ("d6a861cc4cc8731ec0f20d19c83b9b41", 446),
    "skewed-8": ("56658c09c531c42278f174f8cf32ae6a", 28918),
}


def _masked(rng: random.Random, n: int, mcs: int) -> np.ndarray:
    return np.frombuffer(rng.randbytes(n), np.uint8) & np.uint8((1 << mcs) - 1)


def _cases() -> dict:
    rng = random.Random(20261017)
    out = {
        "empty-2": (2, np.zeros(0, np.uint8)),
        "empty-8": (8, np.zeros(0, np.uint8)),
        "one-2": (2, np.array([3], np.uint8)),
        "one-8": (8, np.array([200], np.uint8)),
    }
    for mcs in range(2, 9):
        out[f"short-{mcs}"] = (mcs, _masked(rng, 300, mcs))
        out[f"clear-{mcs}"] = (mcs, _masked(rng, 24000, mcs))
    out["run-2"] = (2, np.zeros(100000, np.uint8))
    r = _masked(rng, 50000, 8)
    out["skewed-8"] = (8, np.minimum(r & 0x0F, r >> 4))
    return out


CASES = _cases()


@pytest.mark.parametrize("name", sorted(PINS))
def test_lzw_encode_bytes_pinned(name):
    mcs, x = CASES[name]
    enc = lzw_encode(x, mcs)
    assert (hashlib.sha256(enc).hexdigest()[:32], len(enc)) == PINS[name]
    assert lzw_decode(enc, mcs, len(x)).tobytes() == x.tobytes()


@pytest.mark.parametrize("mcs", range(2, 9))
def test_clear_cases_overflow_the_code_table(mcs):
    # every code is at most 12 bits wide, so more than 4096 * 12 bits
    # means more than 4096 codes: the table filled at least once
    assert PINS[f"clear-{mcs}"][1] * 8 > 4096 * 12
