"""The hand-implemented LZW layer and GIF container are REAL: LZW
round-trips across every code-width boundary and the 4095-entry
dictionary reset; the decoder reads a FOREIGN container assembled
byte-by-byte with hand-packed LZW codes and a small (4-color) palette
our encoder never writes; corrupt payloads fail loudly. Third-party
interchange (OpenJDK ImageIO decoding our files) is locked separately
in tests/test_codec_interchange.py.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ds_mapreduce_spark.operators.gif import (
    GIF_H,
    GIF_W,
    _lzw_compress,
    _lzw_decompress,
    encode_gif_bytes,
    parse_gif,
)


def test_lzw_roundtrip_across_boundaries_and_reset():
    rng = np.random.RandomState(1)
    cases = [
        bytes([5]),
        bytes([1, 1, 1, 1, 1, 1]),
        bytes(rng.randint(0, 256, 300).astype(np.uint8)),    # 9-10 bit codes
        bytes(rng.randint(0, 256, 2000).astype(np.uint8)),   # crosses 512/1024
        bytes(rng.randint(0, 256, 20000).astype(np.uint8)),  # 4095 -> CLEAR reset
        bytes([0, 1] * 10000),                               # deep phrase chains
        bytes(rng.randint(0, 4, 30000).astype(np.uint8)),    # long phrases + reset
    ]
    for data in cases:
        assert _lzw_decompress(_lzw_compress(data, 8), 8) == data
    # small-palette widths too (min code size 2 -> 3-bit codes)
    small = bytes(rng.randint(0, 4, 5000).astype(np.uint8))
    assert _lzw_decompress(_lzw_compress(small, 2), 2) == small
    # dictionary coding actually compresses the repetitive case
    rep = bytes([0, 1] * 10000)
    assert len(_lzw_compress(rep, 8)) < len(rep) // 10


def test_container_roundtrip():
    px = bytes((7 * i + 3) % 256 for i in range(GIF_W * GIF_H))
    payload = encode_gif_bytes(px, GIF_W, GIF_H)
    assert payload.startswith(b"GIF89a")
    assert payload.endswith(b"\x3b")
    w, h, palette, indices = parse_gif(payload)
    assert (w, h) == (GIF_W, GIF_H)
    assert indices == px
    assert len(palette) == 256 * 3


def _hand_built_gif() -> tuple[bytes, tuple[int, int, int]]:
    """A 2x2 GIF assembled byte-by-byte from the spec — 4-color
    palette (min code size 2: 3-bit codes, nothing our 256-color
    encoder produces), an extension block the decoder must skip, and
    LZW codes packed BY HAND: [CLEAR=4, 1, 2, 3, 0, EOI=5] where the
    code width grows 3->4 bits after the THIRD data code (the
    standard growth point: eoi + 3 = 2^3), so the stream is
    4|1<<3|2<<6|3<<9 at 3 bits then 0, 5 at 4 bits, LSB-first =
    0x8C 0x06 0x05. Pixels [1,2,3,0] over palette
    (10,20,30)/(40,50,60)/(70,80,90)/(200,210,220) give channel sums
    (320, 360, 400)."""
    palette = bytes(
        [10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220]
    )
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0xF1, 0, 0)  # GCT, 4 entries
        + palette
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphics control ext
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
        + bytes([2])  # LZW min code size
        + bytes([3, 0x8C, 0x06, 0x05])  # one sub-block, hand-packed
        + b"\x00\x3b"
    ), (320, 360, 400)


def test_decoder_reads_foreign_containers():
    payload, (sr, sg, sb) = _hand_built_gif()
    w, h, palette, indices = parse_gif(payload)
    assert (w, h) == (2, 2)
    assert list(indices) == [1, 2, 3, 0]
    assert sum(palette[i * 3] for i in indices) == sr


def test_decode_features_on_foreign_container(spark):
    from ds_mapreduce_spark.operators.gif import decode_gif_features

    payload, (sr, sg, sb) = _hand_built_gif()
    df = spark.createDataFrame(
        [(23, bytearray(payload))], "doc_id bigint, payload binary"
    )
    row = decode_gif_features(df).first()
    assert (row["width"], row["height"]) == (2, 2)
    assert (row["sum_r"], row["sum_g"], row["sum_b"]) == (sr, sg, sb)


def test_corrupt_and_unsupported_fail_loudly():
    payload, _ = _hand_built_gif()
    with pytest.raises(ValueError, match="not a GIF"):
        parse_gif(b"JIF89a" + payload[6:])
    with pytest.raises(ValueError, match="truncated"):
        parse_gif(payload[:20])
    # interlace flag set on the image descriptor
    idx = payload.index(b"\x2c")
    interlaced = (
        payload[: idx + 9]
        + bytes([payload[idx + 9] | 0x40])
        + payload[idx + 10 :]
    )
    with pytest.raises(ValueError, match="interlaced"):
        parse_gif(interlaced)
    # truncated LZW stream: drop the last code bytes
    with pytest.raises(ValueError, match="truncated|decoded"):
        parse_gif(payload.replace(bytes([3, 0x8C, 0x06, 0x05]), bytes([1, 0x8C])))
    # first data code is 7 — a control-range code, not a literal
    with pytest.raises(ValueError, match="literal|out of range|decoded"):
        parse_gif(payload.replace(bytes([3, 0x8C, 0x06, 0x05]), bytes([3, 0xFC, 0x06, 0x05])))


def test_local_color_table_overrides_global():
    payload, _ = _hand_built_gif()
    idx = payload.index(b"\x2c")
    # rebuild with a LOCAL table (flag 0x80, size field 1 -> 4 entries)
    local = bytes([i for c in range(4) for i in (c, 100 + c, 200 + c)])
    with_local = (
        payload[: idx + 9]
        + bytes([payload[idx + 9] | 0x81])
        + local
        + payload[idx + 10 :]
    )
    w, h, palette, indices = parse_gif(with_local)
    assert palette == local
    assert list(indices) == [1, 2, 3, 0]


def test_encoder_rejects_bad_geometry():
    with pytest.raises(ValueError, match="indices"):
        encode_gif_bytes(bytes(5), 2, 2)


# ---------------------------------------------------------------------------
# Differential lock for the r17 batched decoder: the pre-r17 per-code
# serial decoder, embedded verbatim as the reference. The batched form
# must agree on every valid stream AND fail identically (same error
# class, ValueError) at the same conditions on truncated / corrupted
# streams.
# ---------------------------------------------------------------------------

_REF_MAX_ENTRIES = 4095
_REF_MAX_BITS = 12


def _lzw_decompress_reference(data: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    bits = min_code_size + 1
    acc = 0
    nbits = 0
    pos = 0
    k = 0

    def read_code() -> int:
        nonlocal acc, nbits, pos
        while nbits < bits:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << bits) - 1)
        acc >>= bits
        nbits -= bits
        return code

    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = eoi + 1
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = read_code()
        if code == clear:
            table = {i: bytes([i]) for i in range(clear)}
            next_code = eoi + 1
            bits = min_code_size + 1
            k = 0
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= clear:
                raise ValueError(f"first LZW code {code} is not a literal")
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:  # KwKwK
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} out of range (next={next_code})")
        out += entry
        if prev is not None and next_code < _REF_MAX_ENTRIES:
            table[next_code] = prev + entry[:1]
            next_code += 1
        prev = entry
        k += 1
        if eoi + k >= (1 << bits) and bits < _REF_MAX_BITS:
            bits += 1


def _outcome(fn, data, mcs):
    try:
        return ("ok", fn(data, mcs))
    except ValueError:
        return ("ValueError", None)


def test_lzw_batched_matches_per_code_reference():
    rng = np.random.RandomState(42)
    streams = []
    for mcs in (2, 4, 8):
        for size in (0, 1, 7, 300, 5000, 30000):
            data = bytes(
                rng.randint(0, 1 << mcs, size).astype(np.uint8)
            )
            streams.append((_lzw_compress(data, mcs), mcs, data))
        # CLEAR-on-overflow: low-entropy long input forces the 4095
        # reset inside the compressor
        rep = bytes(rng.randint(0, 2, 40000).astype(np.uint8))
        streams.append((_lzw_compress(rep, mcs), mcs, rep))
    for payload, mcs, expect in streams:
        assert _lzw_decompress(payload, mcs) == expect
        assert _lzw_decompress_reference(payload, mcs) == expect

    # truncation at EVERY prefix length of a mid-sized stream fails (or
    # succeeds) identically — batch boundaries must not move errors
    payload, mcs, _ = streams[3]
    for cut in range(len(payload)):
        assert _outcome(_lzw_decompress, payload[:cut], mcs) == _outcome(
            _lzw_decompress_reference, payload[:cut], mcs
        )

    # random single-bit corruptions: identical value or identical error
    payload, mcs, _ = streams[4]
    for _ in range(400):
        b = bytearray(payload)
        b[rng.randint(0, len(b))] ^= 1 << rng.randint(0, 8)
        got = _outcome(_lzw_decompress, bytes(b), mcs)
        ref = _outcome(_lzw_decompress_reference, bytes(b), mcs)
        assert got == ref
