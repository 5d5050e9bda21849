"""Unit tests for the animated-GIF temporal codec
(operators/animgif.py): composed-frame roundtrip against the synth
formula, the temporal-compression pin, the no-change-frame path, the
reserved-transparent-index guard, subset rejections (disposal 2/3,
local color tables, non-covering first frame), tamper paths, and a
hypothesis property over arbitrary frame sequences."""

import struct
import sys

sys.path.insert(0, "/root/repo")

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ds_mapreduce_spark.operators.animgif import (
    _BX_MOD,
    _BY_MOD,
    ANIM_BLOCK,
    ANIM_FRAMES,
    ANIM_TRANSPARENT,
    ANIM_VMOD,
    encode_animgif_bytes,
    parse_animgif,
)
from ds_mapreduce_spark.operators.gif import GIF_H, GIF_W, encode_gif_bytes
from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B


def synth_frames(doc_id: int) -> list[bytes]:
    """Pure-Python twin of animgif._anim_frames / the DuckDB oracle."""
    frames = []
    for t in range(ANIM_FRAMES):
        bx = (doc_id + t * 3) % _BX_MOD
        by = (doc_id // 7 + t * 2) % _BY_MOD
        f = bytearray()
        for i in range(GIF_W * GIF_H):
            x, y = i % GIF_W, i // GIF_W
            if bx <= x < bx + ANIM_BLOCK and by <= y < by + ANIM_BLOCK:
                v = (
                    (doc_id % 256) * PCM_B
                    + (t * 1000 + (y - by) * ANIM_BLOCK + (x - bx)) * PCM_A
                ) % ANIM_VMOD
            else:
                v = ((doc_id % 256) * PCM_A + i * PCM_B) % ANIM_VMOD
            f.append(v)
        frames.append(bytes(f))
    return frames


@pytest.mark.parametrize("doc_id", [0, 1, 7, 42, 12345, 999999])
def test_composed_roundtrip_matches_synth(doc_id):
    frames = synth_frames(doc_id)
    w, h, palette, composed = parse_animgif(
        encode_animgif_bytes(frames, GIF_W, GIF_H)
    )
    assert (w, h) == (GIF_W, GIF_H)
    assert composed == frames  # full re-render == composed canvas


def test_temporal_compression_pin():
    """Delta frames must beat independent full frames by a wide
    margin — payload bytes scale with motion, not frame count."""
    frames = synth_frames(42)
    delta = len(encode_animgif_bytes(frames, GIF_W, GIF_H))
    full = sum(len(encode_gif_bytes(f, GIF_W, GIF_H)) for f in frames)
    assert delta * 3 < full, (delta, full)


def test_static_animation_emits_legal_noop_frames():
    frames = [bytes([7] * GIF_W * GIF_H)] * 3
    payload = encode_animgif_bytes(frames, GIF_W, GIF_H)
    w, h, _pal, composed = parse_animgif(payload)
    assert composed == frames
    # the two no-op frames are 1x1 transparent subframes, so the whole
    # animation costs barely more than one frame
    single = len(encode_gif_bytes(frames[0], GIF_W, GIF_H))
    assert len(payload) < single + 120


def test_reserved_transparent_index_guard():
    with pytest.raises(ValueError, match="reserved"):
        encode_animgif_bytes([bytes([ANIM_TRANSPARENT] * GIF_W * GIF_H)], GIF_W, GIF_H)


def _walk_offsets(payload: bytes) -> tuple[list[int], list[int]]:
    """Structurally walk the container -> (gce_offsets,
    descriptor_offsets); a byte-pattern scan would false-match inside
    palette or LZW data."""
    gces, descs = [], []
    pos = 13 + 3 * 256  # header + LSD + 256-entry GCT
    while payload[pos] != 0x3B:
        if payload[pos] == 0x21:
            if payload[pos + 1] == 0xF9:
                gces.append(pos)
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif payload[pos] == 0x2C:
            descs.append(pos)
            pos += 10  # introducer + 9-byte descriptor
            pos += 1  # LZW min code size
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        else:
            raise AssertionError(f"unexpected introducer {payload[pos]:#x}")
    return gces, descs


def test_disposal_methods_2_and_3_rejected():
    frames = synth_frames(7)
    payload = bytearray(encode_animgif_bytes(frames, GIF_W, GIF_H))
    off = _walk_offsets(bytes(payload))[0][1]  # second frame's GCE
    packed_pos = off + 3
    for disposal in (2, 3):
        bad = bytearray(payload)
        bad[packed_pos] = (disposal << 2) | (bad[packed_pos] & 0x03)
        with pytest.raises(ValueError, match="disposal"):
            parse_animgif(bytes(bad))


def test_first_frame_must_cover_canvas():
    # hand-build a GIF whose first image is a 2x2 sub-rectangle
    frames = synth_frames(3)
    good = encode_animgif_bytes(frames, GIF_W, GIF_H)
    idx = _walk_offsets(good)[1][0]  # frame 0's image descriptor
    bad = bytearray(good)
    bad[idx + 5 : idx + 9] = struct.pack("<HH", 2, 2)
    with pytest.raises(ValueError):
        parse_animgif(bytes(bad))


def test_out_of_canvas_rect_rejected():
    frames = synth_frames(3)
    good = encode_animgif_bytes(frames, GIF_W, GIF_H)
    idx = _walk_offsets(good)[1][1]  # 2nd descriptor
    bad = bytearray(good)
    bad[idx + 1 : idx + 5] = struct.pack("<HH", GIF_W - 1, GIF_H - 1)
    with pytest.raises(ValueError, match="exceeds canvas"):
        parse_animgif(bytes(bad))


def test_truncation_and_garbage_fail_loudly():
    payload = encode_animgif_bytes(synth_frames(5), GIF_W, GIF_H)
    with pytest.raises(ValueError):
        parse_animgif(payload[:-20])
    with pytest.raises(ValueError, match="not a GIF"):
        parse_animgif(b"RIFF" + payload[4:])


@settings(max_examples=40, deadline=None)
@given(
    frames=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=ANIM_VMOD - 1),
            min_size=GIF_W * GIF_H,
            max_size=GIF_W * GIF_H,
        ).map(bytes),
        min_size=1,
        max_size=4,
    )
)
def test_arbitrary_frame_sequences_compose_exactly(frames):
    """ANY sequence of full canvases survives delta encoding +
    composition bit-for-bit — hypothesis shrinks to the minimal
    mis-composed pixel if the rectangle/mask logic is ever wrong."""
    _w, _h, _pal, composed = parse_animgif(
        encode_animgif_bytes(frames, GIF_W, GIF_H)
    )
    assert composed == frames
