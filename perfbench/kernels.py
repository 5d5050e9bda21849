"""Codec-kernel layer: direct single-thread calls into the public codec
functions of ``ds_mapreduce_spark.operators``, no Spark involved.

A seeded generator makes a fixed set of pixel rasters, frame stacks and
PCM signals in the geometry the media queries use; each is encoded once,
then encode and decode are timed over the whole set and reported as MB/s
of payload (the encoded container, for decoders; the raw input, for
encoders).
"""

from __future__ import annotations

import io
import time
import wave

import numpy as np

from ds_mapreduce_spark.operators.annexb import parse_annexb, wrap_annexb
from ds_mapreduce_spark.operators.flac import decode_flac_samples, encode_flac_bytes
from ds_mapreduce_spark.operators.jpeg import JPEG_H, JPEG_W, encode_jpeg_bytes, parse_jpeg
from ds_mapreduce_spark.operators.mcv import (
    MCV_FRAMES,
    MCV_H,
    MCV_W,
    encode_mcv_bytes,
    mcv_payload_features,
)
from ds_mapreduce_spark.operators.multimodal import (
    WAV_N_SAMPLES,
    WAV_SAMPLE_RATE,
    read_pcm16_wav,
)

N_ITEMS = 24


def _raster(rng: np.random.Generator, h: int, w: int, shift: int = 0) -> np.ndarray:
    """A smooth gradient with texture and noise, values 0..255."""
    y, x = np.mgrid[0:h, 0:w]
    a, b = rng.uniform(2.0, 6.0, 2)
    img = 128 + 60 * np.sin((x + shift) / a) * np.cos(y / b) + rng.normal(0, 12, (h, w))
    return np.clip(img, 0, 255).astype(np.int64)


def _pcm(rng: np.random.Generator, n: int) -> np.ndarray:
    t = np.arange(n) / WAV_SAMPLE_RATE
    f1, f2 = rng.uniform(200.0, 1200.0, 2)
    sig = 9000 * np.sin(2 * np.pi * f1 * t) + 4000 * np.sin(2 * np.pi * f2 * t)
    return np.clip(sig + rng.normal(0, 300, n), -32768, 32767).astype(np.int64)


def _wav(samples: np.ndarray) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def make_inputs(seed: int = 0) -> dict[str, list]:
    rng = np.random.default_rng([seed, 7])
    pixels = [_raster(rng, JPEG_H, JPEG_W) for _ in range(N_ITEMS)]
    pcms = [_pcm(rng, WAV_N_SAMPLES) for _ in range(N_ITEMS)]
    clips = []
    for _ in range(N_ITEMS):
        base = rng.integers(0, 1000)
        clips.append([_raster(np.random.default_rng(base), MCV_H, MCV_W, shift=t)
                      .ravel().tolist() for t in range(MCV_FRAMES)])
    px_bytes = [p.astype(np.uint8).tobytes() for p in pixels]
    mcvs = [encode_mcv_bytes(c) for c in clips]
    return {
        "px": px_bytes,
        "pcm": pcms,
        "jpeg": [encode_jpeg_bytes(p, JPEG_W, JPEG_H) for p in px_bytes],
        "flac": [encode_flac_bytes(s) for s in pcms],
        "mcv": mcvs,
        "annexb": [wrap_annexb(i, m) for i, m in enumerate(mcvs)],
        "wav": [_wav(s) for s in pcms],
    }


def _rate(fn, items: list, nbytes: int, min_s: float) -> float:
    """MB/s of ``fn`` over ``items``, repeated until ``min_s`` has passed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return reps * nbytes / 2**20 / elapsed


def measure(seed: int = 0, min_s: float = 0.12) -> dict[str, float]:
    inp = make_inputs(seed)
    size = {k: sum(len(x) if isinstance(x, bytes) else x.nbytes // 4 for x in v)
            for k, v in inp.items()}  # pcm: 16-bit samples held as int64
    return {
        "operators.jpeg.encode_mb_s": _rate(
            lambda p: encode_jpeg_bytes(p, JPEG_W, JPEG_H), inp["px"], size["px"], min_s),
        "operators.jpeg.decode_mb_s": _rate(parse_jpeg, inp["jpeg"], size["jpeg"], min_s),
        "operators.flac.encode_mb_s": _rate(encode_flac_bytes, inp["pcm"], size["pcm"], min_s),
        "operators.flac.decode_mb_s": _rate(decode_flac_samples, inp["flac"], size["flac"], min_s),
        "operators.annexb.parse_mb_s": _rate(parse_annexb, inp["annexb"], size["annexb"], min_s),
        "operators.mcv.features_mb_s": _rate(mcv_payload_features, inp["mcv"], size["mcv"], min_s),
        "operators.multimodal.wav_decode_mb_s": _rate(
            read_pcm16_wav, inp["wav"], size["wav"], min_s),
    }
