"""Test-only media helpers: encoders that build fixture bytes for the
package's decoders, and the spec-formula DCT the codec's transform is
checked against."""

from __future__ import annotations

import math
import struct

import numpy as np

from post_modern_stack_spark.operators.multimodal import encode_gif_indexed


def encode_wav(samples, rate: int) -> bytes:
    """Inverse of ``multimodal.decode_wav``: 16-bit PCM RIFF/WAVE."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    pcm = np.clip(arr * 32768.0, -32768, 32767).astype("<i2").tobytes()
    n_ch = arr.shape[1]
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(pcm), b"WAVE")
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def encode_gif(frames, delays_ms=None) -> bytes:
    """Inverse of ``multimodal.decode_gif``: animated GIF89a with a global
    palette built from the frames' unique colors (≤256 required —
    median-cut quantization is a lossy design choice this exact
    round-trip codec deliberately refuses)."""
    frames = np.asarray(frames, dtype=np.uint8)
    if frames.ndim == 3:
        frames = frames[None]
    n, h, w, _ = frames.shape
    flat = frames.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise NotImplementedError(
            f"encode_gif is exact (no quantization); got {len(colors)} colors > 256"
        )
    return encode_gif_indexed(
        inverse.reshape(n, h, w), colors, delays_ms=delays_ms
    )


def fdct8x8_reference(block: np.ndarray) -> np.ndarray:
    """Direct O(N^4) DCT from T.81 A.3.3 — the slow spec formula the
    codec's matrix transform is tested against."""
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = math.sqrt(0.5) if u == 0 else 1.0
            cv = math.sqrt(0.5) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        block[x, y]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[u, v] = 0.25 * cu * cv * s
    return out
