"""Real media codecs with zero external dependencies.

The container has no PIL/ffmpeg, but two production formats need nothing
beyond stdlib + numpy: PPM (P6) raw RGB images and WAV (RIFF) 16-bit PCM
audio.  These are complete, correct decoders — not stand-ins — so the
multimodal pipeline (``operators/multimodal.py``) runs a genuinely real
decode → feature-extract → resize path for uncompressed media, while
compressed formats (JPEG/PNG/MP3) stay behind ``register_decoder`` until
their libraries exist in the image.

Everything here is deterministic (block means, integer striding) so
features are reproducible across machines and partitionings.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

# --- PPM (P6) image ---------------------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> binary PPM P6."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("expected (h, w, 3) uint8")
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def _ppm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse the P6 header; returns (width, height, maxval, data_offset).

    Handles arbitrary whitespace and ``#`` comments per the netpbm spec.
    """
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    n = len(payload)
    while len(fields) < 3:
        while pos < n and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < n and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < n and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    return w, h, maxval, pos


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM P6 -> (h, w, 3) uint8 array."""
    w, h, maxval, off = _ppm_header(payload)
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=off)
    return data.reshape(h, w, 3)


def resize_nearest(arr: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Nearest-neighbor resize via integer index maps (pure numpy)."""
    h, w = arr.shape[:2]
    rows = (np.arange(th) * h // th)
    cols = (np.arange(tw) * w // tw)
    return arr[rows][:, cols]


def thumb_feature(arr: np.ndarray, grid: int = 4) -> list[float]:
    """``grid x grid`` grayscale block means in [0, 1] — a 16-dim
    deterministic embedding for dedup/similarity plumbing."""
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    out = []
    for i in range(grid):
        r0, r1 = i * h // grid, max((i + 1) * h // grid, i * h // grid + 1)
        for j in range(grid):
            c0, c1 = j * w // grid, max((j + 1) * w // grid, j * w // grid + 1)
            out.append(float(gray[r0:r1, c0:c1].mean() / 255.0))
    return out


def ppm_image_decoder(payload: bytes) -> dict:
    """``register_decoder``-contract decoder for PPM payloads:
    bytes -> {width, height, feature, sha1}."""
    arr = decode_ppm(payload)
    return {
        "width": int(arr.shape[1]),
        "height": int(arr.shape[0]),
        "feature": thumb_feature(arr),
        "sha1": hashlib.sha1(payload).hexdigest(),
    }


# --- WAV (RIFF) 16-bit PCM audio -------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 mono samples -> RIFF/WAVE PCM bytes."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError("expected 1-d int16")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM bytes -> (int16 mono samples, sample_rate).

    Walks the chunk list (tolerates extra chunks like LIST); mono 16-bit
    PCM only — the uncompressed case this container can honestly own.
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, n = 12, len(payload)
    rate, data = None, None
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        size = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("only mono 16-bit PCM supported")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return data, rate


def frame_rms(samples: np.ndarray, n_frames: int = 8) -> list[float]:
    """Per-frame RMS energy (normalized to [0, 1]) over ``n_frames``
    equal slices — the standard cheap audio feature."""
    if len(samples) == 0:
        return [0.0] * n_frames
    x = samples.astype(np.float64) / 32768.0
    bounds = [len(x) * i // n_frames for i in range(n_frames + 1)]
    out = []
    for i in range(n_frames):
        seg = x[bounds[i]:max(bounds[i + 1], bounds[i] + 1)]
        out.append(float(np.sqrt(np.mean(seg * seg))))
    return out
