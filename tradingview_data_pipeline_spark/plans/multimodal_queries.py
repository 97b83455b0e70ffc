"""q83 — the multimodal family's first DRIVER-VERIFIED oracle row
(round-11; VERDICT r10 'What's missing': multimodal/codecs was the only
first-class family with pytest-only evidence).

The query drives the REAL byte-level media path end-to-end — PPM P6
encode → binary column → ``multimodal.resize_images`` (decode →
nearest-neighbor stride → re-encode) → decode → channel aggregates, and
WAV PCM encode → ``multimodal.extract_audio_features`` (decode →
per-frame RMS) — against a DuckDB oracle that reproduces the features
in closed form. That is possible because the payloads are synthesized
deterministically from ``doc_id`` with integer arithmetic:

- image: 6x4 RGB, pixel(y, x, c) = (doc_id + 7y + 13x + 29c) % 256.
  resize_images(max_side=3) strides to 3x2 taking rows {0,2} and cols
  {0,2,4}, so resized pixel(y, x, c) = (doc_id + 14y + 26x + 29c) % 256
  — the oracle sums that formula directly. Channel sums are exact
  integers (order-free), means are one double division of exact ints
  (bit-identical across engines).
- audio: 64 int16 samples s_i = ((doc_id*31 + 17i) % 4096) - 2048 at
  8 kHz. frame_rms slices 8 frames of 8: every x_i^2 = s_i^2 / 2^30 is
  a dyadic rational and all partial sums are exactly representable, so
  the frame mean is association-order-free, sqrt is correctly rounded,
  and the final float32 cast (AUDIO_FEATURES_SCHEMA) is IEEE-identical
  to DuckDB's CAST(... AS REAL). v1 carries n_samples from the decoder.

- phash (round-11 third leg): `multimodal.image_ahash` over the SAME
  encoded payloads — decode → integer grayscale (channel sum, 0..765)
  → nearest-resize to the 6x10 grid (60 bits) → strict-mean threshold
  → row-major MSB-first bigint. The 6x4 source upscales with floor
  index maps rows ys=(y*4)//6, cols xs=(x*6)//10, so resized
  g(y, x) = Σ_c (doc_id + 7*ys + 13*xs + 29*c) % 256 — the oracle
  rebuilds the full 60-bit signature with integer SQL (v1) plus the
  set-bit count (v2 = Σ bit ≡ Spark `bit_count`). Exact by
  construction: no division anywhere on the image side.

Everything stays Arrow-batched mapInPandas (no per-row UDFs); the
media frame is built once and pinned for all modality legs (the q80
substrate rule). Reference parity: the reference has no media path at
all — this is training-data-extension surface (SURVEY §6 scope).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import codecs
from tradingview_data_pipeline_spark.operators import multimodal as mm
from tradingview_data_pipeline_spark.operators import pins
from tradingview_data_pipeline_spark.plans.analytics import (
    _t, _t_wide, register)

_IMG_W, _IMG_H = 6, 4
_N_SAMPLES, _RATE, _N_FRAMES = 64, 8000, 8


def _encode_media(batches):
    """doc_id -> deterministic PPM + WAV payloads (the 'storage' form).

    r13 (guide §4.2, the 5490401 grouped-vectorization recipe): all
    payloads share one shape, so the pixel/sample arithmetic runs as
    ONE int64 tensor op per batch instead of ~30 small numpy ops per
    row. Headers come from the codecs themselves (encode output =
    header + raw bytes, and header depends only on the fixed dims /
    rate), so the emitted bytes are provably identical to the per-row
    ``encode_ppm`` / ``encode_wav`` calls."""
    y = np.arange(_IMG_H)[None, :, None, None]
    x = np.arange(_IMG_W)[None, None, :, None]
    c = np.arange(3)[None, None, None, :]
    samp = 17 * np.arange(_N_SAMPLES, dtype=np.int64)[None, :]
    img_hdr = codecs.encode_ppm(
        np.zeros((_IMG_H, _IMG_W, 3), np.uint8))[:-_IMG_H * _IMG_W * 3]
    wav_hdr = codecs.encode_wav(
        np.zeros(_N_SAMPLES, np.int16), _RATE)[:-_N_SAMPLES * 2]
    for b in batches:
        ids = b["doc_id"].astype("int64").to_numpy()
        arr = ((ids[:, None, None, None] + 7 * y + 13 * x + 29 * c)
               % 256).astype(np.uint8)
        smat = (((ids[:, None] * 31 + samp) % 4096) - 2048).astype(np.int16)
        yield pd.DataFrame({
            "doc_id": ids,
            "img": [img_hdr + a.tobytes() for a in arr],
            "wav": [wav_hdr + s.tobytes() for s in smat]})


def _channel_sums(batches):
    """Decode resized PPM payloads -> per-channel integer sums.

    r13 (guide §4.2): payloads grouped by decoded (w, h) — one
    ``frombuffer`` + one stacked int64 channel-sum per group instead of
    a decode + 3 sums per row; int64 sums are associative so values are
    exactly the per-row ones. Output order (payload-major, channel 0..2)
    is unchanged."""
    for b in batches:
        payloads = list(b["payload"])
        groups: dict = {}
        for i, p in enumerate(payloads):
            p = bytes(p)
            w, h, maxval, off = codecs._ppm_header(p)
            if maxval != 255:
                raise ValueError("only 8-bit PPM supported")
            groups.setdefault((w, h), []).append((i, p[off:off + w * h * 3]))
        sums = np.empty((len(payloads), 3), dtype=np.int64)
        for (w, h), items in groups.items():
            k = len(items)
            data = np.frombuffer(b"".join(s for _, s in items), np.uint8)
            s3 = data.reshape(k, h, w, 3).astype(np.int64).sum(axis=(1, 2))
            for (i, _), row in zip(items, s3):
                sums[i] = row
        yield pd.DataFrame({
            "media_id": np.repeat(np.asarray(b["media_id"], dtype=object), 3),
            "idx": np.tile(np.arange(3, dtype=np.int64), len(payloads)),
            "v1": sums.reshape(-1)})


@register("q83_multimodal_codecs", oracle="""
WITH ids AS (SELECT doc_id FROM documents),
img AS (
  SELECT doc_id, c,
         CAST(SUM((doc_id + 14*y + 26*x + 29*c) % 256) AS BIGINT) AS v1
  FROM ids
  CROSS JOIN range(3) AS tc(c)
  CROSS JOIN range(2) AS ty(y)
  CROSS JOIN range(3) AS tx(x)
  GROUP BY doc_id, c
),
wav AS (
  SELECT doc_id, f, SUM(s * s) AS ss
  FROM (SELECT doc_id, i // 8 AS f,
               ((doc_id * 31 + 17 * i) % 4096) - 2048 AS s
        FROM ids CROSS JOIN range(64) AS ti(i))
  GROUP BY doc_id, f
),
gray AS (
  SELECT doc_id, y, x,
         CAST(SUM((doc_id + 7*((y*4)//6) + 13*((x*6)//10) + 29*c) % 256)
              AS BIGINT) AS g
  FROM ids
  CROSS JOIN range(6) AS ty(y)
  CROSS JOIN range(10) AS tx(x)
  CROSS JOIN range(3) AS tc(c)
  GROUP BY doc_id, y, x
),
ph AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN g * 60 > total
                       THEN CAST(1 AS BIGINT) << (59 - (y*10 + x))
                       ELSE 0 END) AS BIGINT) AS v1,
         CAST(SUM(CASE WHEN g * 60 > total THEN 1 ELSE 0 END)
              AS DOUBLE) AS v2
  FROM (SELECT doc_id, y, x, g,
               CAST(SUM(g) OVER (PARTITION BY doc_id) AS BIGINT) AS total
        FROM gray)
  GROUP BY doc_id
)
SELECT 'img' AS kind, doc_id, c AS idx, v1,
       CAST(v1 AS DOUBLE) / 6.0 AS v2
FROM img
UNION ALL
SELECT 'wav' AS kind, doc_id, f AS idx, CAST(64 AS BIGINT) AS v1,
       CAST(CAST(sqrt(CAST(ss AS DOUBLE) / 8.0) / 32768.0 AS REAL)
            AS DOUBLE) AS v2
FROM wav
UNION ALL
SELECT 'phash' AS kind, doc_id, CAST(0 AS BIGINT) AS idx, v1, v2
FROM ph
""")
def q83_multimodal_codecs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    media = pins.checkpoint(                  # one encode for both legs
        d.mapInPandas(_encode_media, "doc_id long, img binary, wav binary"),
        eager=False, storage_level=None)

    img_media = media.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("img").alias("payload"))
    resized = mm.resize_images(img_media, max_side=3)
    img_feat = resized.select("media_id", "payload").mapInPandas(
        _channel_sums, "media_id string, idx long, v1 long")
    img_leg = img_feat.select(
        F.lit("img").alias("kind"),
        F.col("media_id").cast("bigint").alias("doc_id"),
        "idx", "v1",
        (F.col("v1").cast("double") / F.lit(6.0)).alias("v2"))

    wav_media = media.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("wav").alias("payload"))
    af = mm.extract_audio_features(wav_media, n_frames=_N_FRAMES)
    wav_leg = af.select(
        F.lit("wav").alias("kind"),
        F.col("media_id").cast("bigint").alias("doc_id"),
        F.posexplode("rms_frames").alias("idx", "rms"),
        F.col("n_samples").alias("v1")
    ).select("kind", "doc_id", F.col("idx").cast("bigint").alias("idx"),
             "v1", F.col("rms").cast("double").alias("v2"))

    ah = mm.image_ahash(img_media, grid=(6, 10))
    ph_leg = ah.select(
        F.lit("phash").alias("kind"),
        F.col("media_id").cast("bigint").alias("doc_id"),
        F.lit(0).cast("bigint").alias("idx"),
        F.col("phash").alias("v1"),
        F.bit_count("phash").cast("double").alias("v2"))

    return img_leg.unionByName(wav_leg).unionByName(ph_leg)


# ---------------------------------------------------------------------------
# q84 — video near-dup / clip containment, DRIVER-VERIFIED (round 11;
# slot freed by registry merge #21, q39+q57). Exercises the FULL chain
# multimodal.video_phash -> video_near_dups (per-frame aHash over real
# PPM decodes -> banded-Hamming frame join -> per-pair distinct-position
# containment fractions) against a DuckDB oracle that rebuilds every
# frame signature in closed-form integer SQL and mirrors the pairing
# with an exhaustive bit_count(xor) join — exact because the band join's
# recall is 1.0 for hamming <= bands-1 = max_hamming = 3.
#
# Planted structure: doc pairs (2k, 2k+1) share frames 0..5 of 8 (same
# content seed), own frames 6..7 — so every planted pair scores
# frac = 6/8 exactly (dyadic: cross-engine identical doubles). Frame
# pixels come from a two-round xorshift-multiply hash (NOT the affine
# q83 formula: affine pixels make frames near-translates of each other
# and 60-bit signatures collapse to ~80 distinct values with thousands
# of accidental hamming<=3 cross-matches — measured before shipping;
# the hash chain yields exactly the 250 planted pairs and zero extras).
# Every step is integer (grayscale = channel sum, strict-> threshold),
# and the second multiply operates on a value reduced mod 2^31 so the
# BIGINT product cannot overflow DuckDB's signed arithmetic.
# ---------------------------------------------------------------------------

_V_FRAMES, _V_SHARED = 8, 6
_M1, _M2 = 2654435761, 2246822519


def _vpix_block(seed: int):
    """(6, 10, 3) uint8 frame for one content seed — the xorshift-multiply
    chain, vectorized; mirrored literally in q84's oracle SQL. 10x6
    matches the (6, 10) aHash grid EXACTLY ON PURPOSE: an upscaled
    smaller source duplicates grid columns, which collapses per-chunk
    signature entropy and blows the band join up (measured: 6x4 source
    -> 29M raw join pairs at 40k frames from ~9 effective bits/chunk;
    1:1 grid -> ~7k pairs, max bucket 6)."""
    y = np.arange(6, dtype=np.int64)[:, None, None]
    x = np.arange(10, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    a = seed * 4096 + y * 1024 + x * 64 + c
    h = (a * _M1) % 2**32
    h = h ^ (h >> 15)
    h = h % 2**31
    h = (h * _M2) % 2**32
    h = h ^ (h >> 13)
    return ((h >> 8) % 256).astype(np.uint8)


def _vpix_stack(seeds) -> "np.ndarray":
    """(n, 6, 10, 3) uint8 frames for MANY content seeds — the same
    xorshift-multiply chain as :func:`_vpix_block` broadcast over a
    leading seed axis (elementwise-identical int64 ops, so frames are
    bit-equal; pinned by tests/test_codecs.py). One numpy pass per
    Arrow batch instead of one per frame (guide §4.2): measured
    0.60 -> 0.15 s for 20k frames."""
    seeds = np.asarray(seeds, dtype=np.int64)[:, None, None, None]
    y = np.arange(6, dtype=np.int64)[None, :, None, None]
    x = np.arange(10, dtype=np.int64)[None, None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, None, :]
    a = seeds * 4096 + y * 1024 + x * 64 + c
    h = (a * _M1) % 2**32
    h = h ^ (h >> 15)
    h = h % 2**31
    h = (h * _M2) % 2**32
    h = h ^ (h >> 13)
    return ((h >> 8) % 256).astype(np.uint8)


def _encode_videos(batches):
    hdr = b"P6\n10 6\n255\n"                    # encode_ppm's (6,10,3) header
    for b in batches:
        ids, seeds = [], []
        for did in b["doc_id"]:
            did = int(did)
            base = did - did % 2
            for j in range(_V_FRAMES):
                seeds.append(base * 16 + j if j < _V_SHARED else did * 16 + j)
            ids.append(f"{did:09d}")
        stack = _vpix_stack(seeds)
        frames = [[hdr + stack[i * _V_FRAMES + j].tobytes()
                   for j in range(_V_FRAMES)] for i in range(len(ids))]
        yield pd.DataFrame({"media_id": ids, "frames": frames})


@register("q84_video_neardup", oracle="""
WITH fr AS (
  SELECT doc_id, j,
         CASE WHEN j < 6 THEN (doc_id - doc_id % 2) * 16 + j
              ELSE doc_id * 16 + j END AS seed
  FROM documents CROSS JOIN range(8) AS tj(j)
),
h1 AS (
  SELECT doc_id, j, y, x, c,
         ((seed*4096 + y*1024 + x*64 + c) * 2654435761)
         % 4294967296 AS h
  FROM fr
  CROSS JOIN range(6) AS ty(y)
  CROSS JOIN range(10) AS tx(x)
  CROSS JOIN range(3) AS tc(c)
),
px AS (
  SELECT doc_id, j, y, x,
         (xor(h3, h3 >> 13) >> 8) % 256 AS p
  FROM (SELECT doc_id, j, y, x,
               ((xor(h, h >> 15) % 2147483648) * 2246822519)
               % 4294967296 AS h3
        FROM h1)
),
gray AS (
  SELECT doc_id, j, y, x, CAST(SUM(p) AS BIGINT) AS g
  FROM px GROUP BY doc_id, j, y, x
),
sig AS (
  SELECT doc_id, j,
         CAST(SUM(CASE WHEN g * 60 > total
                       THEN CAST(1 AS BIGINT) << (59 - (y*10 + x))
                       ELSE 0 END) AS BIGINT) AS s
  FROM (SELECT doc_id, j, y, x, g,
               CAST(SUM(g) OVER (PARTITION BY doc_id, j) AS BIGINT) AS total
        FROM gray)
  GROUP BY doc_id, j
),
m AS (
  SELECT a.doc_id AS da, a.j AS ja, b.doc_id AS db, b.j AS jb
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id
   AND bit_count(xor(a.s, b.s)) <= 3
),
agg AS (
  SELECT da, db, COUNT(*) AS n_matched,
         COUNT(DISTINCT ja) AS ma, COUNT(DISTINCT jb) AS mb
  FROM m GROUP BY da, db
)
SELECT da AS doc_a, db AS doc_b, CAST(n_matched AS BIGINT) AS n_matched,
       CAST(ma AS DOUBLE) / 8.0 AS frac_a,
       CAST(mb AS DOUBLE) / 8.0 AS frac_b
FROM agg
WHERE GREATEST(ma, mb) >= 4
""")
def q84_video_neardup(spark, sf_dir):
    # widen the single-split scan BEFORE the synth/decode mapInPandas —
    # but only WORK-proportionally (rows_per_task): with the r12
    # batch-vectorized synth+hash, session-width spreading was 26 s of
    # task overhead CPU for ~0.6 s of numpy work (width sweep in
    # spread_small_scan's docstring; 4-8 tasks is the measured optimum
    # at 5k docs and the file splits naturally at production sizes)
    d = _t_wide(spark, sf_dir, "documents",
                rows_per_task=1000).select("doc_id")
    videos = d.mapInPandas(_encode_videos,
                           "media_id string, frames array<binary>")
    vp = mm.video_phash(videos)                       # grid (6,10), 60 bits
    out = mm.video_near_dups(vp, max_hamming=3, min_shared_frac=0.5)
    return out.select(
        F.col("vid_a").cast("bigint").alias("doc_a"),
        F.col("vid_b").cast("bigint").alias("doc_b"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        F.col("frac_a").cast("double").alias("frac_a"),
        F.col("frac_b").cast("double").alias("frac_b"))
