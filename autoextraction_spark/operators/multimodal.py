"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The container has no image/audio libraries, so DECODING is stubbed: the
Spark-side plumbing (schemas, partitioning, UDF signatures, batch shapes) is
real and tested; the pixel/sample math is a deterministic fake behind
``_decode_image_real`` which raises NotImplementedError until PIL/ffmpeg are
present (import-gated).

At 100 TB the rules encoded here: binary payloads never enter a shuffle
(feature-extract FIRST, then drop the payload), batch sizes bounded via
``spark.sql.execution.arrow.maxRecordsPerBatch``, one decoder init per
worker (iterator form).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import png, wav

try:  # real decoders, absent in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

MEDIA_SCHEMA = (
    "url string, kind string, payload binary, "
    "media_w int, media_h int, duration_ms int"
)
IMAGE_FEATURES_SCHEMA = (
    "url string, width int, height int, n_channels int, features array<float>"
)
AUDIO_FEATURES_SCHEMA = (
    "url string, n_channels int, sample_rate int, n_frames int, "
    "features array<float>"
)
FRAME_SAMPLE_SCHEMA = "url string, frame_idx int, frame_ts_ms int, frame binary"


def media_table(pages: DataFrame) -> DataFrame:
    """Derive a deterministic media table from the corpus: every 3rd page
    carries an 'image', every 7th a 'video' (payload = fake bytes)."""
    doc_id = F.col("doc_id")
    kind = (
        F.when(doc_id % 7 == 0, F.lit("video"))
        .when(doc_id % 3 == 0, F.lit("image"))
        .otherwise(F.lit(None))
    )
    return (
        pages.select(
            "url",
            kind.alias("kind"),
            F.encode(F.concat(F.lit("payload:"), F.col("url")), "utf-8").alias("payload"),
            ((doc_id % 8 + 1) * 64).cast("int").alias("media_w"),
            ((doc_id % 5 + 1) * 64).cast("int").alias("media_h"),
            F.when(doc_id % 7 == 0, (doc_id % 30 + 1) * 1000)
            .otherwise(F.lit(None))
            .cast("int")
            .alias("duration_ms"),
        )
        .filter(F.col("kind").isNotNull())
    )


def _decode_image_real(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Real decoder. PNG payloads are decoded by the stdlib-only codec in
    ``png.py`` (zlib inflate + full scanline-filter reconstruction — no
    third-party libraries needed); other formats remain the PIL swap seam.

    Feature contract (8 floats, all INTEGER-valued so they are exact in
    float32 and reproducible by the DuckDB oracle): per-channel byte sums
    for the first three channels (last channel repeated when fewer), global
    min and max byte, first byte (0,0,c0), last byte (w-1,h-1,c_last), and
    the count of distinct byte values. Channel means are sums/(w·h) — left
    to the consumer so the emitted features stay integral.
    """
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, ch, rows = png.decode_png(payload)
        sums = [0] * ch
        mn, mx = 255, 0
        distinct: set[int] = set()
        for row in rows:
            for c in range(ch):
                sums[c] += sum(row[c::ch])
            mn = min(mn, min(row))
            mx = max(mx, max(row))
            distinct.update(row)
        feats = [
            float(sums[min(c, ch - 1)]) for c in range(3)
        ] + [
            float(mn), float(mx),
            float(rows[0][0]), float(rows[-1][-1]), float(len(distinct)),
        ]
        return w, h, ch, feats
    if not HAVE_PIL:
        raise NotImplementedError(
            "non-PNG decoding requires PIL/pillow; install it and wire "
            "Image.open here — the surrounding Spark plumbing is "
            "decode-library agnostic"
        )
    raise NotImplementedError("PIL present but decoder not wired yet")


def png_media_table(pages: DataFrame) -> DataFrame:
    """Media table whose image payloads are REAL PNG bytes (the same
    every-3rd-page-not-video rule as ``media_table``), synthesized
    deterministically from ``doc_id`` so the decode→feature path is
    verifiable by a closed-form oracle:

    RGB image of ``w = (doc_id % 8 + 1) * 8`` × ``h = (doc_id % 5 + 1) * 8``
    where pixel (x, y, c) = ``(doc_id*31 + y + 85*c) % 256`` (row-constant
    per channel), encoded with the scanline filter CYCLING ``y % 5`` — a
    decoder only reproduces the pixels if it implements all five PNG filter
    reconstructions. Encoding happens worker-side in one Arrow pass; small
    dims keep the correctness-gate cost trivial while exercising the same
    code path as any size.
    """
    images = pages.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 7 != 0)
    ).select("doc_id", "url")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, url in zip(pdf["doc_id"], pdf["url"]):
                d = int(doc_id)
                w, h = (d % 8 + 1) * 8, (d % 5 + 1) * 8
                base = d * 31
                rows = [
                    bytes(
                        (base + y + 85 * c) % 256
                        for _x in range(w)
                        for c in range(3)
                    )
                    for y in range(h)
                ]
                payload = png.encode_png(rows, w, h, 3)
                out.append((url, "image", payload, w, h, None))
            yield pd.DataFrame(
                out,
                columns=[
                    "url", "kind", "payload", "media_w", "media_h",
                    "duration_ms",
                ],
            )

    return images.mapInPandas(run, schema=MEDIA_SCHEMA)


def _decode_image_fake(payload: bytes, w: int, h: int) -> tuple[int, int, int, list[float]]:
    """Deterministic fake: 8 'features' from the payload digest — keeps the
    pipeline testable end-to-end without pixel libraries. b/256 is an exact
    binary fraction, so the value is bit-identical in any engine."""
    digest = hashlib.md5(payload).digest()
    feats = [b / 256.0 for b in digest[:8]]
    return w, h, 3, feats


def extract_image_features(media: DataFrame, use_real_decoder: bool = False) -> DataFrame:
    """image rows -> (url, width, height, n_channels, features array<float>).

    Iterator-of-batches form: a real model/decoder would be loaded ONCE per
    python worker here, not per batch.
    """
    images = media.filter(F.col("kind") == "image").select(
        "url", "payload", "media_w", "media_h"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one-time per-worker decoder init would go here
        for pdf in batches:
            out = []
            for url, payload, w, h in zip(
                pdf["url"], pdf["payload"], pdf["media_w"], pdf["media_h"]
            ):
                if use_real_decoder:
                    width, height, ch, feats = _decode_image_real(bytes(payload))
                else:
                    width, height, ch, feats = _decode_image_fake(bytes(payload), w, h)
                out.append((url, width, height, ch, feats))
            yield pd.DataFrame(
                out, columns=["url", "width", "height", "n_channels", "features"]
            )

    return images.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def wav_media_table(pages: DataFrame) -> DataFrame:
    """Media table whose audio payloads are REAL RIFF/WAVE bytes (stdlib
    ``wave`` codec — the png_media_table move applied to the second
    modality): every ``doc_id % 4 == 2`` page carries mono 16-bit PCM with

    - ``n = (doc_id % 5 + 1) * 64`` frames,
    - ``rate = 8000 + (doc_id % 3) * 4000`` Hz,
    - sample ``v(t) = ((doc_id*13 + t*t) % 4096) - 2048`` — pure integer
      arithmetic, so a closed-form DuckDB oracle recomputes every decoded
      statistic and one wrong decoded sample anywhere breaks a sum.

    Encoding happens worker-side in one Arrow pass; payloads never shuffle.
    """
    auds = pages.filter(F.col("doc_id") % 4 == 2).select("doc_id", "url")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, url in zip(pdf["doc_id"], pdf["url"]):
                d = int(doc_id)
                n = (d % 5 + 1) * 64
                rate = 8000 + (d % 3) * 4000
                samples = [((d * 13 + t * t) % 4096) - 2048 for t in range(n)]
                payload = wav.encode_wav(samples, rate, n_channels=1)
                out.append((url, "audio", payload, None, None, n * 1000 // rate))
            yield pd.DataFrame(
                out,
                columns=[
                    "url", "kind", "payload", "media_w", "media_h",
                    "duration_ms",
                ],
            )

    return auds.mapInPandas(run, schema=MEDIA_SCHEMA)


def _decode_audio_real(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Real decoder: stdlib ``wave`` for RIFF PCM payloads; anything else
    (mp3/flac/ogg) remains the ffmpeg/soundfile swap seam.

    Feature contract (8 floats, all INTEGER-valued so they are exact in
    float32 and reproducible by the DuckDB oracle): sample sum, min, max,
    first sample, last sample, distinct-value count, zero-crossing count
    (sign flips between adjacent samples, negatives strictly < 0), and the
    sum of absolute values. Means/RMS are ratios of these — left to the
    consumer so the emitted features stay integral."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        ch, rate, n, samples = wav.decode_wav(payload)
        crossings = sum(
            1
            for i in range(1, len(samples))
            if (samples[i - 1] < 0) != (samples[i] < 0)
        )
        feats = [
            float(sum(samples)),
            float(min(samples)),
            float(max(samples)),
            float(samples[0]),
            float(samples[-1]),
            float(len(set(samples))),
            float(crossings),
            float(sum(abs(s) for s in samples)),
        ]
        return ch, rate, n, feats
    raise NotImplementedError(
        "non-WAV decoding requires ffmpeg/soundfile; wire it here — the "
        "surrounding Spark plumbing is decode-library agnostic"
    )


def _decode_audio_fake(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic fake (the image-fake rule): 8 'features' from the
    payload digest, each an exact binary fraction."""
    digest = hashlib.md5(payload).digest()
    return 1, 8000, len(payload), [b / 256.0 for b in digest[:8]]


def extract_audio_features(media: DataFrame, use_real_decoder: bool = False) -> DataFrame:
    """audio rows -> (url, n_channels, sample_rate, n_frames, features).

    Same shape rules as extract_image_features: iterator-of-batches (a real
    decoder initializes once per worker), payload dropped at the UDF
    boundary so it never shuffles."""
    audio = media.filter(F.col("kind") == "audio").select("url", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                if use_real_decoder:
                    ch, rate, n, feats = _decode_audio_real(bytes(payload))
                else:
                    ch, rate, n, feats = _decode_audio_fake(bytes(payload))
                out.append((url, ch, rate, n, feats))
            yield pd.DataFrame(
                out,
                columns=["url", "n_channels", "sample_rate", "n_frames", "features"],
            )

    return audio.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 5000) -> DataFrame:
    """video rows -> one row per sampled frame (deterministic fake frames).

    The explode happens JVM-side from duration metadata; only the (stubbed)
    per-frame decode is Python.
    """
    videos = media.filter(F.col("kind") == "video")
    idx = F.explode(
        F.sequence(F.lit(0), F.floor(F.col("duration_ms") / every_ms).cast("int"))
    ).alias("frame_idx")
    frames = videos.select("url", "payload", "duration_ms", idx).withColumn(
        "frame_ts_ms", F.col("frame_idx") * every_ms
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "frame_idx": pdf["frame_idx"],
                    "frame_ts_ms": pdf["frame_ts_ms"],
                    # fake frame bytes: deterministic function of (url, idx)
                    "frame": [
                        hashlib.md5(f"{u}#{i}".encode()).digest()
                        for u, i in zip(pdf["url"], pdf["frame_idx"])
                    ],
                }
            )

    return frames.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)
