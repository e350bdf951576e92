"""Multimodal (audio/video) binary columns: schemas, synthesis, decode,
feature extraction.

Per the build brief, image/audio/video travel as opaque ``binary`` columns
with typed metadata; decode / feature-extract / frame-sample run as
Arrow-batched functions over ``mapInPandas``.  This container has no
audio/video libraries, so:

- **real decoders** exist for the self-describing codecs: ``pcm16``
  (int16 little-endian samples) and ``rawrgb`` (w·h·3 bytes per frame) —
  pure numpy, fully tested;
- **compressed codecs** (``mp3``, ``opus``, ``h264``, ``vp9``) are STUBS
  that raise ``NotImplementedError`` at decode time — the Spark-side
  plumbing (schemas, partitioning, UDF signatures, Arrow batch shape) is
  the real, tested part, and a production build swaps the stub for a
  library call without touching the plan.

Everything is deterministic in the id (seeded), mirroring the image table
(sources/images.py) so tests and gated queries are reproducible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

AUDIO_SCHEMA = (
    "audio_id string, bytes binary, sample_rate int, n_samples int, "
    "codec string, caption string"
)
VIDEO_SCHEMA = (
    "video_id string, bytes binary, w int, h int, fps double, n_frames int, "
    "codec string, caption string"
)

REAL_AUDIO_CODECS = {"pcm16"}
REAL_VIDEO_CODECS = {"rawrgb"}


# ---- synthesis (deterministic in the integer id) --------------------------


def gen_audio_pdf(indices: np.ndarray, sample_rate: int = 8000) -> pd.DataFrame:
    rows = []
    for i in indices.tolist():
        n = 1000 + (i % 7) * 500
        rng = np.random.default_rng(42 + i)
        t = np.arange(n) / sample_rate
        freq = 100.0 + (i % 40) * 25.0
        wave = 0.5 * np.sin(2 * np.pi * freq * t) + 0.05 * rng.standard_normal(n)
        pcm = np.clip(wave * 32767, -32768, 32767).astype("<i2")
        codec = "pcm16" if i % 4 else "mp3"  # every 4th row exercises the stub
        rows.append(
            (
                f"aud{i:08d}",
                pcm.tobytes() if codec == "pcm16" else bytes([i % 251] * 64),
                sample_rate,
                n,
                codec,
                f"audio clip {i} tone {freq:.0f}hz",
            )
        )
    return pd.DataFrame(
        rows, columns=["audio_id", "bytes", "sample_rate", "n_samples", "codec", "caption"]
    )


def gen_video_pdf(indices: np.ndarray, w: int = 16, h: int = 12) -> pd.DataFrame:
    rows = []
    for i in indices.tolist():
        nf = 4 + (i % 5) * 2
        rng = np.random.default_rng(777 + i)
        frames = (rng.integers(0, 256, size=(nf, h, w, 3))).astype(np.uint8)
        # per-frame brightness ramp makes frame stats distinguishable
        frames = (frames * np.linspace(0.2, 1.0, nf)[:, None, None, None]).astype(np.uint8)
        codec = "rawrgb" if i % 3 else "h264"
        rows.append(
            (
                f"vid{i:08d}",
                frames.tobytes() if codec == "rawrgb" else bytes([i % 251] * 64),
                w,
                h,
                12.0,
                nf,
                codec,
                f"video clip {i} of {nf} frames",
            )
        )
    return pd.DataFrame(
        rows,
        columns=["video_id", "bytes", "w", "h", "fps", "n_frames", "codec", "caption"],
    )


def audio_table(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    def _gen(batches):
        for pdf in batches:
            yield gen_audio_pdf(pdf["id"].to_numpy())

    return spark.range(0, n, 1, partitions).mapInPandas(_gen, AUDIO_SCHEMA)


def video_table(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    def _gen(batches):
        for pdf in batches:
            yield gen_video_pdf(pdf["id"].to_numpy())

    return spark.range(0, n, 1, partitions).mapInPandas(_gen, VIDEO_SCHEMA)


# ---- decode ---------------------------------------------------------------


def decode_audio(raw: bytes, codec: str, n_samples: int) -> np.ndarray:
    """bytes → float32 samples in [-1, 1].  Real for pcm16 and wav (RIFF
    container, PCM16 payload — parsed from scratch per the public WAVE
    spec); compressed codecs remain documented stubs."""
    if codec == "pcm16":
        return np.frombuffer(raw, dtype="<i2", count=n_samples).astype(np.float32) / 32768.0
    if codec == "wav":
        return _decode_wav(raw, n_samples)
    raise NotImplementedError(
        f"audio codec {codec!r}: decode stubbed in this environment "
        "(no audio libraries); plumbing is real — swap in a decoder here"
    )


def _decode_wav(raw: bytes, n_samples: int) -> np.ndarray:
    """Minimal RIFF/WAVE parse: walk chunks to 'fmt ' (require PCM16) and
    'data'; mono or first channel of interleaved frames."""
    import struct

    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (size,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
        body = raw[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_format, channels, _rate, _bps, _block, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError("only PCM16 WAVE supported")
    samples = np.frombuffer(data, dtype="<i2")
    if channels > 1:
        samples = samples[::channels]
    return samples[:n_samples].astype(np.float32) / 32768.0


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """float32 [-1, 1] → mono PCM16 WAVE bytes (for tests/round-trips)."""
    import struct

    pcm = np.clip(np.asarray(samples) * 32767.0, -32768, 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_video(raw: bytes, codec: str, w: int, h: int, n_frames: int) -> np.ndarray:
    """bytes → (n_frames, h, w, 3) uint8.  Real for rawrgb; stub otherwise."""
    if codec == "rawrgb":
        return np.frombuffer(raw, dtype=np.uint8, count=n_frames * h * w * 3).reshape(
            n_frames, h, w, 3
        )
    raise NotImplementedError(
        f"video codec {codec!r}: decode stubbed in this environment "
        "(no video libraries); plumbing is real — swap in a decoder here"
    )


# ---- operators ------------------------------------------------------------


def audio_features(audio: DataFrame, skip_undecodable: bool = True) -> DataFrame:
    """Per-clip features: duration, RMS level, zero-crossing rate.

    ``skip_undecodable`` drops rows whose codec is stubbed (the production
    posture for a partial-codec fleet); with False, a stubbed codec raises
    on the executor — surfacing exactly where the real decoder is needed.
    """
    schema = "audio_id string, duration_s double, rms double, zcr double"

    def _feat(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                if skip_undecodable and r.codec not in REAL_AUDIO_CODECS:
                    continue
                x = decode_audio(r.bytes, r.codec, r.n_samples)
                zc = np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))
                out.append(
                    (
                        r.audio_id,
                        float(r.n_samples) / float(r.sample_rate),
                        float(np.sqrt(np.mean(x * x))),
                        float(zc),
                    )
                )
            yield pd.DataFrame(out, columns=["audio_id", "duration_s", "rms", "zcr"])

    return audio.mapInPandas(_feat, schema)


def video_frame_sample(
    video: DataFrame, every_n: int = 2, skip_undecodable: bool = True
) -> DataFrame:
    """Sample every ``every_n``-th frame → one row per sampled frame with
    mean RGB (the shape a frame-embedding pipeline consumes)."""
    schema = (
        "video_id string, frame_idx int, mean_r double, mean_g double, mean_b double"
    )

    def _sample(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                if skip_undecodable and r.codec not in REAL_VIDEO_CODECS:
                    continue
                frames = decode_video(r.bytes, r.codec, r.w, r.h, r.n_frames)
                for fi in range(0, r.n_frames, every_n):
                    m = frames[fi].reshape(-1, 3).mean(axis=0)
                    out.append((r.video_id, fi, float(m[0]), float(m[1]), float(m[2])))
            yield pd.DataFrame(
                out, columns=["video_id", "frame_idx", "mean_r", "mean_g", "mean_b"]
            )

    return video.mapInPandas(_sample, schema)
