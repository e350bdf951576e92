"""Image near-duplicate detection: DCT perceptual hash + Hamming banding.

Training-data-pipeline operator over the images table (driver brief —
image axis).  Design for 100 TB:

- signature: decode (first-party codecs) → luminance → 32×32 area-mean
  resample (integral image, exact block means) → 2D DCT-II → top-left
  8×8 low-frequency band minus DC → median threshold → 64-bit pHash.
  One Arrow-batched pandas UDF; decode is per-image by nature but every
  later step runs on the whole batch as stacked numpy.
- pairing: the same pigeonhole banding as SimHash: any pair within
  Hamming distance d agrees on at least one of d+1 signature chunks →
  per-chunk equi-join, union, exact ``bit_count`` verify, all inside
  Catalyst.  No all-pairs stage anywhere; bucket sizes bound the only
  quadratic-risk step exactly as in :func:`dedup.simhash_pairs`.

The reference has no image-dedup operator; this is a driver-brief
addition (LLM training-data pipeline family) built on the repo's
raster codecs (``raster/codec.py``, ``raster/jpeg.py``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from geowave_spark.session import cache_per_call

__all__ = ["phash_from_grids", "phash_udf", "hamming_pairs", "image_phash_neardup"]


def _dct_mat(n: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (same convention as raster/jpeg.py)."""
    c = np.cos(
        (2 * np.arange(n)[None, :] + 1) * np.arange(n)[:, None] * np.pi / (2.0 * n)
    ) * np.sqrt(2.0 / n)
    c[0] *= 1.0 / np.sqrt(2.0)
    return c


_C32 = _dct_mat(32)


def _area_mean_32(g: np.ndarray) -> np.ndarray:
    """Exact area-mean downsample of a 2-D array to 32×32.

    Integral-image block sums over linspace boundaries; images smaller
    than 32 on a side are integer-upsampled first so every block is
    non-empty."""
    h, w = g.shape
    if h < 32:
        g = np.repeat(g, -(-32 // h), axis=0)
        h = g.shape[0]
    if w < 32:
        g = np.repeat(g, -(-32 // w), axis=1)
        w = g.shape[1]
    s = np.zeros((h + 1, w + 1), dtype=np.float64)
    np.cumsum(np.cumsum(g, axis=0, dtype=np.float64), axis=1, out=s[1:, 1:])
    ys = np.round(np.linspace(0, h, 33)).astype(np.int64)
    xs = np.round(np.linspace(0, w, 33)).astype(np.int64)
    y0, y1 = ys[:-1], ys[1:]
    x0, x1 = xs[:-1], xs[1:]
    block = (
        s[y1[:, None], x1[None, :]]
        - s[y0[:, None], x1[None, :]]
        - s[y1[:, None], x0[None, :]]
        + s[y0[:, None], x0[None, :]]
    )
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return block / area


_LUMA = np.array([0.299, 0.587, 0.114])


def _luma_grid_32(px: np.ndarray) -> np.ndarray:
    """Decoded pixels → 32×32 luminance grid (the per-image prefix of the
    pHash pipeline; everything after this point batches across Arrow)."""
    if px.ndim == 3:
        g = px.astype(np.float64) @ _LUMA
    else:
        g = px.astype(np.float64)
    return _area_mean_32(g)


def phash_from_grids(grids: np.ndarray) -> np.ndarray:
    """Batched pHash: (B, 32, 32) luminance grids → (B,) int64 hashes.

    One einsum-shaped DCT over the whole stack (``C @ G @ Cᵀ`` broadcast
    across B), one row-wise median, one ``np.packbits`` — zero per-image
    Python after the decode loop.  Coefficient i of the 8×8 low band (DC
    dropped, so overall brightness flips no bit) lands at bit 62−i; bit
    63 is the always-zero DC slot."""
    b = len(grids)
    f = np.matmul(np.matmul(_C32, grids), _C32.T)
    coeffs = f[:, :8, :8].reshape(b, 64)[:, 1:]  # drop DC
    med = np.median(coeffs, axis=1, keepdims=True)
    bits = np.zeros((b, 64), dtype=np.uint8)
    bits[:, 1:] = coeffs > med
    be = np.packbits(bits, axis=1).reshape(b, 8).view(">u8").ravel()
    # value-preserving to native uint64, then bit-reinterpret to signed
    return be.astype(np.uint64).view(np.int64)


def phash_udf(bytes_col: str = "bytes", fmt_col: str = "fmt"):
    """Column expression: (image bytes, format) → 64-bit pHash (long)."""

    @F.pandas_udf(LongType())
    def _ph(data: pd.Series, fmt: pd.Series) -> pd.Series:
        from geowave_spark.raster.codec import decode_image

        if not len(data):
            return pd.Series(np.zeros(0, dtype=np.int64))
        # decode is per-image by nature; every later step (DCT, median,
        # bit-pack) runs once on the stacked batch
        grids = np.empty((len(data), 32, 32), dtype=np.float64)
        for k, (raw, f) in enumerate(zip(data, fmt)):
            grids[k] = _luma_grid_32(decode_image(bytes(raw), f))
        return pd.Series(phash_from_grids(grids))

    return _ph(F.col(bytes_col), F.col(fmt_col))


def hamming_pairs(
    sig: DataFrame, max_hamming: int = 3, blocks_per_key: int = 1
) -> DataFrame:
    """All id pairs within ``max_hamming`` of their 64-bit signatures.

    ``sig`` must have columns ``_id`` and ``_sig`` (long).  Pigeonhole
    banding, generalized to multi-index hashing (Manku et al. WWW'07 §3;
    Norouzi et al., "Fast Search in Hamming Space with Multi-Index
    Hashing"): split the word into k = d + m blocks; a pair within
    distance d has errors in at most d blocks, so at least m blocks are
    clean and the band keyed on exactly those m blocks matches →
    equi-join per C(k, m) band, dedupe, exact popcount verify.

    ``blocks_per_key`` (m) is the candidate-volume dial: expected
    spurious candidates scale as C(k,m)·n²/2^(m·width).  m=1 is the
    plain d+1-chunk scheme (fine at 10^5 rows); at web scale raise m so
    the band keyspace outgrows n — e.g. d=4, m=2 turns 5 joins on 12-bit
    keys (n²/4096 candidates) into 15 joins on 20-bit keys (n²/10^6).
    The output row set is identical for every m (recall is 1.0 by the
    pigeonhole argument; the popcount verify fixes precision).

    When k = d + m does not divide 64, the leftover high bits are folded
    into the LAST block (its width is 64 − (k−1)·⌊64/k⌋), so every bit of
    the signature is covered by exactly one block and band keys stay
    maximally selective.  k ≥ 2 is required: a single 64-bit block would
    need a 2⁶⁴−1 mask literal that overflows a Spark long (and a
    whole-word band is just an exact-match groupBy — use
    ``dropDuplicates`` for that)."""
    from itertools import combinations

    m = blocks_per_key
    k = max_hamming + m
    if m < 1 or k < 2 or k > 64:
        raise ValueError(
            f"blocks_per_key {m} out of range for d={max_hamming}: "
            f"need 1 <= m and 2 <= d+m <= 64"
        )
    width = 64 // k
    # per-block bit widths: k-1 equal blocks + a last block absorbing the
    # remainder, covering all 64 bits
    widths = [width] * (k - 1) + [64 - (k - 1) * width]

    def block(b: int, col: str = "_sig"):
        mask = (1 << widths[b]) - 1
        return f"(shiftrightunsigned({col}, {b * width}) & {mask}L)"

    def band_key(combo, col: str = "_sig"):
        parts, shift = [], 0
        for b in combo:
            parts.append(f"({block(b, col)} << {shift})")
            shift += widths[b]
        return "(" + " | ".join(parts) + ")"

    combos = list(combinations(range(k), m))
    band_keys = [band_key(combo) for combo in combos]
    exploded = sig.select(
        "_id",
        "_sig",
        F.posexplode(F.expr("array(" + ", ".join(band_keys) + ")")).alias(
            "band", "bkey"
        ),
    )
    a = exploded.select(
        F.col("_id").alias("id_a"), F.col("_sig").alias("_sa"), "band", "bkey"
    )
    b = exploded.select(
        F.col("_id").alias("id_b"), F.col("_sig").alias("_sb"), "band", "bkey"
    )
    # first-matching-band dedup (Norouzi MIH's duplicate-candidate
    # elimination): keep a candidate only in the FIRST band whose keys
    # agree, a codegen filter instead of a dropDuplicates exchange.  Kept
    # COMPACT (README): k per-block equality terms feed C(k,m) band-match
    # booleans and array_position picks the first true one; repeating the
    # band-key bit math per earlier band blows the JVM's 64 KB method
    # limit and drops the stage out of codegen.
    eq_terms = [f"(({block(i, '_sa')}) = ({block(i, '_sb')}))" for i in range(k)]
    band_match = [
        "(" + " AND ".join(eq_terms[i] for i in combo) + ")" for combo in combos
    ]
    first_match = (
        f"band = (array_position(array({', '.join(band_match)}), true) - 1)"
    )
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.expr(first_match))
        .withColumn("hamming", F.bit_count(F.expr("_sa ^ _sb")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def image_phash_neardup(
    images: DataFrame,
    max_hamming: int = 7,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    blocks_per_key: int = 1,
    signature_col: str | None = None,
) -> DataFrame:
    """Near-duplicate image pairs by DCT pHash within ``max_hamming`` bits.

    Output: (id_a, id_b, hamming), id_a < id_b lexicographically.
    Raise ``blocks_per_key`` for large corpora (see :func:`hamming_pairs`).

    If ``signature_col`` names a pre-materialized 64-bit hash column
    (the input-hint images table already carries ``phash``), decode is
    skipped entirely.  Otherwise the signature projection is persisted
    and materialized BEFORE the band self-join, so the decode+DCT pandas
    UDF — the expensive stage — evaluates exactly once per image instead
    of once per join side; the cache holds only (id, 8-byte signature)
    rows and is released by the next call (:func:`session.cache_per_call`)."""
    if signature_col is not None:
        sig = images.select(
            F.col(id_col).alias("_id"),
            F.col(signature_col).cast("long").alias("_sig"),
        )
        return hamming_pairs(sig, max_hamming, blocks_per_key=blocks_per_key)
    sig = cache_per_call(
        "image_phash_neardup",
        images.select(F.col(id_col).alias("_id"), phash_udf(bytes_col, fmt_col).alias("_sig")),
    )
    sig.count()  # materialize once: both self-join legs read the cache
    return hamming_pairs(sig, max_hamming, blocks_per_key=blocks_per_key)
