"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline operators (driver brief).  Design for 100 TB:

- exact: hash-groupBy on md5(text) — one shuffle, partial agg on the hash,
  never materializes pairwise anything.
- MinHash+LSH: shingle → k minhashes (vectorized numpy multiply-shift
  hashing in one Arrow batch) → band keys → :func:`_first_band_pairs`,
  the id-only candidate kernel shared with cosine near-dup (one equi-join
  on band key, each pair kept in its first agreeing band, no dedupe
  exchange) → signatures, then texts, fetched by id for the candidates
  only → exact Jaccard verify.  Over-``max_bucket`` buckets are dropped
  (and reported) before the join.
- SimHash: 64-bit signature via sign-sum of token hashes; near-dups =
  pairs within Hamming distance d, found by the standard pigeonhole trick
  (split signature into d+1 chunks, equi-join on any equal chunk).
- n-gram Jaccard: same pipeline with character shingles.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from geowave_spark.session import cache_per_call

_MERSENNE = (1 << 61) - 1


def _shingles(text: str, n: int) -> np.ndarray:
    """Character n-gram shingle hashes (uint64) of one document.

    Rolling polynomial hash over byte windows, fully vectorized; short
    texts fall back to a deterministic single-hash of the raw bytes."""
    b = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) < n:
        fnv = np.uint64(1469598103934665603)
        for byte in b.tolist():
            fnv = (fnv ^ np.uint64(byte)) * np.uint64(1099511628211)
        return np.array([fnv], dtype=np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(b, n)
    pows = np.power(np.uint64(1099511628211), np.arange(n, dtype=np.uint64))
    h = (win.astype(np.uint64) * pows[None, :]).sum(axis=1)
    return np.unique(h)


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per distinct text (hash-groupBy)."""
    return df.groupBy(F.md5(F.col(text)).alias("_h")).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    ).drop("_h")


def minhash_udf(num_hashes: int = 64, shingle: int = 3, seed: int = 42):
    """Pandas UDF: text → array of num_hashes minhash values (long)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, num_hashes, dtype=np.int64).astype(np.uint64)

    @F.pandas_udf(ArrayType(LongType()))
    def _mh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            sh = _shingles(t or "", shingle)
            # (S, H) universal hash, min over shingles
            hv = (sh[:, None] * a[None, :] + b[None, :]) % np.uint64(_MERSENNE)
            out.append(hv.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    return _mh


def _first_band_pairs(keys: DataFrame, bands: int) -> DataFrame:
    """Each distinct ``(id_a, id_b)``, ``id_a < id_b``, agreeing on at
    least one band key, exactly once: the shared LSH candidate kernel.

    ``keys``: ``_id`` and ``_keys`` (array<long>, one key per band; a null
    key never matches).  One id-only equi-join on (band, key), then the
    first-matching-band filter of :func:`imagedup.hamming_pairs` in its
    compact form (per-band equality terms + ``array_position``).
    ``posexplode_outer`` infers no ``size(_keys) > 0`` filter, so a UDF
    computing ``_keys`` runs once per join leg."""
    ex = keys.select("_id", "_keys", F.posexplode_outer("_keys").alias("band", "bkey"))
    a = ex.select(F.col("_id").alias("id_a"), F.col("_keys").alias("_ka"), "band", "bkey")
    b = ex.select(F.col("_id").alias("id_b"), F.col("_keys").alias("_kb"), "band", "bkey")
    match = ", ".join(f"_ka[{i}] = _kb[{i}]" for i in range(bands))
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.expr(f"band = array_position(array({match}), true) - 1"))
        .select("id_a", "id_b")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Buckets larger than ``max_bucket`` (degenerate content — boilerplate
    or empty docs — whose all-pairs cost is quadratic) are dropped, and
    the drop is REPORTED in a warning with the bucket and row counts.  A
    dropped bucket's key is nulled, so a pair that also agrees in a later
    band is still found there.
    """
    rows_per_band = num_hashes // bands
    sig = cache_per_call(
        "minhash_lsh_dedup",
        df.select(
            F.col(id_col).alias("_id"),
            minhash_udf(num_hashes, shingle)(F.col(text)).alias("_sig"),
        ),
    )
    band_keys = [
        F.xxhash64(F.slice("_sig", b * rows_per_band + 1, rows_per_band))
        for b in range(bands)
    ]
    # bound pathological buckets — and report what was dropped
    sizes = sig.select(F.posexplode(F.array(*band_keys)).alias("band", "bucket"))
    over = sizes.groupBy("band", "bucket").count().where(F.col("count") > max_bucket).collect()
    if over:
        warnings.warn(
            f"minhash_lsh_dedup: dropped {len(over)} over-limit bucket(s) "
            f"covering {sum(r['count'] for r in over)} band rows "
            f"(max_bucket={max_bucket}); pairs within them are not examined",
            stacklevel=2,
        )
    dropped = [[r["bucket"] for r in over if r["band"] == b] for b in range(bands)]
    nulled = [F.when(~k.isin(d), k) for k, d in zip(band_keys, dropped)]
    keys = sig.select("_id", F.array(*nulled).alias("_keys"))
    # estimated jaccard from signature agreement, then exact verify
    est = (
        F.size(F.filter(F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(num_hashes)
    )
    cand = (
        _first_band_pairs(keys, bands)
        .join(sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a")), "id_a")
        .join(sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b")), "id_b")
        .where(est >= threshold * 0.5)
        .join(df.select(F.col(id_col).alias("id_a"), F.col(text).alias("_ta")), "id_a")
        .join(df.select(F.col(id_col).alias("id_b"), F.col(text).alias("_tb")), "id_b")
    )

    @F.pandas_udf(DoubleType())
    def _jaccard(ta: pd.Series, tb: pd.Series) -> pd.Series:
        # shingle each DISTINCT text once per batch (candidate pairs share
        # texts heavily), then verify the WHOLE batch with one lexsort:
        # gather every pair's two unique shingle sets tagged by pair id,
        # sort by (pair, value), and count adjacent duplicates — per-pair
        # |A∩B| without any per-pair Python loop
        n = len(ta)
        if not n:
            return pd.Series(np.zeros(0))
        codes, uniq = pd.factorize(pd.concat([ta, tb], ignore_index=True))
        sh = [_shingles(t or "", shingle) for t in uniq]
        lens = np.array([s.size for s in sh], dtype=np.int64)
        off = np.concatenate(([0], np.cumsum(lens)))
        allsh = np.concatenate(sh)
        ja, jb = codes[:n], codes[n:]
        # interleave (a, b) segment starts/lengths per pair
        starts = np.empty(2 * n, dtype=np.int64)
        starts[0::2], starts[1::2] = off[ja], off[jb]
        cnts = np.empty(2 * n, dtype=np.int64)
        cnts[0::2], cnts[1::2] = lens[ja], lens[jb]
        seg0 = np.concatenate(([0], np.cumsum(cnts)[:-1]))
        idx = np.repeat(starts - seg0, cnts) + np.arange(int(cnts.sum()))
        vals = allsh[idx]
        pair = np.repeat(np.arange(n), cnts[0::2] + cnts[1::2])
        order = np.lexsort((vals, pair))
        sv, sp = vals[order], pair[order]
        dup = (sv[1:] == sv[:-1]) & (sp[1:] == sp[:-1])
        inter = np.bincount(sp[1:][dup], minlength=n)
        denom = lens[ja] + lens[jb] - inter
        return pd.Series(np.where(denom > 0, inter / np.maximum(denom, 1), 1.0))

    return (
        cand.withColumn("jaccard", _jaccard("_ta", "_tb"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    shingle: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via MinHash-LSH candidates."""
    return minhash_lsh_dedup(df, threshold, shingle=shingle, text=text, id_col=id_col)


def simhash_udf(shingle: int = 2, seed: int = 7):
    """Pandas UDF: text → 64-bit SimHash (long)."""
    mul = np.uint64(0x9E3779B97F4A7C15)

    @F.pandas_udf(LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        # whole-batch vectorization: concatenate every text's shingle
        # hashes, expand to a (S_total, 64) ±1 bit matrix once, and
        # segment-sum per document with add.reduceat — no per-row Python
        # beyond the string decode itself
        if not len(texts):
            return pd.Series(np.zeros(0, dtype=np.int64))
        shs = [_shingles(t or "", shingle) for t in texts]  # each ≥1 hash
        lens = np.array([len(s) for s in shs], dtype=np.int64)
        allh = np.concatenate(shs)
        with np.errstate(over="ignore"):
            h = (allh * mul) ^ (allh >> np.uint64(31))
        bit_idx = np.arange(64, dtype=np.uint64)
        bits = ((h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        v = np.add.reduceat(bits, starts, axis=0)
        pos = (v > 0).astype(np.uint64)
        sig = (pos << bit_idx[None, :]).sum(axis=1, dtype=np.uint64)
        return pd.Series(sig.astype(np.int64))

    return _sh


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
    blocks_per_key: int = 1,
) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming of 64-bit SimHash.

    Pigeonhole: split the 64-bit signature into (max_hamming+1) chunks; any
    pair within distance d agrees on ≥1 chunk → equi-join per chunk, union,
    exact popcount verify (bit_count is built-in).  ``blocks_per_key``
    raises the banding to multi-index hashing for web-scale corpora —
    identical row set, candidates ∝ n²/2^(m·width) (see
    :func:`imagedup.hamming_pairs`)."""
    from geowave_spark.operators.imagedup import hamming_pairs

    sig = cache_per_call(
        "simhash_pairs",
        df.select(F.col(id_col).alias("_id"), simhash_udf()(F.col(text)).alias("_sig")),
    )
    return hamming_pairs(sig, max_hamming, blocks_per_key=blocks_per_key)
