"""Dimension normalization (numpy).

Semantics from GeoWave's dimension definitions:
- BasicDimensionDefinition (core/index/.../dimension/BasicDimensionDefinition.java):
  normalize native value into [0,1] over fixed bounds, clamped.
- LongitudeDefinition (core/geotime/.../index/dimension/LongitudeDefinition.java:41-84):
  [-180,180] with dateline splitting — a range whose min > max wraps and is
  split into two bin ranges.
- TemporalBinningStrategy (core/geotime/.../index/dimension/TemporalBinningStrategy.java):
  bin epoch millis by calendar unit (default YEAR) into a bin id prefix plus
  a normalized position within the bin.

All helpers are vectorized over numpy arrays.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Dimension:
    """A bounded numeric dimension normalized to [0, 1]."""

    min: float
    max: float
    wraps: bool = False  # longitude-style periodic dimension

    @property
    def range(self) -> float:
        return self.max - self.min

    def normalize(self, v: np.ndarray) -> np.ndarray:
        u = (np.asarray(v, dtype=np.float64) - self.min) / self.range
        return np.clip(u, 0.0, 1.0)

    def denormalize(self, u: np.ndarray) -> np.ndarray:
        return np.asarray(u, dtype=np.float64) * self.range + self.min

    def to_bins(self, v: np.ndarray, bits: int) -> np.ndarray:
        """Native value → integer cell index in [0, 2^bits)."""
        n = np.uint64(1) << np.uint64(bits)
        u = self.normalize(v)
        idx = np.floor(u * float(n)).astype(np.uint64)
        return np.minimum(idx, n - np.uint64(1))


LONGITUDE = Dimension(-180.0, 180.0, wraps=True)
LATITUDE = Dimension(-90.0, 90.0)
# GeoWave's "square" latitude option (SpatialDimensionalityTypeProvider.java:50-54)
LATITUDE_SQUARE = Dimension(-180.0, 180.0)


def split_dateline(lo: np.ndarray, hi: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    """Split longitude ranges that wrap the antimeridian.

    Returns the pair of (lo, hi) range sets; rows that do not wrap appear
    only in the first set (second set rows carry NaN and must be dropped by
    the caller).  Mirrors LongitudeDefinition.java:41-68.
    """
    lo = np.asarray(lo, dtype=np.float64)
    hi = np.asarray(hi, dtype=np.float64)
    wrap = lo > hi
    a_lo = np.where(wrap, lo, lo)
    a_hi = np.where(wrap, 180.0, hi)
    b_lo = np.where(wrap, -180.0, np.nan)
    b_hi = np.where(wrap, hi, np.nan)
    return [(a_lo, a_hi), (b_lo, b_hi)]


# --- temporal binning (YEAR periodicity default, SpatialTemporalOptions.java:18)


def temporal_bin_year(epoch_ms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Epoch millis → (year bin id, normalized position in year [0,1)).

    Equivalent to TemporalBinningStrategy with Unit.YEAR: the bin id is the
    calendar year, the sort position is the fraction of the year elapsed.
    """
    ts = np.asarray(epoch_ms, dtype="datetime64[ms]")
    years = ts.astype("datetime64[Y]")
    year_ids = years.astype(np.int64) + 1970
    start = years.astype("datetime64[ms]").astype(np.int64)
    end = (years + np.timedelta64(1, "Y")).astype("datetime64[ms]").astype(np.int64)
    pos = (np.asarray(epoch_ms, dtype=np.int64) - start) / (end - start)
    return year_ids, pos
