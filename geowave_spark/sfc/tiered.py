"""Tiered SFC index strategy (vectorized numpy).

From-scratch reimplementation of the semantics of GeoWave's
TieredSFCIndexStrategy (core/index/.../sfc/tiered/TieredSFCIndexStrategy.java):

- one curve per *tier* (tier id == bits of precision per dimension);
- insertion walks tiers highest-precision → lowest and stops at the first
  tier where the entity's envelope spans ≤ ``max_duplicates`` cells
  (TieredSFCIndexStrategy.java:345-407).  A point always lands in the top
  tier; large geometries land in coarse tiers;
- tier re-projection (cross-tier join support) is prefix truncation of the
  Hilbert id (2 bits per tier for 2 dims);
- query decomposition produces per-tier contiguous Hilbert ranges covering a
  bbox, capped in cost (PrimitiveHilbertSFCOperations.java:47 bounds the
  reference's decomposition at UNIT_CELL_SIZE=2^19; we cap the enumerated
  cover grid the same way).

Everything is vectorized: tier selection over N envelopes is an (N, T)
matrix op; cell emission uses repeat/cumsum indexing, no Python loops.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .dimensions import LATITUDE, LONGITUDE, Dimension
from .hilbert import xy_to_hilbert

DEFAULT_MAX_BITS = 31
# reference: GeoWaveIndexedRDD.java:119,193 — spark join uses 80 duplicates
JOIN_MAX_DUPLICATES = 80
# reference: TieredSFCIndexStrategy.java:58 — default 2 per dimension → 4 in 2-D
DEFAULT_MAX_DUPLICATES = 4
# reference: PrimitiveHilbertSFCOperations.java:47
UNIT_CELL_COUNT_CAP = 1 << 19


@dataclass(frozen=True)
class TieredStrategy:
    """2-D tiered Hilbert strategy over (x=lon, y=lat)."""

    max_bits: int = DEFAULT_MAX_BITS
    dim_x: Dimension = field(default=LONGITUDE)
    dim_y: Dimension = field(default=LATITUDE)

    # ---- encoding -------------------------------------------------------

    def top_cells_xy(self, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Grid coords of points at the top tier."""
        return (
            self.dim_x.to_bins(x, self.max_bits),
            self.dim_y.to_bins(y, self.max_bits),
        )

    def point_cells(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        """Hilbert cell ids for points at the top tier (tier == max_bits)."""
        ix, iy = self.top_cells_xy(x, y)
        return xy_to_hilbert(ix, iy, self.max_bits)

    def envelope_insertion_ids(
        self,
        minx: np.ndarray,
        miny: np.ndarray,
        maxx: np.ndarray,
        maxy: np.ndarray,
        max_duplicates: int = DEFAULT_MAX_DUPLICATES,
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Insertion ids for N envelopes.

        Returns (row_index, tier, cell) arrays, one entry per emitted cell.
        Tier selection: the finest tier where the envelope spans
        ≤ max_duplicates cells (cell count is monotone non-increasing as the
        tier coarsens, so the first qualifying tier walking fine→coarse is
        the max qualifying tier).

        Envelopes with ``minx > maxx`` wrap the antimeridian and are split
        into two bin ranges, each indexed independently (per-part tier
        choice) — LongitudeDefinition.java:41-84 semantics.
        """
        minx = np.asarray(minx, dtype=np.float64)
        maxx = np.asarray(maxx, dtype=np.float64)
        miny = np.asarray(miny, dtype=np.float64)
        maxy = np.asarray(maxy, dtype=np.float64)
        wrap = minx > maxx
        if wrap.any():
            base_row, base_tier, base_cell = self._envelope_ids_nowrap(
                np.where(wrap, self.dim_x.min, minx),
                miny,
                np.where(wrap, self.dim_x.max, maxx),
                maxy,
                max_duplicates,
            )
            keep = ~wrap[base_row]
            parts = [(base_row[keep], base_tier[keep], base_cell[keep])]
            widx = np.nonzero(wrap)[0]
            for lo, hi in ((minx[widx], np.full(len(widx), self.dim_x.max)),
                           (np.full(len(widx), self.dim_x.min), maxx[widx])):
                r, t, c = self._envelope_ids_nowrap(lo, miny[widx], hi, maxy[widx], max_duplicates)
                parts.append((widx[r], t, c))
            row = np.concatenate([p[0] for p in parts])
            tier = np.concatenate([p[1] for p in parts])
            cell = np.concatenate([p[2] for p in parts])
            # a wrapped envelope's two parts may share coarse cells — dedupe
            key = (row.astype(np.int64) << 6 | tier.astype(np.int64)), cell
            _, uniq = np.unique(np.stack([key[0], key[1]]), axis=1, return_index=True)
            uniq.sort()
            return row[uniq], tier[uniq], cell[uniq]
        return self._envelope_ids_nowrap(minx, miny, maxx, maxy, max_duplicates)

    def _tier_bins(self, minx, miny, maxx, maxy):
        T = self.max_bits
        return (
            self.dim_x.to_bins(np.asarray(minx), T).astype(np.int64),
            self.dim_x.to_bins(np.asarray(maxx), T).astype(np.int64),
            self.dim_y.to_bins(np.asarray(miny), T).astype(np.int64),
            self.dim_y.to_bins(np.asarray(maxy), T).astype(np.int64),
        )

    def _select_tiers(self, ixmin, ixmax, iymin, iymax, max_duplicates):
        """Finest tier per envelope with ≤ max_duplicates cells — (N,) array."""
        T = self.max_bits
        # (N, T+1) cell extents per tier via prefix truncation of top-tier bins
        shifts = (T - np.arange(T + 1)).astype(np.int64)  # tier t -> shift T-t
        nx = (ixmax[:, None] >> shifts[None, :]) - (ixmin[:, None] >> shifts[None, :]) + 1
        ny = (iymax[:, None] >> shifts[None, :]) - (iymin[:, None] >> shifts[None, :]) + 1
        counts = nx * ny  # estimated id count per tier (cf. PrimitiveHilbertSFCOperations.java:415-436)
        ok = counts <= max_duplicates
        # max tier with ok (tier 0 always ok: 1 cell)
        tiers = np.arange(T + 1, dtype=np.int64)
        return np.where(ok, tiers[None, :], -1).max(axis=1)

    def tier_for_width(self, w_x: float, w_y: float) -> int:
        """Finest tier whose cell span covers ``w`` in both dims — i.e. any
        envelope of that size lands in ≤2 cells/dim (≤4 total) at this tier.

        The single-tier grid rule of the reference's NN partitioner
        (AbstractPartitioner.java:230-267: grid sized from the query
        distance); used by the distance join so the tier is known
        driver-side with no data scan."""
        import math

        t = self.max_bits
        for dim, w in ((self.dim_x, w_x), (self.dim_y, w_y)):
            if w > 0:
                t = min(t, int(math.floor(math.log2(dim.range / w))))
        return max(0, min(self.max_bits, t))

    def envelope_cells_at_tier(
        self,
        minx: np.ndarray,
        miny: np.ndarray,
        maxx: np.ndarray,
        maxy: np.ndarray,
        tier: int,
    ) -> tuple[np.ndarray, np.ndarray]:
        """All cells covered by each envelope at one fixed tier —
        (row_index, cell) arrays (single-tier analog of
        :meth:`envelope_insertion_ids`; no tier-selection matrix)."""
        t = int(tier)
        sh = np.int64(self.max_bits - t)
        a_x = self.dim_x.to_bins(np.asarray(minx), self.max_bits).astype(np.int64) >> sh
        b_x = self.dim_x.to_bins(np.asarray(maxx), self.max_bits).astype(np.int64) >> sh
        a_y = self.dim_y.to_bins(np.asarray(miny), self.max_bits).astype(np.int64) >> sh
        b_y = self.dim_y.to_bins(np.asarray(maxy), self.max_bits).astype(np.int64) >> sh
        cnx = b_x - a_x + 1
        cnt = cnx * (b_y - a_y + 1)
        n = a_x.shape[0]
        row = np.repeat(np.arange(n, dtype=np.int64), cnt)
        starts = np.cumsum(cnt) - cnt
        off = np.arange(cnt.sum(), dtype=np.int64) - np.repeat(starts, cnt)
        ix = a_x[row] + off % cnx[row]
        iy = a_y[row] + off // cnx[row]
        if t == 0:
            return row, np.zeros(len(row), dtype=np.int64)
        return row, xy_to_hilbert(ix.astype(np.uint64), iy.astype(np.uint64), t).astype(np.int64)

    def point_cells_at_tier(self, x: np.ndarray, y: np.ndarray, tier: int) -> np.ndarray:
        """Hilbert cell ids for points at a fixed tier."""
        t = int(tier)
        if t == 0:
            return np.zeros(np.asarray(x).shape[0], dtype=np.int64)
        ix = self.dim_x.to_bins(np.asarray(x), t)
        iy = self.dim_y.to_bins(np.asarray(y), t)
        return xy_to_hilbert(ix, iy, t).astype(np.int64)

    def envelope_tiers(
        self,
        minx: np.ndarray,
        miny: np.ndarray,
        maxx: np.ndarray,
        maxy: np.ndarray,
        max_duplicates: int = DEFAULT_MAX_DUPLICATES,
    ) -> np.ndarray:
        """Tier-only variant of :meth:`envelope_insertion_ids` — used to learn
        the distinct build-side tier set without materializing the exploded
        cells (the reference instead collects tier bytes off the indexed RDD,
        TieredSpatialJoin.java:174-191).  Wrapped (dateline) envelopes report
        the tier of each split part."""
        minx = np.asarray(minx, dtype=np.float64)
        maxx = np.asarray(maxx, dtype=np.float64)
        wrap = minx > maxx
        ixmin, ixmax, iymin, iymax = self._tier_bins(
            np.where(wrap, self.dim_x.min, minx), miny, np.where(wrap, self.dim_x.max, maxx), maxy
        )
        out = self._select_tiers(ixmin, ixmax, iymin, iymax, max_duplicates)
        if wrap.any():
            widx = np.nonzero(wrap)[0]
            miny = np.asarray(miny, dtype=np.float64)
            maxy = np.asarray(maxy, dtype=np.float64)
            parts = []
            for lo, hi in ((minx[widx], np.full(len(widx), self.dim_x.max)),
                           (np.full(len(widx), self.dim_x.min), maxx[widx])):
                b = self._tier_bins(lo, miny[widx], hi, maxy[widx])
                parts.append(self._select_tiers(*b, max_duplicates))
            out = np.concatenate([out[~wrap], parts[0], parts[1]])
        return out

    def _envelope_ids_nowrap(
        self,
        minx: np.ndarray,
        miny: np.ndarray,
        maxx: np.ndarray,
        maxy: np.ndarray,
        max_duplicates: int = DEFAULT_MAX_DUPLICATES,
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        T = self.max_bits
        ixmin, ixmax, iymin, iymax = self._tier_bins(minx, miny, maxx, maxy)
        n = ixmin.shape[0]
        sel_tier = self._select_tiers(ixmin, ixmax, iymin, iymax, max_duplicates)

        sh = (T - sel_tier).astype(np.int64)
        a_x = ixmin >> sh
        b_x = ixmax >> sh
        a_y = iymin >> sh
        b_y = iymax >> sh
        cnx = b_x - a_x + 1
        cny = b_y - a_y + 1
        cnt = cnx * cny

        row = np.repeat(np.arange(n, dtype=np.int64), cnt)
        # offset of each emitted cell within its row's rectangle
        starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
        off = np.arange(cnt.sum(), dtype=np.int64) - np.repeat(starts, cnt)
        ix = a_x[row] + off % cnx[row]
        iy = a_y[row] + off // cnx[row]
        tier = sel_tier[row]

        # encode per distinct tier (Hilbert bits differ per tier)
        cells = np.zeros(row.shape, dtype=np.uint64)
        for t in np.unique(tier):
            m = tier == t
            if t == 0:
                cells[m] = 0
            else:
                cells[m] = xy_to_hilbert(ix[m].astype(np.uint64), iy[m].astype(np.uint64), int(t))
        return row, tier, cells.astype(np.int64)

    # ---- query decomposition -------------------------------------------

    def decompose_bbox(
        self,
        minx: float,
        miny: float,
        maxx: float,
        maxy: float,
        tier: int | None = None,
        max_ranges: int = 512,
    ) -> tuple[int, list[tuple[int, int]]]:
        """BBox → (tier, [(lo, hi)] inclusive Hilbert ranges) at one tier.

        Picks the finest tier whose cover of the bbox stays under the unit
        cell cap, enumerates the cover grid, sorts the Hilbert ids and
        merges consecutive ids into ranges, then coarsens ranges until at
        most ``max_ranges`` remain (the reference caps decomposition cost
        the same way: bounded backtracking + maxRangeDecomposition).
        """
        if tier is None:
            tier = self.max_bits
            while tier > 0:
                nx = int(self.dim_x.to_bins(np.array([maxx]), tier)[0]) - int(
                    self.dim_x.to_bins(np.array([minx]), tier)[0]
                ) + 1
                ny = int(self.dim_y.to_bins(np.array([maxy]), tier)[0]) - int(
                    self.dim_y.to_bins(np.array([miny]), tier)[0]
                ) + 1
                if nx * ny <= UNIT_CELL_COUNT_CAP:
                    break
                tier -= 1
        ax = int(self.dim_x.to_bins(np.array([minx]), tier)[0])
        bx = int(self.dim_x.to_bins(np.array([maxx]), tier)[0])
        ay = int(self.dim_y.to_bins(np.array([miny]), tier)[0])
        by = int(self.dim_y.to_bins(np.array([maxy]), tier)[0])
        gx, gy = np.meshgrid(
            np.arange(ax, bx + 1, dtype=np.uint64),
            np.arange(ay, by + 1, dtype=np.uint64),
        )
        ids = np.sort(xy_to_hilbert(gx.ravel(), gy.ravel(), tier).astype(np.int64))
        # merge consecutive ids into inclusive ranges
        brk = np.nonzero(np.diff(ids) > 1)[0]
        lo = ids[np.concatenate(([0], brk + 1))]
        hi = ids[np.concatenate((brk, [len(ids) - 1]))]
        ranges = list(zip(lo.tolist(), hi.tolist()))
        # coalesce nearest-gap ranges down to the cap (trades false positives
        # for fewer pruning predicates, exactly like maxRangeDecomposition)
        while len(ranges) > max_ranges:
            gaps = [(ranges[i + 1][0] - ranges[i][1], i) for i in range(len(ranges) - 1)]
            gaps.sort()
            keep = {i for _, i in gaps[: len(ranges) - max_ranges]}
            out: list[tuple[int, int]] = []
            for i, r in enumerate(ranges):
                if out and (i - 1) in keep:
                    out[-1] = (out[-1][0], r[1])
                else:
                    out.append(r)
            ranges = out
        return tier, ranges
