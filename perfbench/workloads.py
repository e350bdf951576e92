"""The workloads: seeded inputs, the timed operator calls, and the checks
that every output is right.

Each workload generates its inputs from the seed with the repo's own
generators, loads them into the session once, and exposes its ops as
``harness.Op`` objects.  The first call of each op (the warm-up) is the
reference output: ``verify`` checks it against independent numpy
oracles or a second engine plan, and every later call must reproduce it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geowave_spark.operators.imagedup import hamming_pairs
from geowave_spark.operators.join import distance_join, point_in_polygon_join
from geowave_spark.operators.kde import gaussian_stencil, kde
from geowave_spark.operators.knn import knn_join
from geowave_spark.operators.similarity import cosine_neardup_pairs
from geowave_spark.raster.codec import decode_image
from geowave_spark.raster.tiling import tile_images
from geowave_spark.sfc.hilbert import hilbert_to_xy
from geowave_spark.sfc.tiered import TieredStrategy
from geowave_spark.sources.fixtures import points_pdf, regions_pdf
from geowave_spark.sources.images import (
    gen_images_pdf,
    lonlat_for,
    resolution_for,
)

from harness import Op

STRATEGY = TieredStrategy()
TILE_SIZE = 16


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-free form of an output frame (rows sorted on every column)."""
    cols = list(df.columns)
    return df.sort_values(cols, kind="mergesort").reset_index(drop=True)


def same_rows(got: pd.DataFrame, ref: pd.DataFrame, what: str) -> str | None:
    if list(got.columns) != list(ref.columns):
        return f"{what}: columns {list(got.columns)} != {list(ref.columns)}"
    if len(got) != len(ref):
        return f"{what}: {len(got)} rows != reference {len(ref)}"
    a, b = canon(got), canon(ref)
    if not a.equals(b):
        bad = int((a != b).any(axis=1).sum())
        return f"{what}: {bad} rows differ from the reference"
    return None


def pair_set(df: pd.DataFrame, a: str, b: str) -> set:
    return set(zip(df[a].tolist(), df[b].tolist()))


class RefOp:
    """Builds an ``Op`` whose first output becomes the reference and
    whose every output also passes ``own_check``."""

    def __init__(self, name, call, own_check=None, compare=None):
        self.name = name
        self.ref = None
        self._call = call
        self._own = own_check
        self._compare = compare or (lambda got, ref: same_rows(got, ref, name))

    def _check(self, out):
        if self._own is not None:
            err = self._own(out)
            if err:
                return err
        if self.ref is None:
            self.ref = out
            return None
        return self._compare(out, self.ref)

    def op(self) -> Op:
        return Op(self.name, self._call, self._check)


class Workload:
    name = ""

    def __init__(self, seed: int, scale: float):
        self.seed = seed
        self.scale = scale
        self.rng = np.random.default_rng(seed)
        self.inputs: dict = {}
        self.extra: dict = {}

    def n(self, full: int, floor: int = 50) -> int:
        return max(floor, int(round(full * self.scale)))

    # -- to implement ------------------------------------------------------
    def make_inputs(self) -> dict:
        raise NotImplementedError

    def load(self, spark) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def verify(self) -> list[str]:
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def input_bytes(self) -> int:
        raise NotImplementedError

    def op_layer_metrics(self, stage: dict[str, dict]) -> dict[str, float]:
        return {}

    # -- inputs for the per-layer probes ------------------------------------
    def point_table(self) -> pd.DataFrame:
        """(image_id, lon, lat) of the workload's own points."""
        return self.inputs["points"][["image_id", "lon", "lat"]]

    def probe_regions(self) -> pd.DataFrame:
        return regions_pdf(self.n(300, 30), seed=self.seed + 1)

    def probe_images(self) -> pd.DataFrame:
        idx = np.sort(self.rng.choice(10_000_000, 24, replace=False))
        return gen_images_pdf(idx)


def _cache(df):
    df = df.persist()
    df.count()
    return df


def _points_bytes(pts: pd.DataFrame) -> int:
    """Raw input size: UTF-8 ids plus 8 bytes per double column."""
    ids = int(pts["image_id"].str.len().sum())
    return ids + 8 * 2 * len(pts)


# ---------------------------------------------------------------------------
# points_join
# ---------------------------------------------------------------------------


class PointsJoin(Workload):
    name = "points_join"
    RADIUS = 0.02
    SALT_CAP = 4
    KNN_K = 5
    KNN_DIST = 0.2
    KDE_LEVEL = 8
    KDE_CRS = "EPSG:3857"

    def make_inputs(self) -> dict:
        return {
            "points": points_pdf(self.n(12_000), skew=True, seed=self.seed),
            "regions": regions_pdf(self.n(300, 30), seed=self.seed + 1),
        }

    def load(self, spark) -> None:
        self.spark = spark
        p = _cache(spark.createDataFrame(self.inputs["points"]))
        self.frames = {
            "points": p,
            "right": p.select(F.col("image_id").alias("rid"), "lon", "lat"),
            "cands": p.select(F.col("image_id").alias("cid"), "lon", "lat"),
            "regions": _cache(spark.createDataFrame(self.inputs["regions"])),
        }

    def input_rows(self) -> int:
        return len(self.inputs["points"]) + len(self.inputs["regions"])

    def input_bytes(self) -> int:
        return _points_bytes(self.inputs["points"]) + int(
            self.inputs["regions"]["wkt"].str.len().sum())

    def probe_regions(self):
        return self.inputs["regions"]

    def _dj(self, salt):
        f = self.frames
        return distance_join(f["points"], f["right"], self.RADIUS, "image_id", "rid",
                             salt=salt, salt_cap=self.SALT_CAP).toPandas()

    def _pip(self, plan):
        f = self.frames
        return point_in_polygon_join(f["points"], f["regions"], "image_id",
                                     "region_id", plan=plan).toPandas()

    def _knn(self):
        f = self.frames
        return knn_join(f["points"], f["cands"], self.KNN_K, self.KNN_DIST,
                        "image_id", "cid", include_distance=True).toPandas()

    def _kde(self):
        return kde(self.frames["points"], self.KDE_LEVEL, crs=self.KDE_CRS).toPandas()

    def ops(self) -> list[Op]:
        self.refs = {
            "distance_join": RefOp("distance_join", lambda: self._dj("auto")),
            "knn_join": RefOp("knn_join", self._knn),
            "pip_join": RefOp("pip_join", lambda: self._pip("auto")),
            "kde": RefOp("kde", self._kde, own_check=self._kde_check,
                         compare=self._kde_compare),
        }
        return [r.op() for r in self.refs.values()]

    # kde: total weight must equal what the stencil deposits inside the grid
    def _kde_expected_weight(self) -> float:
        if "kde_total" not in self.extra:
            pts = self.inputs["points"]
            a = 6378137.0
            d2r = np.pi / 180.0
            e = a * np.pi
            nx, ny = 1 << (self.KDE_LEVEL + 1), 1 << self.KDE_LEVEL
            x = pts["lon"].to_numpy() * d2r * a
            with np.errstate(divide="ignore"):
                y = np.log(np.tan(np.pi / 4.0 + pts["lat"].to_numpy() * d2r / 2.0)) * a
            fx = np.floor((x + e) / (2 * e) * nx)
            fy = np.floor((y + e) / (2 * e) * ny)
            px = np.clip(np.nan_to_num(fx, posinf=nx, neginf=-1), 0, nx - 1).astype(np.int64)
            py = np.clip(np.nan_to_num(fy, posinf=ny, neginf=-1), 0, ny - 1).astype(np.int64)
            total = 0.0
            for dx, dy, w in gaussian_stencil():
                inside = ((px + dx >= 0) & (px + dx < nx) & (py + dy >= 0) & (py + dy < ny))
                total += w * float(inside.sum())
            self.extra["kde_total"] = total
        return self.extra["kde_total"]

    def _kde_check(self, out: pd.DataFrame) -> str | None:
        want = self._kde_expected_weight()
        got = float(out["weight"].sum())
        if abs(got - want) > 1e-9 * max(1.0, want):
            return f"kde: total weight {got!r} != deposited {want!r}"
        n = len(out)
        order = np.lexsort((out["cy"].to_numpy(), out["cx"].to_numpy(),
                            out["weight"].to_numpy()))
        pct = np.empty(n)
        pct[order] = np.arange(n) / max(n - 1, 1)
        if not np.array_equal(pct, out["pct"].to_numpy()):
            return "kde: pct is not the percent rank of weight"
        return None

    @staticmethod
    def _kde_compare(got: pd.DataFrame, ref: pd.DataFrame) -> str | None:
        a, b = canon(got[["cx", "cy", "weight"]]), canon(ref[["cx", "cy", "weight"]])
        if len(a) != len(b) or not (a[["cx", "cy"]].equals(b[["cx", "cy"]])):
            return "kde: occupied cells differ from the reference"
        if not np.allclose(a["weight"], b["weight"], rtol=1e-9, atol=0):
            return "kde: cell weights differ from the reference"
        return None

    def verify(self) -> list[str]:
        errs = []
        pts = self.inputs["points"]
        ref = self.refs["distance_join"].ref
        # salted == unsalted
        err = same_rows(self._dj(None), ref, "distance_join salt=auto vs unsalted")
        if err:
            errs.append(err)
        # numpy brute force on a seeded probe subset
        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        ids = pts["image_id"].to_numpy()
        sub = self.rng.choice(len(pts), min(200, len(pts)), replace=False)
        r2 = self.RADIUS * self.RADIUS
        want = set()
        for i in sub:
            dx, dy = lon[i] - lon, lat[i] - lat
            for j in np.nonzero(dx * dx + dy * dy <= r2)[0]:
                want.add((ids[i], ids[j]))
        probe_ids = set(ids[sub].tolist())
        got = {p for p in pair_set(ref, "image_id", "rid") if p[0] in probe_ids}
        if got != want:
            errs.append(f"distance_join: {len(got ^ want)} pairs differ from brute force")
        # kNN vs brute force, (dist2, id) tie-break
        knn = self.refs["knn_join"].ref
        q = self.rng.choice(len(pts), min(200, len(pts)), replace=False)
        kr2 = self.KNN_DIST * self.KNN_DIST
        want = set()
        for i in q:
            dx, dy = lon - lon[i], lat - lat[i]
            d2 = dx * dx + dy * dy
            keep = np.nonzero(d2 <= kr2)[0]
            order = keep[np.lexsort((ids[keep], d2[keep]))][: self.KNN_K]
            want |= {(ids[i], ids[j], r + 1) for r, j in enumerate(order)}
        qids = set(ids[q].tolist())
        kk = knn[knn["image_id"].isin(qids)]
        got = set(zip(kk["image_id"], kk["cid"], kk["rank"].astype(int)))
        if got != want:
            errs.append(f"knn_join: {len(got ^ want)} (query, neighbor, rank) rows "
                        "differ from brute force")
        # PIP: broadcast plan == shuffle plan
        err = same_rows(self._pip("shuffle"), self.refs["pip_join"].ref,
                        "pip_join broadcast vs shuffle plan")
        if err:
            errs.append(err)
        return errs

    def op_layer_metrics(self, stage):
        out = {}
        if "knn_join" in stage:
            out["knn.shuffle_bytes_per_input_byte"] = (
                stage["knn_join"]["shuffle_write_bytes"] / _points_bytes(self.inputs["points"]))
        out["kde.cells_out_per_input"] = len(self.refs["kde"].ref) / len(self.inputs["points"])
        return out


# ---------------------------------------------------------------------------
# image_pairs
# ---------------------------------------------------------------------------


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def _popcount64(x: np.ndarray) -> np.ndarray:
    b = np.ascontiguousarray(x, dtype=np.int64).view(np.uint8).reshape(-1, 8)
    return _POP8[b].sum(axis=1)


class ImagePairs(Workload):
    name = "image_pairs"
    MAX_HAMMING = 3
    COS_THRESHOLD = 0.9
    DIM = 64

    def make_inputs(self) -> dict:
        rng = np.random.default_rng(self.seed)
        n_img = self.n(400, 20)
        idx = np.sort(rng.choice(10_000_000, n_img, replace=False))
        imgs = gen_images_pdf(idx)
        imgs["lon"], imgs["lat"] = lonlat_for(idx)
        imgs["res"] = resolution_for(idx)
        # signatures: random 64-bit words plus planted groups whose members
        # each flip one distinct bit of the group's base (pairwise <= 2)
        n_sig = self.n(100_000, 2_000)
        n_groups = self.n(300, 10)
        sig = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, n_sig,
                           dtype=np.int64, endpoint=True)
        sizes = 2 + np.arange(n_groups) % 3
        slots = rng.choice(n_sig, int(sizes.sum()), replace=False)
        groups, k = [], 0
        for g in range(n_groups):
            members = slots[k: k + sizes[g]]
            k += sizes[g]
            bits = rng.choice(64, sizes[g] - 1, replace=False)
            base = sig[members[0]]
            for m, b in zip(members[1:], bits):
                sig[m] = np.int64(np.uint64(base) ^ (np.uint64(1) << np.uint64(b)))
            groups.append(members)
        # embeddings with planted near-duplicates (cosine ~0.999)
        n_emb = self.n(1_000, 60)
        emb = rng.standard_normal((n_emb, self.DIM))
        n_dup = n_emb // 10
        src = rng.choice(n_emb, 2 * n_dup, replace=False)
        for a, b in zip(src[:n_dup], src[n_dup:]):
            emb[b] = emb[a] + 0.03 * rng.standard_normal(self.DIM)
        return {
            "images": imgs,
            "sigs": pd.DataFrame({"_id": np.arange(n_sig, dtype=np.int64), "_sig": sig}),
            "groups": groups,
            "emb": emb,
        }

    def load(self, spark) -> None:
        self.spark = spark
        emb = self.inputs["emb"]
        self.frames = {
            "images": _cache(spark.createDataFrame(self.inputs["images"])),
            "sigs": _cache(spark.createDataFrame(self.inputs["sigs"])),
            "emb": _cache(spark.createDataFrame(pd.DataFrame(
                {"vec_id": np.arange(len(emb), dtype=np.int64), "embedding": list(emb)}))),
        }

    def input_rows(self) -> int:
        return len(self.inputs["images"]) + len(self.inputs["sigs"]) + len(self.inputs["emb"])

    def input_bytes(self) -> int:
        return (int(self.inputs["images"]["bytes"].map(len).sum())
                + 16 * len(self.inputs["sigs"]) + self.inputs["emb"].nbytes)

    def point_table(self):
        return self.inputs["images"][["image_id", "lon", "lat"]]

    def probe_images(self):
        return self.inputs["images"]

    def _tiles(self, images=None):
        t = tile_images(images if images is not None else self.frames["images"],
                        tile_size=TILE_SIZE)
        return t.select("image_id", "tier", "cell", F.length("tile").alias("nbytes"),
                        F.xxhash64("tile").alias("h")).toPandas()

    def _tiles_own(self, out):
        want = TILE_SIZE * TILE_SIZE * 3
        if len(out) == 0 or (out["nbytes"] != want).any():
            return f"tile_images: tiles must be {want} bytes each"
        if set(out["image_id"]) != set(self.inputs["images"]["image_id"]):
            return "tile_images: some images produced no tile"
        return None

    def _phash(self):
        return hamming_pairs(self.frames["sigs"], max_hamming=self.MAX_HAMMING).toPandas()

    def _phash_own(self, out):
        sig = self.inputs["sigs"]["_sig"].to_numpy()
        a, b = out["id_a"].to_numpy(), out["id_b"].to_numpy()
        pc = _popcount64(sig[a] ^ sig[b])
        if not np.array_equal(pc, out["hamming"].to_numpy()) or (pc > self.MAX_HAMMING).any():
            return "phash_pairs: an output pair fails the popcount check"
        got = pair_set(out, "id_a", "id_b")
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for x, y in got:
            parent[find(x)] = find(y)
        for members in self.inputs["groups"]:
            ms = sorted(int(m) for m in members)
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    if (ms[i], ms[j]) not in got:
                        return f"phash_pairs: planted pair {(ms[i], ms[j])} missing"
        roots = {find(int(g[0])) for g in self.inputs["groups"]}
        if len(roots) != len(self.inputs["groups"]):
            return (f"phash_pairs: {len(roots)} planted groups found, "
                    f"want {len(self.inputs['groups'])}")
        return None

    def _cosine(self):
        return cosine_neardup_pairs(self.frames["emb"], threshold=self.COS_THRESHOLD).toPandas()

    def _brute_cos(self):
        if "cos" not in self.extra:
            e = self.inputs["emb"]
            u = e / np.linalg.norm(e, axis=1, keepdims=True)
            self.extra["cos"] = u @ u.T
        return self.extra["cos"]

    def _cosine_own(self, out):
        c = self._brute_cos()
        a, b = out["id_a"].to_numpy(), out["id_b"].to_numpy()
        if len(out) == 0:
            return "cosine_pairs: no pairs found among the planted near-duplicates"
        if (a >= b).any():
            return "cosine_pairs: pairs must be ordered id_a < id_b"
        sim = c[a, b]
        if (sim < self.COS_THRESHOLD - 1e-9).any():
            return "cosine_pairs: a pair is below the threshold under brute force"
        if not np.allclose(sim, out["sim"].to_numpy(), atol=2e-6, rtol=0):
            return "cosine_pairs: reported similarity differs from brute force"
        return None

    def ops(self) -> list[Op]:
        self.refs = {
            "tile_images": RefOp("tile_images", self._tiles, own_check=self._tiles_own),
            "phash_pairs": RefOp("phash_pairs", self._phash, own_check=self._phash_own),
            "cosine_pairs": RefOp("cosine_pairs", self._cosine, own_check=self._cosine_own),
        }
        return [r.op() for r in self.refs.values()]

    def verify(self) -> list[str]:
        errs = []
        imgs = self.inputs["images"]
        pick = sorted(self.rng.choice(len(imgs), min(12, len(imgs)), replace=False).tolist())
        ids = imgs["image_id"].iloc[pick].tolist()
        full = tile_images(self.frames["images"].where(F.col("image_id").isin(ids)),
                           tile_size=TILE_SIZE)
        got = full.select("image_id", "tier", "cell", "tile",
                          F.xxhash64("tile").alias("h")).toPandas()
        ref = self.refs["tile_images"].ref
        ref = ref[ref["image_id"].isin(ids)]
        if (set(zip(got.image_id, got.tier, got.cell, got.h))
                != set(zip(ref.image_id, ref.tier, ref.cell, ref.h))):
            errs.append("tile_images: sampled images tile differently on a rerun")
        row = imgs.set_index("image_id")
        for r in got.itertuples(index=False):
            src = row.loc[r.image_id]
            want = _nn_tile(decode_image(bytes(src["bytes"]), src["fmt"]), float(src["lon"]),
                            float(src["lat"]), float(src["res"]), int(r.tier), int(r.cell))
            if bytes(r.tile) != want.tobytes():
                errs.append(f"tile_images: tile {r.image_id}/{r.cell} differs from "
                            "decode + nearest-neighbour resample")
                break
        # cosine: identical across repetitions is checked per call; recall of
        # the planted pairs is reported, not gated (LSH recall is not 1)
        out = self.refs["cosine_pairs"].ref
        self.extra["cosine_pairs_found"] = len(out)
        return errs

    def op_layer_metrics(self, stage):
        out = {}
        tiles = self.refs["tile_images"].ref
        out["tiling.tiles_per_image"] = len(tiles) / len(self.inputs["images"])
        out["tiling.output_mb"] = float(tiles["nbytes"].sum()) / 2**20
        n_ph = max(1, len(self.refs["phash_pairs"].ref))
        n_cos = max(1, len(self.refs["cosine_pairs"].ref))
        if "phash_pairs" in stage:
            out["imagedup.shuffle_records_per_pair"] = (
                stage["phash_pairs"]["shuffle_write_records"] / n_ph)
        if "cosine_pairs" in stage:
            out["similarity.shuffle_bytes_per_input_byte"] = (
                stage["cosine_pairs"]["shuffle_write_bytes"] / self.inputs["emb"].nbytes)
            out["similarity.shuffle_records_per_pair"] = (
                stage["cosine_pairs"]["shuffle_write_records"] / n_cos)
        return out


def _nn_tile(px, lon0, lat0, res, tier, cell) -> np.ndarray:
    """Independent nearest-neighbour resample of one tile (nodata = 0)."""
    ix, iy = hilbert_to_xy(np.array([cell], dtype=np.uint64), tier)
    span_x = STRATEGY.dim_x.range / (1 << tier)
    span_y = STRATEGY.dim_y.range / (1 << tier)
    gx = STRATEGY.dim_x.min + float(ix[0]) * span_x + (np.arange(TILE_SIZE) + 0.5) * (span_x / TILE_SIZE)
    gy = STRATEGY.dim_y.min + float(iy[0]) * span_y + (np.arange(TILE_SIZE) + 0.5) * (span_y / TILE_SIZE)
    sx = np.floor((gx - lon0) / res).astype(np.int64)
    sy = np.floor((gy - lat0) / res).astype(np.int64)
    h, w, _ = px.shape
    tile = np.zeros((TILE_SIZE, TILE_SIZE, 3), dtype=np.uint8)
    for r in range(TILE_SIZE):
        for c in range(TILE_SIZE):
            if 0 <= sy[r] < h and 0 <= sx[c] < w:
                tile[r, c] = px[sy[r], sx[c]]
    return tile


WORKLOADS = {w.name: w for w in (PointsJoin, ImagePairs)}
