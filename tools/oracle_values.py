"""Independent expected-output computation for the non-SQL-expressible
driver queries (round-3 verdict #3: oracle the rows-only rows).

Each function recomputes a query's expected result with a FRESH numpy
implementation — no imports from ``geowave_spark`` — reading the same
parquet inputs (or regenerating the same deterministic synthetic media).
``__spark_entry__.oracle_sql`` embeds the rows as a DuckDB ``VALUES``
relation, so the driver's value-hash gate compares the Spark pipeline
against this second implementation, exactly like the generated-SQL
Hilbert/S2 state machines mirror the numpy SFCs.

Pinned to the driver's sf0.01 compare (TESTDATA.md); sizes that depend on
the scale directory mirror ``__spark_entry__``'s "0.1 in sf_dir" rule.

Rounding: Spark's ``round()`` on DoubleType goes through
``BigDecimal.valueOf`` (shortest decimal string, HALF_UP); ``_round6``
reproduces that exactly.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

MERSENNE = (1 << 61) - 1


def _round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _docs(sf_dir: str):
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _shingles(text: str, n: int) -> np.ndarray:
    """Character n-gram hashes — same public spec as the engine
    (polynomial over utf-8 bytes with FNV prime powers, FNV-1a fallback
    for short texts), written independently."""
    b = np.frombuffer((text or "").encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) < n:
        h = np.uint64(1469598103934665603)
        for v in b.tolist():
            h = (h ^ np.uint64(v)) * np.uint64(1099511628211)
        return np.array([h], dtype=np.uint64)
    prime = np.uint64(1099511628211)
    acc = np.zeros(len(b) - n + 1, dtype=np.uint64)
    p = np.uint64(1)
    with np.errstate(over="ignore"):  # uint64 wrap is the hash semantics
        for j in range(n):
            acc = acc + b[j : len(b) - n + 1 + j].astype(np.uint64) * p
            p = p * prime
    return np.unique(acc)


def minhash_pair_rows(
    sf_dir: str,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> list[tuple[int, int, float]]:
    """(id_a, id_b, jaccard) pairs the MinHash-LSH pipeline must emit:
    band-slice equality (the engine buckets on xxhash64 of the slice —
    equal up to 2^-64 collisions), estimated-jaccard prefilter at
    threshold/2, exact shingle-set Jaccard ≥ threshold."""
    docs = _docs(sf_dir)
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE, num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, MERSENNE, num_hashes, dtype=np.int64).astype(np.uint64)
    ids = [d[0] for d in docs]
    sh = [_shingles(d[1], shingle_n) for d in docs]
    sigs = np.empty((len(docs), num_hashes), dtype=np.uint64)
    for i, s in enumerate(sh):
        sigs[i] = ((s[:, None] * a[None, :] + b[None, :]) % np.uint64(MERSENNE)).min(axis=0)
    rpb = num_hashes // bands
    cand = set()
    for band in range(bands):
        sl = sigs[:, band * rpb : (band + 1) * rpb]
        # group identical slices
        order = np.lexsort(sl.T[::-1])
        sl_sorted = sl[order]
        new = np.ones(len(order), dtype=bool)
        new[1:] = (sl_sorted[1:] != sl_sorted[:-1]).any(axis=1)
        gid = np.cumsum(new) - 1
        for g in np.unique(gid):
            members = order[gid == g]
            if len(members) > 1:
                for i in range(len(members)):
                    for j in range(i + 1, len(members)):
                        x, y = members[i], members[j]
                        ia, ib = ids[x], ids[y]
                        cand.add((x, y) if ia < ib else (y, x))
    out = []
    for x, y in sorted(cand):
        est = float((sigs[x] == sigs[y]).sum()) / num_hashes
        if est < threshold * 0.5:
            continue
        sa, sb = sh[x], sh[y]
        inter = np.intersect1d(sa, sb, assume_unique=True).size
        denom = sa.size + sb.size - inter
        j = inter / denom if denom else 1.0
        if j >= threshold:
            out.append((ids[x], ids[y], _round6(j)))
    return out


def simhash_pair_rows(
    sf_dir: str, max_hamming: int = 4, shingle_n: int = 2
) -> list[tuple[int, int, int]]:
    """(id_a, id_b, hamming) via 64-bit sign-sum SimHash + pigeonhole
    chunk agreement (chunks = max_hamming+1, width 64 // chunks)."""
    docs = _docs(sf_dir)
    ids = [d[0] for d in docs]
    mul = np.uint64(0x9E3779B97F4A7C15)
    bit_idx = np.arange(64, dtype=np.uint64)
    sigs = np.empty(len(docs), dtype=np.uint64)
    for i, (_, text) in enumerate(docs):
        s = _shingles(text, shingle_n)
        h = (s * mul) ^ (s >> np.uint64(31))
        bits = ((h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
        v = (bits * 2 - 1).sum(axis=0)
        sig = np.uint64(0)
        for pos in np.nonzero(v > 0)[0]:
            sig |= np.uint64(1) << np.uint64(pos)
        sigs[i] = sig
    chunks = max_hamming + 1
    width = 64 // chunks
    mask = np.uint64((1 << width) - 1)
    cand = set()
    for c in range(chunks):
        key = (sigs >> np.uint64(c * width)) & mask
        order = np.argsort(key, kind="stable")
        ks = key[order]
        bounds = np.nonzero(np.diff(ks))[0] + 1
        for grp in np.split(order, bounds):
            if len(grp) > 1:
                for i in range(len(grp)):
                    for j in range(i + 1, len(grp)):
                        x, y = grp[i], grp[j]
                        cand.add((x, y) if ids[x] < ids[y] else (y, x))
    out = []
    for x, y in sorted(cand):
        ham = int(bin(int(sigs[x]) ^ int(sigs[y])).count("1"))
        if ham <= max_hamming:
            out.append((ids[x], ids[y], ham))
    return out


def cosine_pair_rows(
    sf_dir: str,
    threshold: float = 0.4,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> list[tuple[int, int, float]]:
    """(id_a, id_b, sim) of the embeddings table via :func:`cosine_lsh_pairs`."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    # engine casts array<float> to array<double>: float32 → float64
    X = np.array([np.asarray(r[1], dtype=np.float32) for r in rows]).astype(np.float64)
    return cosine_lsh_pairs([r[0] for r in rows], X, threshold, num_planes, bands, seed)


def cosine_lsh_pairs(
    ids: list,
    X: np.ndarray,
    threshold: float,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> list[tuple[int, int, float]]:
    """(id_a, id_b, sim) via random-hyperplane band LSH + exact cosine
    over the float64 rows ``X`` keyed by ``ids``."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, X.shape[1]))
    bits = (X @ planes.T > 0).astype(np.uint64)
    per_band = num_planes // bands
    w = np.uint64(1) << np.arange(per_band - 1, -1, -1, dtype=np.uint64)
    cand = set()
    for bnd in range(bands):
        sig = (bits[:, bnd * per_band : (bnd + 1) * per_band] * w).sum(axis=1)
        order = np.argsort(sig, kind="stable")
        ks = sig[order]
        bounds = np.nonzero(np.diff(ks))[0] + 1
        for grp in np.split(order, bounds):
            if len(grp) > 1:
                for i in range(len(grp)):
                    for j in range(i + 1, len(grp)):
                        x, y = grp[i], grp[j]
                        cand.add((x, y) if ids[x] < ids[y] else (y, x))
    nrm = np.sqrt((X * X).sum(axis=1))
    out = []
    for x, y in sorted(cand):
        sim = float(X[x] @ X[y] / (nrm[x] * nrm[y]))
        if sim >= threshold:
            out.append((ids[x], ids[y], _round6(sim)))
    return out


def audio_rows(n: int, sample_rate: int = 8000) -> list[tuple[str, float, float]]:
    """(audio_id, duration_s, rms) regenerated straight from the synthesis
    spec (sine + seeded noise, PCM16 quantization) — no engine decode."""
    out = []
    for i in range(n):
        if i % 4 == 0:
            continue  # mp3-coded rows are skipped by the feature pass
        ns = 1000 + (i % 7) * 500
        rng = np.random.default_rng(42 + i)
        t = np.arange(ns) / sample_rate
        freq = 100.0 + (i % 40) * 25.0
        wave = 0.5 * np.sin(2 * np.pi * freq * t) + 0.05 * rng.standard_normal(ns)
        pcm = np.clip(wave * 32767, -32768, 32767).astype("<i2")
        x = pcm.astype(np.float32) / 32768.0
        out.append(
            (
                f"aud{i:08d}",
                _round6(float(ns) / float(sample_rate)),
                _round6(float(np.sqrt(np.mean(x * x)))),
            )
        )
    return out


def video_rows(n: int, every_n: int = 2, w: int = 16, h: int = 12) -> list[tuple[str, int, float]]:
    """(video_id, frame_idx, mean_r) regenerated from the synthesis spec."""
    out = []
    for i in range(n):
        if i % 3 == 0:
            continue  # h264-coded rows skipped
        nf = 4 + (i % 5) * 2
        rng = np.random.default_rng(777 + i)
        frames = (rng.integers(0, 256, size=(nf, h, w, 3))).astype(np.uint8)
        frames = (frames * np.linspace(0.2, 1.0, nf)[:, None, None, None]).astype(np.uint8)
        for fi in range(0, nf, every_n):
            m = frames[fi].reshape(-1, 3).mean(axis=0)
            out.append((f"vid{i:08d}", fi, float(Decimal(repr(float(m[0]))).quantize(Decimal("0.0001"), ROUND_HALF_UP))))
    return out


def dbscan_rows(
    sf_dir: str, clon: str, clat: str, eps: float = 8.0, min_pts: int = 3
) -> list[tuple[int, int]]:
    """(cluster, n_points) per DBSCAN cluster — independent numpy
    implementation: core = |N_eps| + 1 ≥ min_pts (closed ball), cluster
    id = min core id of the core-connected component, border points join
    the minimum neighboring cluster."""
    import duckdb

    pts = duckdb.sql(
        f"SELECT c_custkey, {clon} AS lon, {clat} AS lat FROM "
        f"'{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).fetchall()
    ids = np.array([p[0] for p in pts], dtype=np.int64)
    xy = np.array([[p[1], p[2]] for p in pts])
    n = len(ids)
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    adj = (d2 <= eps * eps)
    np.fill_diagonal(adj, False)
    deg = adj.sum(axis=1)
    core = deg + 1 >= min_pts
    label = np.full(n, -1, dtype=np.int64)
    visited = np.zeros(n, dtype=bool)
    # BFS over core-core edges
    for s in range(n):
        if not core[s] or visited[s]:
            continue
        comp = [s]
        visited[s] = True
        stack = [s]
        while stack:
            u = stack.pop()
            for v in np.nonzero(adj[u] & core)[0]:
                if not visited[v]:
                    visited[v] = True
                    comp.append(v)
                    stack.append(v)
        cid = int(min(ids[c] for c in comp))
        for c in comp:
            label[c] = cid
    # border points: min neighboring core's cluster
    out_label = {}
    for i in range(n):
        if core[i]:
            out_label[int(ids[i])] = int(label[i])
        else:
            nb = np.nonzero(adj[i] & core)[0]
            if len(nb):
                out_label[int(ids[i])] = int(min(label[v] for v in nb))
    counts: dict[int, int] = {}
    for _, c in out_label.items():
        counts[c] = counts.get(c, 0) + 1
    return sorted(counts.items())


def kmeans_rows(
    sf_dir: str,
    clon: str,
    clat: str,
    k: int = 8,
    max_iter: int = 50,
    snap: float = 1000.0,
) -> list[tuple[int, int, int, int]]:
    """(cluster, n_points, sum_x, sum_y) per deterministic-Lloyd cluster —
    independent numpy implementation of the pinned algorithm: grid-snap
    to int64, init = k lowest ids, centroid = exact integer sums, dist =
    (x - sx/n)^2 + (y - sy/n)^2 in float64 with first-occurrence argmin
    tie-break, empty clusters keep their centroid, stop at the integer
    fixpoint."""
    import duckdb

    pts = duckdb.sql(
        f"SELECT c_custkey, {clon} AS lon, {clat} AS lat FROM "
        f"'{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).fetchall()
    xi = np.array([int(np.floor(p[1] * snap + 0.5)) for p in pts], dtype=np.int64)
    yi = np.array([int(np.floor(p[2] * snap + 0.5)) for p in pts], dtype=np.int64)
    # rows come back ordered by id, so the k lowest ids are the head
    cents = [(int(xi[i]), int(yi[i]), 1) for i in range(k)]
    xd = xi.astype(np.float64)
    yd = yi.astype(np.float64)
    def _assign(cs):
        d2 = np.empty((len(xi), k), dtype=np.float64)
        for i, (sx, sy, n) in enumerate(cs):
            dx = xd - (float(sx) / float(n))
            dy = yd - (float(sy) / float(n))
            d2[:, i] = dx * dx + dy * dy
        return np.argmin(d2, axis=1)

    for _ in range(max_iter):
        assign = _assign(cents)
        new = list(cents)
        for c in range(k):
            m = assign == c
            cnt = int(m.sum())
            if cnt:
                new[c] = (int(xi[m].sum()), int(yi[m].sum()), cnt)
        if new == cents:
            break
        cents = new
    # the gated output aggregates over the FINAL labeling (one assignment
    # pass with the final centroids — same as the Spark query's groupBy)
    assign = _assign(cents)
    out = []
    for c in range(k):
        m = assign == c
        if m.any():
            out.append((c, int(m.sum()), int(xi[m].sum()), int(yi[m].sum())))
    return out


def h3_rows(sf_dir: str, clon: str, clat: str, res: int = 2) -> list[tuple[int, int]]:
    """(cell, n) per hex bin — independent numpy implementation of the
    engine's pinned aperture-7 icosahedral scheme (geowave_spark/sfc/
    h3hex.py documents the construction as its spec): icosahedron from
    the (0, ±1, ±φ) cyclic permutations, faces ordered by rounded
    (center z, atan2), gnomonic projection onto the nearest face,
    1/√7-scaled grid rotated res·atan(√3/5), pointy-top axial coords,
    cube rounding, (res|face|q|r) packing."""
    import duckdb

    pts = duckdb.sql(
        f"SELECT {clon} AS lon, {clat} AS lat FROM '{sf_dir}/customer.parquet' "
        "ORDER BY c_custkey"
    ).fetchall()
    lon = np.radians(np.array([p[0] for p in pts]))
    lat = np.radians(np.array([p[1] for p in pts]))

    phi_g = (1.0 + np.sqrt(5.0)) / 2.0
    verts = []
    for a, b in ((1.0, phi_g), (-1.0, phi_g), (1.0, -phi_g), (-1.0, -phi_g)):
        verts += [(0.0, a, b), (a, b, 0.0), (b, 0.0, a)]
    verts = np.array(verts)
    verts /= np.linalg.norm(verts, axis=1, keepdims=True)
    d = np.linalg.norm(verts[:, None, :] - verts[None, :, :], axis=2)
    edge = np.min(d[d > 1e-9])
    adj = np.abs(d - edge) < 1e-9
    tris = [
        (i, j, k)
        for i in range(12)
        for j in range(i + 1, 12)
        if adj[i, j]
        for k in range(j + 1, 12)
        if adj[i, k] and adj[j, k]
    ]
    tris = np.array(tris)
    centers = verts[tris].mean(axis=1)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    order = np.lexsort(
        (np.arctan2(centers[:, 1], centers[:, 0]).round(9), centers[:, 2].round(9))
    )
    centers, tris = centers[order], tris[order]
    u = verts[tris[:, 0]] - centers * (verts[tris[:, 0]] * centers).sum(
        axis=1, keepdims=True
    )
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    v = np.cross(centers, u)

    cl = np.cos(lat)
    p = np.stack([np.cos(lon) * cl, np.sin(lon) * cl, np.sin(lat)], axis=1)
    face = np.argmax(p @ centers.T, axis=1)
    c = centers[face]
    q3 = p / (p * c).sum(axis=1)[:, None]
    x = ((q3 - c) * u[face]).sum(axis=1)
    y = ((q3 - c) * v[face]).sum(axis=1)
    size = 0.35 / np.sqrt(7.0) ** res
    ang = res * np.arctan(np.sqrt(3.0) / 5.0)
    ca, sa = np.cos(ang), np.sin(ang)
    xr = x * ca + y * sa
    yr = -x * sa + y * ca
    qa = (np.sqrt(3.0) / 3.0 * xr - yr / 3.0) / size
    ra = (2.0 / 3.0 * yr) / size
    s = -qa - ra
    qi, ri, si = np.rint(qa), np.rint(ra), np.rint(s)
    dq, dr, ds = np.abs(qi - qa), np.abs(ri - ra), np.abs(si - s)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    qi = np.where(fix_q, -ri - si, qi).astype(np.int64)
    ri = np.where(fix_r, -qi - si, ri).astype(np.int64)
    off = np.int64(1 << 26)
    # bit-63 scheme tag (part of the pinned id spec, h3hex.py r4): engine
    # hex ids are negative int64s, disjoint from official h3lib indexes
    cell = (
        np.int64(-(2**63))
        | (np.int64(res) << np.int64(59))
        | (face.astype(np.int64) << np.int64(54))
        | ((qi + off) << np.int64(27))
        | (ri + off)
    )
    vals, counts = np.unique(cell, return_counts=True)
    return sorted((int(a), int(b)) for a, b in zip(vals, counts))


def phash_pair_rows(
    n: int, max_hamming: int = 4
) -> list[tuple[str, str, int, int, int]]:
    """(rep_a, rep_b, hamming, n_a, n_b) near-duplicate signature-class
    pairs over the images synthesis spec (FIXTURES.md F1), via a
    brute-force O(c²) popcount sweep over the c distinct signatures —
    the second implementation for the engine's dedupe → banded
    ``hamming_pairs`` → class-size join pipeline (multi-index pigeonhole
    has recall 1.0, so brute force over the same signatures is the exact
    expected row set).

    The signature is the table's spec ``phash`` column (8×8 block-mean
    luminance vs its median over the raw synthesized pixels), recomputed
    here step-for-step from the written spec — the same float64
    expressions, since a last-ulp difference in a block mean that ties
    the median would flip a bit (measured: 63 of 623k pairs at n=4000
    under a reassociated luminance sum).  The independence of this
    oracle is the pairing pipeline, not the arithmetic."""
    sizes = [16, 32, 64, 256]
    lum_w = np.array([0.299, 0.587, 0.114])
    sigs = np.zeros(n, dtype=np.uint64)
    for i in range(n):
        w = sizes[i % 4]
        h = sizes[(i // 4 + i) % 4]
        yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
        base = xx / max(w - 1, 1) * 96 + yy / max(h - 1, 1) * 96
        k1 = 1 + (i % 7)
        k2 = 1 + (i % 5)
        pat = 48 * np.sin(2 * np.pi * k1 * xx / w) * np.cos(2 * np.pi * k2 * yy / h)
        px = np.stack(
            [
                np.clip(base + pat + (i * 37) % 64, 0, 255),
                np.clip(base + 0.5 * pat + (i * 53) % 64, 0, 255),
                np.clip(255 - base + (i * 71) % 64, 0, 255),
            ],
            axis=-1,
        ).astype(np.uint8)
        g = px.astype(np.float64) @ lum_w
        ys = np.linspace(0, h, 9).astype(int)
        xs = np.linspace(0, w, 9).astype(int)
        blocks = np.array(
            [
                [g[ys[p] : ys[p + 1], xs[q] : xs[q + 1]].mean() for q in range(8)]
                for p in range(8)
            ]
        )
        bits = (blocks > np.median(blocks)).ravel()
        v = 0
        for bit in bits:
            v = (v << 1) | int(bit)
        sigs[i] = np.uint64(v)
    uniq, first, counts = np.unique(sigs, return_index=True, return_counts=True)
    # class representative = smallest image index holding the signature
    # (np.unique's return_index is the first occurrence = the minimum)
    x = uniq[:, None] ^ uniq[None, :]
    ham = np.zeros((len(uniq), len(uniq)), dtype=np.int64)
    for _ in range(64):
        ham += (x & np.uint64(1)).astype(np.int64)
        x >>= np.uint64(1)
    ia, ib = np.nonzero(np.triu(ham <= max_hamming, k=1))
    rows = []
    for a, b in zip(ia.tolist(), ib.tolist()):
        ra, rb = int(first[a]), int(first[b])
        na, nb = int(counts[a]), int(counts[b])
        if rb < ra:
            ra, rb, na, nb = rb, ra, nb, na
        rows.append((f"img{ra:010d}", f"img{rb:010d}", int(ham[a, b]), na, nb))
    return rows


def values_sql(rows: list[tuple], cols: str) -> str:
    """Embed rows as a DuckDB VALUES relation: cols like
    "t(id_a, id_b, jaccard)"."""
    if not rows:
        return f"SELECT * FROM (VALUES (NULL)) {cols} WHERE 1 = 0"

    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES {body}) {cols}"
