"""Driver-side numpy references for every checked output.

Written independently of the operators under test: the only shared code
is the input generation in ``inputs``."""

from __future__ import annotations

import numpy as np

LON_MIN, LON_SPAN = -180.0, 360.0


def even_odd(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of points against one ring (open or closed)."""
    xa, ya = ring[:, 0], ring[:, 1]
    xb, yb = np.roll(xa, -1), np.roll(ya, -1)
    inside = np.zeros(px.shape[0], dtype=bool)
    for i in range(ring.shape[0]):
        crosses = (ya[i] > py) != (yb[i] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa[i] + (py - ya[i]) * (xb[i] - xa[i]) / (yb[i] - ya[i])
        inside ^= crosses & (px < xint)
    return inside


def geo_cell(x: np.ndarray, y: np.ndarray, zoom: int) -> np.ndarray:
    """Web-style lon/lat cell id at ``zoom``: (cy << zoom) + cx, clamped."""
    n = 1 << zoom
    cx = np.clip(np.floor((x - LON_MIN) / LON_SPAN * n).astype(np.int64), 0, n - 1)
    cy = np.clip(np.floor((90.0 - y) / 180.0 * n).astype(np.int64), 0, n - 1)
    return (cy << zoom) + cx


def zone_rollup(x: np.ndarray, y: np.ndarray, zones: list[dict], tile_zoom: int) -> dict:
    """{zone_id: (docs inside, distinct tiles they fall in)}; zones with no
    docs are absent, as from a group-by."""
    out = {}
    for z in zones:
        inside = np.zeros(x.shape[0], dtype=bool)
        for part in z["parts"]:
            inside |= even_odd(x, y, np.asarray(part, dtype=np.float64))
        n = int(inside.sum())
        if n:
            out[int(z["zone_id"])] = (n, int(np.unique(geo_cell(x[inside], y[inside], tile_zoom)).size))
    return out


def knn(keys: np.ndarray, x: np.ndarray, y: np.ndarray, queries, k: int) -> dict:
    """{(query_id, rank): key} by brute force, ties by key."""
    out = {}
    for qid, qx, qy in queries:
        d2 = (qx - x) ** 2 + (qy - y) ** 2
        near = np.flatnonzero(d2 <= np.partition(d2, k - 1)[k - 1])
        order = near[np.lexsort((keys[near], d2[near]))][:k]
        for rank, i in enumerate(order, start=1):
            out[(int(qid), rank)] = int(keys[i])
    return out


def face_pairs(keys, x, y, zone_ids, xs, ys) -> tuple[np.ndarray, np.ndarray]:
    """Every (point key, face id) with the point inside the face, by an
    exact bounding-box prefilter over all faces and an even-odd test."""
    order = np.argsort(x, kind="stable")
    sx = x[order]
    pk, pz = [], []
    for zid, fx, fy in zip(zone_ids, xs, ys):
        fx, fy = np.asarray(fx, dtype=np.float64), np.asarray(fy, dtype=np.float64)
        lo, hi = np.searchsorted(sx, fx.min(), "left"), np.searchsorted(sx, fx.max(), "right")
        idx = order[lo:hi]
        idx = idx[(y[idx] >= fy.min()) & (y[idx] <= fy.max())]
        hit = idx[even_odd(x[idx], y[idx], np.stack([fx, fy], axis=1))]
        pk.append(keys[hit])
        pz.append(np.full(hit.shape[0], int(zid), dtype=np.int64))
    return np.concatenate(pk), np.concatenate(pz)


def pair_digest(keys: np.ndarray, zone_ids: np.ndarray) -> tuple[int, int, int]:
    """(count, sum of face ids, sum of (key mod p)·(face id + 1)): the
    aggregate the pip_faces op computes in Spark."""
    return (
        int(keys.shape[0]),
        int(zone_ids.sum()),
        int(((keys % 1_000_003) * (zone_ids + 1)).sum()),
    )


def focal_mean(values: np.ndarray, r: int) -> np.ndarray:
    """(2r+1)² mean with symmetric reflection at the grid edge."""
    k = 2 * r + 1
    p = np.pad(values, r, mode="symmetric")
    c = np.zeros((p.shape[0] + 1, p.shape[1] + 1))
    c[1:, 1:] = p.cumsum(0).cumsum(1)
    s = c[k:, k:] - c[:-k, k:] - c[k:, :-k] + c[:-k, :-k]
    return s / (k * k)


def components8(mask: np.ndarray) -> np.ndarray:
    """8-connected component label per cell of ``mask`` = smallest
    row-major cell index in its component (-1 off the mask): hook the
    larger root under the smaller across every edge, then pointer-jump,
    until no edge joins two roots."""
    rows, cols = mask.shape
    idx = np.arange(rows * cols, dtype=np.int64).reshape(rows, cols)
    a_parts, b_parts = [], []
    for dr, dc in ((0, 1), (1, 0), (1, 1), (1, -1)):
        c0, c1 = max(0, -dc), cols - max(0, dc)
        a = idx[: rows - dr, c0:c1].ravel()
        b = idx[dr:, c0 + dc : c1 + dc].ravel()
        on = mask.ravel()[a] & mask.ravel()[b]
        a_parts.append(a[on])
        b_parts.append(b[on])
    a, b = np.concatenate(a_parts), np.concatenate(b_parts)
    parent = idx.ravel().copy()
    while True:
        pa, pb = parent[a], parent[b]
        split = pa != pb
        if not split.any():
            break
        np.minimum.at(parent, np.maximum(pa[split], pb[split]), np.minimum(pa[split], pb[split]))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return np.where(mask.ravel(), parent, -1).reshape(rows, cols)


def wkt_polygons(wkts) -> list[list[np.ndarray]]:
    """Parse ``POLYGON ((x y, ...), (...))`` strings into ring arrays."""
    out = []
    for w in wkts:
        body = w[w.index("((") + 2 : w.rindex("))")]
        out.append(
            [np.array(r.replace(",", " ").split(), dtype=np.float64).reshape(-1, 2) for r in body.split("), (")]
        )
    return out


def ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)))


def polygon_area(rings: list[np.ndarray]) -> float:
    """Exterior area minus hole areas; the exterior is the largest ring."""
    areas = sorted((ring_area(r) for r in rings), reverse=True)
    return areas[0] - sum(areas[1:])
