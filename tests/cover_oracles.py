"""Per-cell polygon → cells references, kept as test oracles.

The engine turns polygons into cells with one row-run scanline
(``cells.polygon_runs`` / ``cells.polygon_cells``). The per-cell code it
replaced tests every cell of each polygon's bbox against every edge; it is
kept here unchanged so tests can compare the kernel with it:

- ``cells_covering_polygon``: the bbox meshgrid cover of one polygon;
- ``_part_cover_np``: one part's cover with boundary flags;
- ``_pip_multi`` / ``_parts_cover_batch``: the batched per-cell cover;
- ``zone_label_cells``: the driver meshgrid zone labels, first zone wins;
- ``crop_inside``: ``crop_polygon``'s two former inside tests (strict
  half-plane for ccw-convex rings, ray-cast for the rest).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyramids_spark import cells
from pyramids_spark.cells import (
    LON_MIN,
    LON_SPAN,
    _segment_intersects_rect,
    cell_bounds_np,
    pack,
    points_in_polygon,
)
from pyramids_spark.grid import Grid


def cells_covering_polygon(
    poly: np.ndarray, zoom: int, mode: str = "center"
) -> np.ndarray:
    """Cell ids whose cells are covered by ``poly`` (geo space).

    ``mode='center'``  ≙ reference zonal rasterize ``ALL_TOUCHED=FALSE``
    (``_zonal.py:98-103``): cell CENTRE inside polygon.
    ``mode='intersects'`` ≙ ``allTouched=True`` burn / crop ``touch=True``
    (``dataset/dataset.py:959-1003``, ``ops/spatial.py:888-1000``): any
    overlap counts — cell centre inside, OR a polygon vertex inside the cell,
    OR a polygon edge crossing the cell.
    """
    n = 1 << zoom
    if np.allclose(poly[0], poly[-1]):
        poly = poly[:-1]
    lon0, lon1 = poly[:, 0].min(), poly[:, 0].max()
    lat0, lat1 = poly[:, 1].min(), poly[:, 1].max()
    cx0 = max(0, int(np.floor((lon0 - LON_MIN) / LON_SPAN * n)))
    cx1 = min(n - 1, int(np.floor((lon1 - LON_MIN) / LON_SPAN * n)))
    cy0 = max(0, int(np.floor((90.0 - lat1) / 180.0 * n)))
    cy1 = min(n - 1, int(np.floor((90.0 - lat0) / 180.0 * n)))
    gx, gy = np.meshgrid(np.arange(cx0, cx1 + 1), np.arange(cy0, cy1 + 1))
    gx, gy = gx.ravel().astype(np.int64), gy.ravel().astype(np.int64)
    bx0, by0, bx1, by1 = cell_bounds_np(gx, gy, zoom)
    ccx, ccy = (bx0 + bx1) / 2.0, (by0 + by1) / 2.0
    center_in = points_in_polygon(ccx, ccy, poly)
    if mode == "center":
        return pack(gx[center_in], gy[center_in], zoom)
    # intersects: add vertex-in-cell and edge-crossing tests
    vx, vy = poly[:, 0], poly[:, 1]
    vert_in = (
        (bx0[:, None] <= vx[None, :])
        & (vx[None, :] < bx1[:, None])
        & (by0[:, None] <= vy[None, :])
        & (vy[None, :] < by1[:, None])
    ).any(axis=1)
    ex0, ey0 = vx, vy
    ex1, ey1 = np.roll(vx, -1), np.roll(vy, -1)
    edge_x = _segment_intersects_rect(
        ex0[None, :], ey0[None, :], ex1[None, :], ey1[None, :],
        bx0[:, None], by0[:, None], bx1[:, None], by1[:, None],
    ).any(axis=1)
    keep = center_in | vert_in | edge_x
    return pack(gx[keep], gy[keep], zoom)


def _part_cover_np(poly: np.ndarray, zoom: int, mode: str) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of ONE polygon part → (cell_ids, boundary_mask) — the
    per-part reference the batched kernel (:func:`_parts_cover_batch`) is
    tested against. ``boundary=False`` cells are fully inside (all 4
    corners in, no edge crossing)."""
    cover = cells_covering_polygon(
        poly, zoom, mode="intersects" if mode == "intersects" else "center"
    )
    if cover.size == 0:
        return cover, np.zeros(0, dtype=bool)
    cx, cy = cells.unpack(cover, zoom)
    x0, y0, x1, y1 = cells.cell_bounds_np(cx, cy, zoom)
    interior = np.ones(cover.shape[0], dtype=bool)
    for qx, qy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1)):
        interior &= cells.points_in_polygon(qx, qy, poly)
    # an edge crossing makes a cell non-interior even if corners are in
    p = poly[:-1] if np.allclose(poly[0], poly[-1]) else poly
    ex0, ey0 = p[:, 0], p[:, 1]
    ex1, ey1 = np.roll(ex0, -1), np.roll(ey0, -1)
    crossed = cells._segment_intersects_rect(
        ex0[None, :], ey0[None, :], ex1[None, :], ey1[None, :],
        x0[:, None], y0[:, None], x1[:, None], y1[:, None],
    ).any(axis=1)
    interior &= ~crossed
    return cover, ~interior


def _pip_multi(px: np.ndarray, py: np.ndarray, X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast where EVERY row has its own polygon: px/py (T,),
    X/Y (T, V) ring vertices (closed or open; padded rows repeat the last
    vertex — a zero-length edge contributes nothing to the crossing count).
    Same arithmetic as :func:`cells.points_in_polygon`, vectorized over the
    (row, polygon) pairs instead of one polygon."""
    acc = np.zeros(px.shape[0], dtype=bool)
    V = X.shape[1]
    for j in range(V):
        xa, ya = X[:, j], Y[:, j]
        xb, yb = X[:, (j + 1) % V], Y[:, (j + 1) % V]
        cond = (ya > py) != (yb > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa + (py - ya) * (xb - xa) / (yb - ya)
        acc ^= cond & (px < xint)
    return acc


def _parts_cover_batch(X: np.ndarray, Y: np.ndarray, zoom: int, mode: str):
    """Cover of a BATCH of polygon parts at once: X/Y are (P, V) padded ring
    arrays (pad = repeat last vertex). Returns (part_row, cell_id,
    boundary) int/bool arrays. Semantics identical to
    :func:`_part_cover_np` per part, but every loop here is over the V ring
    vertices (small), vectorized over all part×cell pairs — ~50× the
    per-part-Python-call path, which is what makes a 10^7-face cover a
    numpy job instead of 10^7 interpreter round-trips."""
    n = 1 << zoom
    P, V = X.shape
    lon0, lon1 = X.min(axis=1), X.max(axis=1)
    lat0, lat1 = Y.min(axis=1), Y.max(axis=1)
    cx0 = np.clip(np.floor((lon0 - cells.LON_MIN) / cells.LON_SPAN * n).astype(np.int64), 0, n - 1)
    cx1 = np.clip(np.floor((lon1 - cells.LON_MIN) / cells.LON_SPAN * n).astype(np.int64), 0, n - 1)
    cy0 = np.clip(np.floor((90.0 - lat1) / 180.0 * n).astype(np.int64), 0, n - 1)
    cy1 = np.clip(np.floor((90.0 - lat0) / 180.0 * n).astype(np.int64), 0, n - 1)
    w = cx1 - cx0 + 1
    counts = w * (cy1 - cy0 + 1)
    offs = np.concatenate([[0], np.cumsum(counts)])
    T = int(offs[-1])
    if T == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, np.zeros(0, dtype=bool)
    part = np.repeat(np.arange(P, dtype=np.int64), counts)
    k = np.arange(T, dtype=np.int64) - offs[part]
    gx = cx0[part] + k % w[part]
    gy = cy0[part] + k // w[part]
    bx0, by0, bx1, by1 = cells.cell_bounds_np(gx, gy, zoom)
    Xp, Yp = X[part], Y[part]
    center_in = _pip_multi((bx0 + bx1) / 2.0, (by0 + by1) / 2.0, Xp, Yp)
    # interior = all 4 corners in AND no edge crossing (→ boundary = ~interior)
    interior = center_in.copy()
    for qx, qy in ((bx0, by0), (bx0, by1), (bx1, by0), (bx1, by1)):
        interior &= _pip_multi(qx, qy, Xp, Yp)
    ex0, ey0 = Xp, Yp
    ex1 = Xp[:, list(range(1, V)) + [0]]
    ey1 = Yp[:, list(range(1, V)) + [0]]
    crossed = cells._segment_intersects_rect(
        ex0, ey0, ex1, ey1,
        bx0[:, None], by0[:, None], bx1[:, None], by1[:, None],
    ).any(axis=1)
    interior &= ~crossed
    if mode == "intersects":
        vert_in = (
            (bx0[:, None] <= Xp) & (Xp < bx1[:, None])
            & (by0[:, None] <= Yp) & (Yp < by1[:, None])
        ).any(axis=1)
        keep = center_in | vert_in | crossed
    else:
        keep = center_in
    return part[keep], cells.pack(gx[keep], gy[keep], zoom), ~interior[keep]



def zone_label_cells(zones: list[dict], grid: Grid) -> pd.DataFrame:
    """Rasterize zone polygons to grid-cell labels, centre-inside, first zone
    wins on overlap (gdal burn order ≙ ascending zone_id; unassigned cells
    absent ≙ label −1)."""
    rows, cols, zids = [], [], []
    for z in zones:
        for poly in z["parts"]:
            p = np.asarray(poly, dtype=np.float64)
            # candidate rows/cols from bbox
            c0 = max(0, int(np.floor((p[:, 0].min() - grid.x0) / grid.cell)))
            c1 = min(grid.cols - 1, int(np.floor((p[:, 0].max() - grid.x0) / grid.cell)))
            r0 = max(0, int(np.floor((grid.y0 - p[:, 1].max()) / grid.cell)))
            r1 = min(grid.rows - 1, int(np.floor((grid.y0 - p[:, 1].min()) / grid.cell)))
            if c1 < c0 or r1 < r0:
                continue
            gc, gr = np.meshgrid(np.arange(c0, c1 + 1), np.arange(r0, r1 + 1))
            gc, gr = gc.ravel(), gr.ravel()
            cx = grid.x0 + gc * grid.cell + grid.cell / 2
            cy = grid.y0 - gr * grid.cell - grid.cell / 2
            m = cells.points_in_polygon(cx, cy, p)
            rows.append(gr[m])
            cols.append(gc[m])
            zids.append(np.full(int(m.sum()), z["zone_id"], dtype=np.int64))
    if not rows:
        return pd.DataFrame({"row": [], "col": [], "zone_id": []})
    df = pd.DataFrame(
        {"row": np.concatenate(rows), "col": np.concatenate(cols),
         "zone_id": np.concatenate(zids)}
    )
    # first zone wins where polygons overlap (stable: lowest zone_id)
    return (
        df.sort_values(["row", "col", "zone_id"])
        .drop_duplicates(["row", "col"])
        .reset_index(drop=True)
    )


def crop_inside(grid: Grid, polygon: np.ndarray) -> np.ndarray:
    """(rows, cols) centre-inside mask by ``crop_polygon``'s former rules:
    the strict half-plane test (a centre on an edge is outside) for
    ccw-convex rings, the even-odd ray-cast for every other ring."""
    from pyramids_spark.operators.pip import _convex_ccw_batch

    p = np.asarray(polygon, dtype=np.float64)
    if np.allclose(p[0], p[-1]):
        p = p[:-1]
    xc = np.tile(grid.x_centers(), grid.rows)
    yc = np.repeat(grid.y_centers(), grid.cols)
    if _convex_ccw_batch(p[None, :, 0], p[None, :, 1], np.array([len(p)]))[0]:
        ins = np.ones(xc.shape, dtype=bool)
        for i in range(len(p)):
            xa, ya = float(p[i][0]), float(p[i][1])
            xb, yb = float(p[(i + 1) % len(p)][0]), float(p[(i + 1) % len(p)][1])
            ins &= ((xb - xa) * (yc - ya) - (yb - ya) * (xc - xa)) > 0
    else:
        ins = cells.points_in_polygon(xc, yc, p)
    return ins.reshape(grid.rows, grid.cols)
