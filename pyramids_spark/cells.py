"""Hierarchical cell index + deterministic hash geometry.

The engine's spatial discretization is an XYZ/quadkey-style grid (the same
scheme as the reference's web-tile math, ``/root/reference/src/pyramids/
basemap/tiles.py:35-77``, and its hilbert/morton ``spatial_shuffle``,
``feature/_lazy_collection.py:447-500``): at zoom ``z`` the world is a
``2^z × 2^z`` grid; ``cell_id = (cy << z) | cx``. H3-style API names
(cell/parent/children/ring) are provided on this grid.

Two coordinate spaces:

1. **hash space** — synthetic geometry derived from an integer key by pure
   int64 arithmetic (``h1``/``h2`` below). Everything here is bit-exact and
   expressible in ANSI SQL, so DuckDB oracles reproduce cell assignments
   exactly. Division by 2^32 is a power-of-two scale → float-exact too.
2. **geo space** — lon/lat doubles for real geometry math (PIP, kNN,
   polygon cover) inside vectorized numpy kernels.

Everything ships in three forms where relevant: PySpark ``Column``
expressions (JVM-side, whole-stage-codegen), SQL strings (for the DuckDB
oracle — generated from the SAME constants so they cannot drift), and numpy
kernels (for pandas-UDF bodies and pytest oracles).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Portable integer hash → synthetic geometry (hash space)
# ---------------------------------------------------------------------------

# Knuth / xxhash-prime multiplicative constants; all arithmetic stays within
# int64 for keys < ~4e9 (testdata keys are ≪ that).
_HASH_MOD = 2**32
_H1_MUL, _H1_ADD = 2654435761, 1013904223
_H2_MUL, _H2_ADD = 2246822519, 3266489917

LON_MIN, LON_SPAN = -180.0, 360.0
LAT_MIN, LAT_SPAN = -85.0, 170.0


def mulmod32_col(key: Column, mul: int, add: int) -> Column:
    """(key*mul + add) mod 2^32 without int64 overflow (Spark 4 ANSI mode
    throws on overflow): reduce key mod 2^32, split into 16-bit halves —
    (a·2^16·C) mod 2^32 = ((a·C) mod 2^16)·2^16 — so every intermediate
    stays < 2^48. Bit-identical to the wrapping uint64 arithmetic of the
    numpy twins for ALL key magnitudes (10^12-doc ids included)."""
    kl = key % F.lit(_HASH_MOD)
    a = F.shiftright(kl, 16)
    b = kl.bitwiseAND(F.lit(0xFFFF))
    r = (a * F.lit(mul)) % F.lit(1 << 16)
    return (F.shiftleft(r, 16) + b * F.lit(mul) + F.lit(add)) % F.lit(_HASH_MOD)


def h1_col(key: Column) -> Column:
    return mulmod32_col(key, _H1_MUL, _H1_ADD)


def h2_col(key: Column) -> Column:
    return mulmod32_col(key, _H2_MUL, _H2_ADD)


def h1_sql(key: str) -> str:
    return f"(({key}) * {_H1_MUL} + {_H1_ADD}) % {_HASH_MOD}"


def h2_sql(key: str) -> str:
    return f"(({key}) * {_H2_MUL} + {_H2_ADD}) % {_HASH_MOD}"


def mulmod32_sql(key: str, mul: int, add: int) -> str:
    """Overflow-safe SQL twin of :func:`mulmod32_col` (same 16-bit-halves
    split, every intermediate < 2^48): ``h1_sql``/``h2_sql`` overflow INT64
    once the key exceeds ~3.4e9 (key·mul > 2^63), so synthetic keys built
    from large products (e.g. zone_id·1000003) need this form."""
    kl = f"(({key}) % {_HASH_MOD})"
    a = f"({kl} // 65536)"
    b = f"({kl} % 65536)"
    r = f"(({a} * {mul}) % 65536)"
    return f"(({r} * 65536 + {b} * {mul} + {add}) % {_HASH_MOD})"


def h1_sql_big(key: str) -> str:
    return mulmod32_sql(key, _H1_MUL, _H1_ADD)


def h2_sql_big(key: str) -> str:
    return mulmod32_sql(key, _H2_MUL, _H2_ADD)


def h1_np(key: np.ndarray) -> np.ndarray:
    k = key.astype(np.uint64)
    return ((k * np.uint64(_H1_MUL) + np.uint64(_H1_ADD)) % np.uint64(_HASH_MOD)).astype(np.int64)


def h2_np(key: np.ndarray) -> np.ndarray:
    k = key.astype(np.uint64)
    return ((k * np.uint64(_H2_MUL) + np.uint64(_H2_ADD)) % np.uint64(_HASH_MOD)).astype(np.int64)


def lon_col(h1: Column) -> Column:
    return F.lit(LON_MIN) + F.lit(LON_SPAN) * (h1 / F.lit(float(_HASH_MOD)))


def lat_col(h2: Column) -> Column:
    return F.lit(LAT_MIN) + F.lit(LAT_SPAN) * (h2 / F.lit(float(_HASH_MOD)))


def lon_sql(h1: str) -> str:
    return f"(-180.0 + 360.0 * (({h1}) / 4294967296.0))"


def lat_sql(h2: str) -> str:
    return f"(-85.0 + 170.0 * (({h2}) / 4294967296.0))"


def lon_np(h1: np.ndarray) -> np.ndarray:
    return LON_MIN + LON_SPAN * (h1.astype(np.float64) / float(_HASH_MOD))


def lat_np(h2: np.ndarray) -> np.ndarray:
    return LAT_MIN + LAT_SPAN * (h2.astype(np.float64) / float(_HASH_MOD))


# ---------------------------------------------------------------------------
# Hash-space cells (bit-exact, SQL-portable): cx = h1 >> (32-z)
# ---------------------------------------------------------------------------


def cell_xy_col(h1: Column, h2: Column, zoom: int) -> tuple[Column, Column]:
    return F.shiftright(h1, 32 - zoom), F.shiftright(h2, 32 - zoom)


def cell_id_col(cx: Column, cy: Column, zoom: int) -> Column:
    return F.shiftleft(cy, zoom) + cx


def cell_xy_sql(h1: str, h2: str, zoom: int) -> tuple[str, str]:
    return f"(({h1}) >> {32 - zoom})", f"(({h2}) >> {32 - zoom})"


def cell_id_sql(cx: str, cy: str, zoom: int) -> str:
    return f"((({cy}) << {zoom}) + ({cx}))"


# ---------------------------------------------------------------------------
# Geo-space cells (lon/lat doubles → grid) for engine-internal pruning
# ---------------------------------------------------------------------------


def geo_cell_np(lon: np.ndarray, lat: np.ndarray, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """(cx, cy) of the cell containing each point at ``zoom``.

    Row 0 is the NORTH edge (lat=+90), matching XYZ tile convention
    (reference ``basemap/tiles.py`` / mercantile orientation).
    """
    n = 1 << zoom
    cx = np.floor((lon - LON_MIN) / LON_SPAN * n).astype(np.int64)
    cy = np.floor((90.0 - lat) / 180.0 * n).astype(np.int64)
    return np.clip(cx, 0, n - 1), np.clip(cy, 0, n - 1)


def geo_cell_col(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    n = 1 << zoom
    cx = F.floor((lon - F.lit(LON_MIN)) / F.lit(LON_SPAN) * F.lit(n)).cast("long")
    cy = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(n)).cast("long")
    clamp = lambda c: F.greatest(F.lit(0), F.least(F.lit(n - 1), c))  # noqa: E731
    return clamp(cx), clamp(cy)


def cell_bounds_np(cx: np.ndarray, cy: np.ndarray, zoom: int):
    """(lon_min, lat_min, lon_max, lat_max) of cells in geo space."""
    n = 1 << zoom
    w, h = LON_SPAN / n, 180.0 / n
    lon0 = LON_MIN + cx * w
    lat1 = 90.0 - cy * h  # north edge
    return lon0, lat1 - h, lon0 + w, lat1


def pack(cx, cy, zoom: int):
    return (cy << zoom) + cx


def unpack(cell_id, zoom: int):
    return cell_id & ((1 << zoom) - 1), cell_id >> zoom


def morton_col(cx: Column, cy: Column, zoom: int) -> Column:
    out = F.lit(0).cast("long")
    for i in range(zoom):
        out = out + F.shiftleft(F.shiftright(cx, i).bitwiseAND(F.lit(1)), 2 * i)
        out = out + F.shiftleft(F.shiftright(cy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return out


def morton_sql(cx: str, cy: str, zoom: int) -> str:
    terms = []
    for i in range(zoom):
        terms.append(f"(((({cx}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({cy}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# H3-style hierarchy / neighborhood API on the quad grid
# ---------------------------------------------------------------------------


def parent(cell_id, zoom: int, levels: int = 1):
    """Parent cell id at ``zoom - levels`` (quadtree coarsening ≙ the
    reference's overview pyramid, ``abstract_dataset.py:28 OVERVIEW_LEVELS``)."""
    cx, cy = unpack(cell_id, zoom)
    return pack(cx >> levels, cy >> levels, zoom - levels)


def children(cell_id: int, zoom: int, levels: int = 1) -> np.ndarray:
    cx, cy = unpack(np.asarray([cell_id]), zoom)
    k = 1 << levels
    dx, dy = np.meshgrid(np.arange(k), np.arange(k))
    return pack(
        (cx[0] << levels) + dx.ravel(), (cy[0] << levels) + dy.ravel(), zoom + levels
    )


def ring_offsets(k: int) -> tuple[np.ndarray, np.ndarray]:
    """Chebyshev ring-k offsets (the kNN ring-expansion frontier)."""
    r = np.arange(-k, k + 1)
    dx, dy = np.meshgrid(r, r)
    m = np.maximum(np.abs(dx), np.abs(dy)) == k
    return dx[m], dy[m]


def disk(cell_id: int, zoom: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (H3 grid_disk analogue), clamped."""
    n = 1 << zoom
    cx, cy = unpack(np.asarray([cell_id], dtype=np.int64), zoom)
    r = np.arange(-k, k + 1)
    dx, dy = np.meshgrid(r, r)
    xs, ys = cx[0] + dx.ravel(), cy[0] + dy.ravel()
    m = (xs >= 0) & (xs < n) & (ys >= 0) & (ys < n)
    return pack(xs[m], ys[m], zoom)


# ---------------------------------------------------------------------------
# Geometry kernels (pure numpy, used inside pandas UDFs and test oracles)
# ---------------------------------------------------------------------------


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast point-in-polygon, vectorized over points.

    Semantics match the reference's shapely ``predicate="within"`` usage
    (``netcdf/ugrid/spatial.py:195-224``) for points not exactly on an edge
    (synthetic hash points never are). ``poly`` is (V, 2), open or closed.
    """
    if np.allclose(poly[0], poly[-1]):
        poly = poly[:-1]
    x0, y0 = poly[:, 0], poly[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    inside = np.zeros(px.shape[0], dtype=bool)
    # bbox prefilter (the reference's prepared-geometry bbox shortcut)
    bb = (
        (px >= x0.min()) & (px <= x0.max()) & (py >= y0.min()) & (py <= y0.max())
    )
    if not bb.any():
        return inside
    pxb, pyb = px[bb], py[bb]
    acc = np.zeros(pxb.shape[0], dtype=bool)
    for j in range(x0.shape[0]):  # loop over edges (few), vectorized over points
        xa, ya, xb_, yb_ = x0[j], y0[j], x1[j], y1[j]
        cond = (ya > pyb) != (yb_ > pyb)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa + (pyb - ya) * (xb_ - xa) / (yb_ - ya)
        acc ^= cond & (pxb < xint)
    inside[bb] = acc
    return inside


def _segment_intersects_rect(
    ax, ay, bx, by, rx0, ry0, rx1, ry1
) -> np.ndarray:
    """Liang-Barsky: does segment (a,b) intersect axis-aligned rect? Vectorized
    over broadcasted inputs."""
    dx, dy = bx - ax, by - ay
    t0 = np.zeros(np.broadcast(ax, rx0).shape)
    t1 = np.ones_like(t0)
    ok = np.ones_like(t0, dtype=bool)
    for p, q in (
        (-dx, ax - rx0),
        (dx, rx1 - ax),
        (-dy, ay - ry0),
        (dy, ry1 - ay),
    ):
        p = np.broadcast_to(p, t0.shape)
        q = np.broadcast_to(q, t0.shape)
        par = p == 0
        ok &= ~(par & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(par, 0.0, q / np.where(p == 0, 1.0, p))
        t0 = np.where(~par & (p < 0), np.maximum(t0, r), t0)
        t1 = np.where(~par & (p > 0), np.minimum(t1, r), t1)
    return ok & (t0 <= t1)


def expand_ranges(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(owner, value) for every integer of each inclusive range ``[lo, hi]``
    (empty when ``hi < lo``), owners ascending, values ascending per owner."""
    n = np.maximum(hi - lo + 1, 0)
    own = np.repeat(np.arange(len(n)), n)
    return own, lo[own] + np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n)


def ring_batches(xs_l: list, ys_l: list):
    """Yield ``(sel, X, Y)``: ring indices ``sel`` and their ``(len(sel), V)``
    vertex arrays. Rings are bucketed by padded length (next power of two,
    at least 4) so one 10^5-vertex coastline doesn't pad every quad in the
    batch to its width; pad = repeat the last vertex (a zero-length edge:
    no crossing, no extra cell). Empty rings are skipped."""
    lens = np.fromiter((len(a) for a in xs_l), np.int64, len(xs_l))
    buckets = np.maximum(4, 1 << np.ceil(np.log2(np.maximum(lens, 1))).astype(np.int64))
    buckets[lens == 0] = 0
    for V in np.unique(buckets[buckets > 0]):
        sel = np.flatnonzero(buckets == V)
        X = np.empty((len(sel), V), dtype=np.float64)
        Y = np.empty((len(sel), V), dtype=np.float64)
        for i, r in enumerate(sel):
            lv = lens[r]
            X[i, :lv], Y[i, :lv] = xs_l[r], ys_l[r]
            X[i, lv:], Y[i, lv:] = xs_l[r][lv - 1], ys_l[r][lv - 1]
        yield sel, X, Y


def _ray_cast_rows(px: np.ndarray, py: np.ndarray, X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast where EVERY point has its own ring: px/py (T,),
    X/Y (T, V) padded ring vertices. Same arithmetic as
    :func:`points_in_polygon`, vectorized over the (point, ring) pairs."""
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


def _row_pairs(box, yi: np.ndarray):
    """Every (part, row) pair of the parts' boxes, ordered by part then row:
    (part, row, position of the row on the axis ``yi``)."""
    c0, c1, r0, r1 = box
    part, row = expand_ranges(r0, np.where(c1 >= c0, r1, r0 - 1))
    return part, row, np.searchsorted(yi, row)


def _scan(X, Y, box, xi, xm, ym, pairs):
    """Centre-line scan of every (part, row) pair: the even-odd crossings of
    the row's centre line, sorted, pair up into ``[x_2i, x_2i+1)``
    intervals; a centre is inside iff it lies in one (the same
    ``xint = xa + (py - ya)(xb - xa)/(yb - ya)`` values and the same
    comparison as :func:`points_in_polygon`, so the answer is identical).
    Returns (pair index, first, stop) column positions on ``xi``."""
    part, _, rpos = pairs
    py = ym[rpos]
    Xp, Yp = X[part], Y[part]
    V = X.shape[1]
    xint = np.full((len(part), V + V % 2), np.inf)
    for j in range(V):
        xa, ya = Xp[:, j], Yp[:, j]
        xb, yb = Xp[:, (j + 1) % V], Yp[:, (j + 1) % V]
        cond = (ya > py) != (yb > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint[cond, j] = (xa + (py - ya) * (xb - xa) / (yb - ya))[cond]
    xint.sort(axis=1)
    # a closed ring crosses every line an even number of times
    k, i = np.nonzero(np.isfinite(xint[:, 1::2]))
    lo = np.maximum(np.searchsorted(xm, xint[k, 2 * i]),
                    np.searchsorted(xi, box[0])[part[k]])
    hi = np.minimum(np.searchsorted(xm, xint[k, 2 * i + 1]),
                    np.searchsorted(xi, box[1], "right")[part[k]])
    ok = lo < hi
    return k[ok], lo[ok], hi[ok]


def polygon_runs(X: np.ndarray, Y: np.ndarray, box, xaxis, yaxis):
    """THE polygon → cells kernel, as centre-inside row runs.

    ``X``/``Y`` are (P, V) ring vertices, each ring padded by repeating its
    last vertex (open or closed rings both work). ``box`` = ``(c0, c1, r0,
    r1)``: per-part inclusive column/row index ranges, clamped to the grid
    by the caller. ``xaxis``/``yaxis`` = ``(idx, mid)``: ascending column/row
    indices covering every box and each cell's centre coordinate along the
    axis, computed with the caller's own grid arithmetic — so the kept
    cells are exactly the cells whose centre the even-odd ray-cast puts
    inside. Vectorized over all (part, row) pairs; the only Python loop
    runs over the V ring vertices. Work is O(pairs × V), not O(area).

    Returns ``(part, row, c_first, c_last)``: disjoint inclusive runs, in
    (part, row, column) order.
    """
    pairs = _row_pairs(box, yaxis[0])
    k, lo, hi = _scan(X, Y, box, xaxis[0], xaxis[1], yaxis[1], pairs)
    return pairs[0][k], pairs[1][k], xaxis[0][lo], xaxis[0][hi - 1]


def polygon_cells(X: np.ndarray, Y: np.ndarray, box, xaxis, yaxis, mode: str = "center"):
    """Covering cells of each part with a boundary flag, from the row runs
    of :func:`polygon_runs`. Axes here are ``(idx, lo, hi, mid)``: the
    cells' lower and upper edges and centre along the axis (for rows,
    ``lo`` is the south edge).

    ``boundary=False`` cells lie fully inside the part (all 4 corners in,
    no edge crossing). ``mode='center'`` keeps centre-inside cells;
    ``mode='intersects'`` adds cells holding a vertex (half-open) or
    crossed by an edge (closed cell, Liang-Barsky). Only cells within one
    cell of an edge can be a boundary cell or an intersects-only cell: per
    (part, row), the candidates are the columns each edge spans inside the
    row's band widened by one row, plus one column on each side, and the
    exact per-cell predicates decide them. Every other run cell is
    interior.

    Returns ``(part, row, col, boundary)`` in (part, row, col) order.
    """
    xi, xlo, xhi, xm = xaxis
    yi, ylo, yhi, ym = yaxis
    pairs = _row_pairs(box, yi)
    part, _, rpos = pairs
    rk, rlo, rhi = _scan(X, Y, box, xi, xm, ym, pairs)
    ncol = len(xi)
    own, cpos = expand_ranges(rlo, rhi - 1)
    run_key = rk[own] * ncol + cpos
    # candidates: each edge's x-extent inside the widened row band
    V = X.shape[1]
    nxt = list(range(1, V)) + [0]
    Xa, Ya = X[part], Y[part]
    Xb, Yb = Xa[:, nxt], Ya[:, nxt]
    h = (yhi - ylo)[rpos][:, None]
    b0, b1 = ylo[rpos][:, None] - h, yhi[rpos][:, None] + h
    ymin, ymax = np.minimum(Ya, Yb), np.maximum(Ya, Yb)
    with np.errstate(divide="ignore", invalid="ignore"):
        s = (Xb - Xa) / (Yb - Ya)
        flat = Ya == Yb
        xs0 = np.where(flat, Xa, Xa + (np.clip(b0, ymin, ymax) - Ya) * s)
        xs1 = np.where(flat, Xb, Xa + (np.clip(b1, ymin, ymax) - Ya) * s)
    k, j = np.nonzero((ymax >= b0) & (ymin <= b1))
    a = np.maximum(np.searchsorted(xhi, np.minimum(xs0, xs1)[k, j]) - 1,
                   np.searchsorted(xi, box[0])[part[k]])
    b = np.minimum(np.searchsorted(xlo, np.maximum(xs0, xs1)[k, j], "right") + 1,
                   np.searchsorted(xi, box[1], "right")[part[k]])
    own, cpos = expand_ranges(a, b - 1)
    cand_key = np.unique(k[own] * ncol + cpos)
    ck, cpos = cand_key // ncol, cand_key % ncol
    # exact per-cell predicates on the candidates
    Xc, Yc = X[part[ck]], Y[part[ck]]
    bx0, bx1, by0, by1 = xlo[cpos], xhi[cpos], ylo[rpos[ck]], yhi[rpos[ck]]
    center_in = _ray_cast_rows(xm[cpos], ym[rpos[ck]], Xc, Yc)
    interior = center_in.copy()
    for qx, qy in ((bx0, by0), (bx0, by1), (bx1, by0), (bx1, by1)):
        interior &= _ray_cast_rows(qx, qy, Xc, Yc)
    crossed = _segment_intersects_rect(
        Xc, Yc, Xc[:, nxt], Yc[:, nxt],
        bx0[:, None], by0[:, None], bx1[:, None], by1[:, None],
    ).any(axis=1)
    interior &= ~crossed
    keep = center_in
    if mode == "intersects":
        vert_in = (
            (bx0[:, None] <= Xc) & (Xc < bx1[:, None])
            & (by0[:, None] <= Yc) & (Yc < by1[:, None])
        ).any(axis=1)
        keep = center_in | vert_in | crossed
    inner = ~np.isin(run_key, cand_key, assume_unique=True)
    key = np.concatenate([run_key[inner], cand_key[keep]])
    boundary = np.concatenate([np.zeros(int(inner.sum()), dtype=bool), ~interior[keep]])
    order = np.argsort(key, kind="stable")
    key, boundary = key[order], boundary[order]
    pk = key // ncol
    return part[pk], yi[rpos[pk]], xi[key % ncol], boundary


def polygon_cover(X: np.ndarray, Y: np.ndarray, zoom: int, mode: str = "center"):
    """:func:`polygon_cells` on the geo grid at ``zoom``: a padded ring batch
    → ``(part, cell_id, boundary)`` in (part, cell_id) order. Box and cell
    bounds use :func:`geo_cell_np`'s floor rule and :func:`cell_bounds_np`;
    the axes hold only the rows and columns some box touches."""
    c0, r0 = geo_cell_np(X.min(axis=1), Y.max(axis=1), zoom)
    c1, r1 = geo_cell_np(X.max(axis=1), Y.min(axis=1), zoom)
    xi = np.unique(expand_ranges(c0, c1)[1])
    yi = np.unique(expand_ranges(r0, r1)[1])
    x0, _, x1, _ = cell_bounds_np(xi, 0, zoom)
    _, y0, _, y1 = cell_bounds_np(0, yi, zoom)
    part, row, col, boundary = polygon_cells(
        X, Y, (c0, c1, r0, r1),
        (xi, x0, x1, (x0 + x1) / 2.0), (yi, y0, y1, (y0 + y1) / 2.0), mode,
    )
    return part, pack(col, row, zoom), boundary


def cells_covering_polygon(
    poly: np.ndarray, zoom: int, mode: str = "center"
) -> np.ndarray:
    """Cell ids whose cells are covered by ``poly`` (geo space), ascending.

    ``mode='center'``  ≙ reference zonal rasterize ``ALL_TOUCHED=FALSE``
    (``_zonal.py:98-103``): cell CENTRE inside polygon.
    ``mode='intersects'`` ≙ ``allTouched=True`` burn / crop ``touch=True``
    (``dataset/dataset.py:959-1003``, ``ops/spatial.py:888-1000``): any
    overlap counts — cell centre inside, OR a polygon vertex inside the cell,
    OR a polygon edge crossing the cell. A one-part :func:`polygon_cover`.
    """
    p = np.asarray(poly, dtype=np.float64)
    return polygon_cover(p[None, :, 0], p[None, :, 1], zoom, mode)[1]
