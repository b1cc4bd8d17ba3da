"""Cell-pruned point-in-polygon join — the flagship spatial join.

Reference semantics: ``MeshSpatialIndex.locate_faces`` — point × polygon with
predicate ``within`` (pyramids ``netcdf/ugrid/spatial.py:195-224``: STRtree
bulk query). One pipeline serves both front ends — :func:`pip_join` (zone
list, sides built on the driver and broadcast) and :func:`pip_join_df` (zone
DataFrame, sides built distributed):

1. **Cover**: every polygon part → covering cells at a pruning zoom, rows
   ``(zone_id, part_key, cell_id, boundary, convex)``. ``boundary=False``
   cells lie fully inside the part (all 4 corners in, no edge crossing) →
   their candidates need NO exact test. ``convex`` marks ccw-convex parts
   with at most ``_MAX_EDGE_COLS`` real edges. One batched numpy kernel
   (:func:`_cover_parts`) builds it, on the driver or inside ``mapInPandas``.
2. **Encode** (JVM-side): each point row gets ``cell_id`` via pure column
   arithmetic — no UDF, stays in whole-stage codegen.
3. **Join**: ``points ⋈ cover ON cell_id``. A zone list's cover is a
   broadcast side, so the 10^12-row side is never shuffled.
4. **Refine**, one step in two forms. Interior rows and boundary rows of
   convex parts join a per-part table of edge coefficients and keep
   ``~boundary | halfplane`` — K fused multiply-compares in codegen, no
   Python. Boundary rows of every other part join the ring table and run a
   vectorized numpy ray-cast (``cells.points_in_polygon``) in an
   Arrow-batched pandas UDF, grouped by part inside each batch.

Output is the points' columns + ``zone_id``, one row per containing part;
parts of one zone must be disjoint (the standard multi-polygon contract).

Skew: hot cells (dense doc clusters) inflate single tasks. Because the join
is broadcast there is no shuffle to skew; the refinement is per-batch
embarrassingly parallel. For the aggregate-after-join path use
``salt_col()`` + AQE (see operators.zonal).
"""

from __future__ import annotations

import hashlib
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cells

# flat half-plane width: ccw-convex parts with more real edges ray-cast
_MAX_EDGE_COLS = 16

_COVER_SCHEMA = "zone_id long, part_key long, cell_id long, boundary boolean, convex boolean"

_SIDES_CACHE: OrderedDict = OrderedDict()
_SIDES_CACHE_MAX = 32  # LRU bound: long-lived sessions must not accumulate


def _part_cover_np(poly: np.ndarray, zoom: int, mode: str) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of ONE polygon part → (cell_ids, boundary_mask) — the
    per-part reference the batched kernel (:func:`_parts_cover_batch`) is
    tested against. ``boundary=False`` cells are fully inside (all 4
    corners in, no edge crossing)."""
    cover = cells.cells_covering_polygon(
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


def _convex_ccw_batch(X: np.ndarray, Y: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-part ccw-convexity over (P, V) repeat-last-padded rings with
    true lengths ``lens``. The padded cross chain checks every consecutive
    real-edge pair EXCEPT (last-interior-edge × closing-edge) — zero pad
    edges sit between them — so that one turn is added explicitly with
    per-row fancy indexing (a concave-only-at-the-last-vertex ring was
    misclassified convex before; code-review r4 finding #1). A zero-length
    real edge (a repeated vertex, which OGC allows) makes a part
    non-convex: its half-plane test ``0 > 0`` would reject every point."""
    P, V = X.shape
    nxt = list(range(1, V)) + [0]
    ex, ey = X[:, nxt] - X, Y[:, nxt] - Y
    cross = ex * ey[:, nxt] - ey * ex[:, nxt]
    rows = np.arange(P)
    li = np.maximum(lens - 2, 0)  # last real edge index (v_{L-2}→v_{L-1})
    ax, ay = ex[rows, li], ey[rows, li]
    # successor of the last real edge: the closing vector v_{L-1}→v_0 for
    # open rings; for CLOSED inputs (v_{L-1}==v_0) that vector is zero and
    # the true successor is e_0
    cx_ = X[rows, 0] - X[rows, lens - 1]
    cy_ = Y[rows, 0] - Y[rows, lens - 1]
    is_closed = (cx_ == 0) & (cy_ == 0)
    bx = np.where(is_closed, ex[rows, 0], cx_)
    by = np.where(is_closed, ey[rows, 0], cy_)
    extra = ax * by - ay * bx
    # real edge j runs v_j → v_{(j+1) mod m}, m = real edge count
    m = np.maximum(lens - is_closed, 1)[:, None]
    j = np.arange(V)[None, :]
    nj = (j + 1) % m
    zero_edge = ((X[rows[:, None], nj] == X) & (Y[rows[:, None], nj] == Y) & (j < m)).any(axis=1)
    return (cross >= 0).all(axis=1) & (extra >= 0) & ~zero_edge & (
        (cross > 0).any(axis=1) | (extra > 0)
    )


def _real_edges(xs_l: list, ys_l: list) -> np.ndarray:
    """Edge count per ring: a closed ring's repeated last vertex is not an
    edge (same exact-equality rule as :func:`_edge_coefs`)."""
    return np.fromiter(
        (len(x) - (len(x) > 1 and x[0] == x[-1] and y[0] == y[-1])
         for x, y in zip(xs_l, ys_l)),
        np.int64, len(xs_l),
    )


def _cover_parts(zid: np.ndarray, pk: np.ndarray, xs_l: list, ys_l: list,
                 zoom: int, mode: str) -> pd.DataFrame:
    """The one cover kernel: ring parts (ids + vertex arrays) → rows
    ``(zone_id, part_key, cell_id, boundary, convex)``. ``convex`` =
    ccw-convex with at most ``_MAX_EDGE_COLS`` real edges — the parts the
    flat half-plane refine handles. Parts are bucketed by padded ring
    length (next power of two) so one 10^5-vertex coastline doesn't pad
    every quad in the batch to its width; pad = repeat last vertex (no-op
    edge). Degenerate empty rings get no cover."""
    lens = np.fromiter((len(a) for a in xs_l), np.int64, len(xs_l))
    flat_ok = _real_edges(xs_l, ys_l) <= _MAX_EDGE_COLS
    buckets = np.maximum(4, 1 << np.ceil(np.log2(np.maximum(lens, 1))).astype(np.int64))
    buckets[lens == 0] = 0
    out = []
    for V in np.unique(buckets[buckets > 0]):
        sel = np.flatnonzero(buckets == V)
        X = np.empty((len(sel), V), dtype=np.float64)
        Y = np.empty((len(sel), V), dtype=np.float64)
        for i, r in enumerate(sel):
            lv = lens[r]
            X[i, :lv], Y[i, :lv] = xs_l[r], ys_l[r]
            X[i, lv:], Y[i, lv:] = xs_l[r][lv - 1], ys_l[r][lv - 1]
        prow, cell_id, boundary = _parts_cover_batch(X, Y, zoom, mode)
        convex = _convex_ccw_batch(X, Y, lens[sel]) & flat_ok[sel]
        out.append(pd.DataFrame({
            "zone_id": zid[sel][prow], "part_key": pk[sel][prow],
            "cell_id": cell_id, "boundary": boundary, "convex": convex[prow],
        }))
    if not out:
        return pd.DataFrame({
            c: pd.Series(dtype=bool if c in ("boundary", "convex") else np.int64)
            for c in ("zone_id", "part_key", "cell_id", "boundary", "convex")
        })
    return pd.concat(out, ignore_index=True)


def _zone_parts(zones: list[dict]) -> tuple[np.ndarray, list, list]:
    """A zone list as flat per-part columns: zone ids, x and y vertex arrays."""
    parts = [np.asarray(p, dtype=np.float64).reshape(-1, 2) for z in zones for p in z["parts"]]
    zid = np.array([z["zone_id"] for z in zones for _ in z["parts"]], dtype=np.int64)
    return zid, [p[:, 0] for p in parts], [p[:, 1] for p in parts]


def zone_cover(zones: list[dict], zoom: int, mode: str = "center") -> pd.DataFrame:
    """Covering cells for each zone polygon (driver-side numpy; zones small).

    Returns pandas DF ``(zone_id, cell_id, boundary)`` — the projection of
    the :func:`_cover_parts` kernel onto zones; ``boundary=False`` cells are
    fully inside the polygon (all 4 corners in, no edge crossing) → rows in
    them skip exact refinement. ``mode`` is the touch duality: 'center' ≙
    ALL_TOUCHED=FALSE, 'intersects' ≙ allTouched=True (SURVEY §2.7).
    """
    zid, xs, ys = _zone_parts(zones)
    cov = _cover_parts(zid, np.arange(len(zid), dtype=np.int64), xs, ys, zoom, mode)
    # a multi-part zone may cover the same cell twice
    return (
        cov[["zone_id", "cell_id", "boundary"]]
        .sort_values(["zone_id", "cell_id"])
        .drop_duplicates(["zone_id", "cell_id"])
        .reset_index(drop=True)
    )


def zone_cover_df(rings: DataFrame, zoom: int, mode: str = "intersects") -> DataFrame:
    """Distributed twin of :func:`zone_cover`: the polygon side is a
    DataFrame ``(zone_id, part_key, xs, ys)`` — one row per ring part, ring
    vertex arrays as columns — and the :func:`_cover_parts` kernel runs as
    ``mapInPandas`` over the partitioned ring table, so a 10^7-face mesh
    (reference ``locate_faces``, ``ugrid/spatial.py:195-224``) never
    materializes on the driver. Emits the COMPACT cover ``(zone_id,
    part_key, cell_id, boundary, convex)`` — ring arrays are NOT carried
    onto the per-cell rows (a 10^5-vertex coastline × 10^4 covering cells
    would explode the cover by V×); refinement re-joins the ring table by
    (zone_id, part_key) on boundary candidates of non-convex parts only."""

    def gen(batches):
        for pdf in batches:
            cov = _cover_parts(
                pdf["zone_id"].to_numpy(dtype=np.int64),
                pdf["part_key"].to_numpy(dtype=np.int64),
                pdf["xs"].to_list(), pdf["ys"].to_list(), zoom, mode,
            )
            if len(cov):
                yield cov

    return rings.select("zone_id", "part_key", "xs", "ys").mapInPandas(gen, _COVER_SCHEMA)


def with_cell_id(points: DataFrame, zoom: int, x: str = "x", y: str = "y") -> DataFrame:
    cx, cy = cells.geo_cell_col(F.col(x), F.col(y), zoom)
    return points.withColumn("cell_id", cells.cell_id_col(cx, cy, zoom))


def _edge_coefs(rings: DataFrame, K: int) -> DataFrame:
    """Per-part half-plane coefficients as DATA columns ``e{k}_xa/ya/xb/yb``
    (k < K): edge k is real edge k mod m of the part, so parts with fewer
    than K edges repeat real edges cyclically (AND over duplicates is a
    no-op). As data, not plan text, the refine predicate is constant-size
    whatever the zone count (a per-zone CASE fell out of efficient codegen
    at 10 zones; PLANS.md §6b). Built as SQL text: one gateway call instead
    of hundreds of py4j round-trips per Column operator. Degenerate rings
    (< 2 vertices) have no interior or convex cover rows, so dropping them
    changes nothing — and keeps ANSI element_at/pmod from erroring on
    size-0 arrays."""
    cols = []
    for k in range(K):
        j, jn = f"pmod({k}, _m) + 1", f"pmod({k + 1}, _m) + 1"
        cols += [f"element_at(xs, {j}) AS e{k}_xa", f"element_at(ys, {j}) AS e{k}_ya",
                 f"element_at(xs, {jn}) AS e{k}_xb", f"element_at(ys, {jn}) AS e{k}_yb"]
    return (
        rings.where(F.size("xs") >= 2)
        .withColumn("_m", F.expr(
            "IF(element_at(xs, 1) = element_at(xs, -1)"
            " AND element_at(ys, 1) = element_at(ys, -1), size(xs) - 1, size(xs))"
        ))
        .selectExpr("zone_id", "part_key", *cols)
    )


def _halfplane(K: int, x: str, y: str) -> F.Column:
    """Strict interior of a ccw-convex part: the point lies left of each of
    its K coefficient edges (``true`` when K is 0 — no part is convex)."""
    terms = [
        f"((e{k}_xb - e{k}_xa) * (`{y}` - e{k}_ya)"
        f" - (e{k}_yb - e{k}_ya) * (`{x}` - e{k}_xa)) > 0D"
        for k in range(K)
    ]
    return F.expr(" AND ".join(terms) or "true")


@F.pandas_udf(T.BooleanType())
def _pip_rows_udf(
    px: pd.Series, py: pd.Series, pk: pd.Series, xs: pd.Series, ys: pd.Series
) -> pd.Series:
    """Ray-cast refinement where each candidate row CARRIES its ring arrays:
    rows are grouped by part inside the Arrow batch (argsort + split) so the
    ray cast runs once per polygon, vectorized over its points."""
    n = len(px)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return pd.Series(out)
    pxv, pyv, pkv = px.to_numpy(), py.to_numpy(), pk.to_numpy()
    order = np.argsort(pkv, kind="stable")
    spk = pkv[order]
    starts = np.flatnonzero(np.r_[True, spk[1:] != spk[:-1]])
    bounds = np.r_[starts, n]
    for i in range(len(starts)):
        idx = order[bounds[i] : bounds[i + 1]]
        poly = np.stack(
            [
                np.asarray(xs.iloc[idx[0]], dtype=np.float64),
                np.asarray(ys.iloc[idx[0]], dtype=np.float64),
            ],
            axis=1,
        )
        out[idx] = cells.points_in_polygon(pxv[idx], pyv[idx], poly)
    return pd.Series(out)


def _pip_core(points: DataFrame, zoom: int, x: str, y: str, cover: DataFrame,
              coefs: DataFrame, K: int, rings: "DataFrame | None") -> DataFrame:
    """cover → join → refine, shared by both front ends. The easy branch
    (``~boundary | convex``) keeps ``~boundary | halfplane``: ONE scan of
    the point side serves interior and convex-boundary rows, and every
    cover row has its coefficient row, so the inner join preserves
    multiplicity. The hard branch (``boundary & ~convex``) needs its own
    subtree because Spark evaluates an extracted pandas UDF on every row of
    its input; ``rings=None`` (no such rows) drops it."""
    cols = points.columns
    cand = with_cell_id(points, zoom, x, y).join(cover, "cell_id")
    easy = (
        cand.where(~F.col("boundary") | F.col("convex"))
        .join(coefs, ["zone_id", "part_key"])
        .where(~F.col("boundary") | _halfplane(K, x, y))
        .select(*cols, "zone_id")
    )
    if rings is None:
        return easy
    hard = (
        cand.where(F.col("boundary") & ~F.col("convex"))
        .join(rings, ["zone_id", "part_key"])
        .withColumn("_in", _pip_rows_udf(x, y, "part_key", "xs", "ys"))
        .where(F.col("_in"))
        .select(*cols, "zone_id")
    )
    return easy.unionByName(hard)


def _list_sides(spark, zones: list[dict], zoom: int) -> tuple:
    """Broadcast sides of a zone list, built on the driver by the shared
    kernel: (cover, coefficients, K, rings or None). ``part_key`` is the
    part's index and K the largest real edge count of a convex part. The
    sides are pure functions of (zones, zoom), so they are LRU-cached per
    application: the zoom-11 cover of 10 zones is ~10^5 rows and ~0.3 s of
    numpy, and checkpointed tiling calls :func:`pip_join` once per chunk."""
    h = hashlib.sha1()
    for z in zones:
        h.update(str(z["zone_id"]).encode())
        for p in z["parts"]:
            p = np.ascontiguousarray(p, dtype=np.float64)
            h.update(str(p.shape).encode() + p.tobytes())
    key = (h.hexdigest(), zoom, spark.sparkContext.applicationId)
    if key in _SIDES_CACHE:
        _SIDES_CACHE.move_to_end(key)
        return _SIDES_CACHE[key]
    zid, xs, ys = _zone_parts(zones)
    pk = np.arange(len(zid), dtype=np.int64)
    cov = _cover_parts(zid, pk, xs, ys, zoom, "intersects")
    flat = np.zeros(len(zid), dtype=bool)
    flat[cov["part_key"][cov["convex"]].to_numpy()] = True
    K = int(_real_edges(xs, ys)[flat].max(initial=0))
    rings = spark.createDataFrame(
        pd.DataFrame({"zone_id": zid, "part_key": pk,
                      "xs": [a.tolist() for a in xs], "ys": [a.tolist() for a in ys]}),
        "zone_id long, part_key long, xs array<double>, ys array<double>",
    )
    hard = bool((cov["boundary"] & ~cov["convex"]).any())
    sides = (
        F.broadcast(spark.createDataFrame(cov, _COVER_SCHEMA)),
        F.broadcast(_edge_coefs(rings, K)),
        K,
        F.broadcast(rings) if hard else None,
    )
    _SIDES_CACHE[key] = sides
    while len(_SIDES_CACHE) > _SIDES_CACHE_MAX:
        _SIDES_CACHE.popitem(last=False)
    return sides


def pip_join(
    points: DataFrame,
    zones: list[dict],
    zoom: int = 8,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """points(…, x, y) ⨝ zones → points columns + ``zone_id`` (inner join;
    misses drop — reference ``locate_faces`` returns −1 for misses ≙
    left-join variant via ``how='left'`` upstream).

    ``zones`` is a list of ``{zone_id, parts: [(V, 2) ring, …]}``. It takes
    :func:`pip_join_df`'s contract: one output row per containing part, and
    the parts of one zone must be disjoint. The driver front end of the
    shared cover → join → refine pipeline: cover, edge coefficients and
    (only when a non-convex part has boundary cells) ring table are built
    on the driver and joined as broadcast sides, so the point side is
    scanned once and never shuffled. Building the DataFrame runs no Spark
    job.
    """
    cover, coefs, K, rings = _list_sides(points.sparkSession, zones, zoom)
    return _pip_core(points, zoom, x, y, cover, coefs, K, rings)


def pip_join_df(
    points: DataFrame,
    zones_df: DataFrame,
    zoom: int = 8,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """DataFrame-native point-in-polygon join (VERDICT r3 next-round #2):
    ``zones_df`` is ``(zone_id: long, xs: array<double>, ys: array<double>)``
    — one row per ring part — so the polygon side scales past driver-sized
    zone lists to the reference's 10^7-face mesh tables (``locate_faces``,
    ``ugrid/spatial.py:195-224``). Parts of one zone must be disjoint (the
    standard multi-polygon contract); output is the points' columns +
    ``zone_id``, one row per containing part — the same as :func:`pip_join`
    on the same zones.

    The distributed front end of the shared pipeline:

    1. cover: ``mapInPandas`` over the ring table → compact
       ``(zone_id, part_key, cell_id, boundary, convex)`` rows, no driver
       pass, materialized ONCE by ``localCheckpoint`` (both refine branches
       read it; without truncation each would re-run the cover);
    2. encode: points get ``cell_id`` in pure column math (codegen);
    3. join: hash equi-join on ``cell_id`` (AQE still broadcasts a
       genuinely small cover at runtime; for repeated joins bucket both
       tables by ``cell_id``);
    4. refine: interior and convex-boundary candidates take the flat
       half-plane test over ``_MAX_EDGE_COLS`` coefficient columns built
       from the ring table; boundary candidates of other parts re-join the
       ring table and ray-cast, batched by part inside each Arrow batch.

    Building the DataFrame runs exactly one Spark job: the cover
    checkpoint.

    ``part_key`` is ``xxhash64(zone_id, xs, ys)`` — deterministic across
    task retries and cluster sizes (a monotonically_increasing_id would
    not be, breaking the resumability contract); collisions only matter
    WITHIN one zone_id (the refine joins are on both columns) so 64 bits is
    astronomically safe at 10^7 parts/zone.
    """
    rings = zones_df.select(
        "zone_id", F.xxhash64("zone_id", "xs", "ys").alias("part_key"), "xs", "ys"
    )
    cover = zone_cover_df(rings, zoom, "intersects").localCheckpoint()
    coefs = _edge_coefs(rings, _MAX_EDGE_COLS)
    return _pip_core(points, zoom, x, y, cover, coefs, _MAX_EDGE_COLS, rings)


def salt_col(n_salt: int = 16, row_source: F.Column | None = None) -> F.Column:
    """Per-ROW salt for hot-key repartitioning (north rule): append to the
    shuffle key of skewed aggregations; pair with a two-stage agg (partial
    by (key, salt), final by key). The salt must vary WITHIN a key — salting
    by a hash of the key itself would map every row of the hot key to one
    salt and spread nothing. Default source is the per-row monotonic id
    (salt values never affect results, only placement); pass a stable row
    column (e.g. doc_id) when deterministic placement matters. AQE skew-join
    splitting is ON in session.py as the runtime backstop."""
    src = row_source if row_source is not None else F.monotonically_increasing_id()
    return F.pmod(F.xxhash64(src), F.lit(n_salt))
